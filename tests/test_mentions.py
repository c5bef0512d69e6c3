"""Q1 span grouping / Q2 marking / W1 ordering / gazetteer tagging."""

from datetime import datetime

from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.mentions import (
    _tag_tokens,
    build_gazetteer,
    detect_mentions_join,
    group_spans,
    tokenize,
    with_turn_order,
)


def _surfaces(spark, surfaces):
    return spark.createDataFrame([(s,) for s in surfaces], "surface string")


def test_group_spans_reference_semantics():
    # docstring example from run_genre.py:21-52
    words = ["Obama", "went", "to", "New", "York"]
    labels = ["B-OtherPER", "O", "O", "B-HumanSettlement", "I-HumanSettlement"]
    spans = group_spans(words, labels)
    assert spans == [
        {"text": "Obama", "start": 0, "end": 1,
         "fine_cat": "OtherPER", "general_cat": "Person"},
        {"text": "New York", "start": 3, "end": 5,
         "fine_cat": "HumanSettlement", "general_cat": "Location"},
    ]


def test_group_spans_flush_at_eos_and_adjacent():
    # mention at sentence end (flush path, run_genre.py:113-128) and
    # adjacent B-X B-Y with no O between
    words = ["a", "b", "c"]
    labels = ["B-Facility", "B-Station", "I-Station"]
    spans = group_spans(words, labels)
    assert [(s["text"], s["start"], s["end"]) for s in spans] == \
        [("a", 0, 1), ("b c", 1, 3)]


def test_group_spans_orphan_i():
    # orphan I- opening a sentence → IOB2 rewrite makes it a span
    spans = group_spans(["x", "y"], ["I-Disease", "O"])
    assert spans == [{"text": "x", "start": 0, "end": 1,
                      "fine_cat": "Disease", "general_cat": "Medical"}]


def test_group_spans_entity_cat():
    spans = group_spans(["x"], ["B-ENTITY"])
    assert spans[0]["general_cat"] == "ENTITY"


def test_gazetteer_longest_match():
    gaz = build_gazetteer(["eli lilly", "eli", "new york"])
    tags = _tag_tokens(["eli", "lilly", "and", "eli", "new", "york"], gaz)
    assert tags == ["B-ENTITY", "I-ENTITY", "O", "B-ENTITY", "B-ENTITY", "I-ENTITY"]


def test_with_turn_order_dedup(spark):
    rows = [
        ("c1", 0, "user", "hello there", None, datetime(2026, 1, 1, 0, 0)),
        ("c1", 0, "user", "hello there dup", None, datetime(2026, 1, 1, 0, 1)),
        ("c1", 2, "user", "second", None, datetime(2026, 1, 1, 0, 2)),
    ]
    df = spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)
    out = with_turn_order(df).orderBy("turn_idx").collect()
    assert len(out) == 2
    assert out[0]["text"] == "hello there"  # min ts kept
    assert [r["turn_order"] for r in out] == [0, 1]


def test_detect_mentions_marking(spark):
    rows = [("c1", 0, "user", "ask eli lilly about plan", None,
             datetime(2026, 1, 1))]
    df = tokenize(with_turn_order(
        spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)))
    m = detect_mentions_join(df, _surfaces(spark, ["eli lilly"])).collect()
    assert len(m) == 1
    r = m[0]
    assert (r["text"], r["start"], r["end"]) == ("eli lilly", 1, 3)
    assert r["marked_text"] == "ask [START] eli lilly [END] about plan"
    assert r["mention_id"] == "c1/0/0"


def test_mention_at_start_and_end(spark):
    rows = [("c1", 0, "user", "eli lilly spoke to iker", None,
             datetime(2026, 1, 1))]
    df = tokenize(with_turn_order(
        spark.createDataFrame(rows, schema=schemas.TRANSCRIPTS)))
    m = (detect_mentions_join(df, _surfaces(spark, ["eli lilly", "iker"]))
         .orderBy("entity_id").collect())
    assert [(r["start"], r["end"]) for r in m] == [(0, 2), (4, 5)]
    assert m[0]["marked_text"].startswith("[START] eli lilly [END]")
    assert m[1]["marked_text"].endswith("[START] iker [END]")


def test_text_equality_invariant(spark, fixture_set):
    df = tokenize(with_turn_order(fixture_set["transcripts"]))
    bad = df.filter(~F.col("text_roundtrip_ok")).count()
    assert bad == 0


def _reference_mentions(rows, surfaces):
    """The reference's stage 1 + Q1 + Q2 as plain Python: greedy
    longest-match gazetteer tags → BIO span grouping → [START]/[END]
    marking, one tuple per mention."""
    gaz = build_gazetteer(surfaces)
    out = []
    for conv_id, turn_idx, text in rows:
        toks = text.split(" ")
        spans = group_spans(toks, _tag_tokens(toks, gaz))
        for eid, sp in enumerate(spans):
            s, e = sp["start"], sp["end"]
            marked = " ".join(toks[:s] + ["[START]"] + toks[s:e] + ["[END]"]
                              + toks[e:])
            out.append((conv_id, turn_idx, eid, f"{conv_id}/{turn_idx}/{eid}",
                        sp["text"], s, e, sp["fine_cat"], sp["general_cat"],
                        marked))
    return sorted(out, key=lambda r: r[3])


def test_detect_mentions_join_equivalence(spark):
    """The distributed broadcast-join tagger must produce exactly the
    pure-Python reference's mention rows (greedy longest-match,
    overlaps, adjacency, enumeration order, marking)."""
    surfaces = ["eli lilly", "eli", "new york", "iker", "york city hall"]
    texts = [
        ("c1", 0, "eli lilly and eli met in new york"),
        # overlap chain: 'new york' beats 'york city hall' at pos 1
        ("c1", 1, "in new york city hall today"),
        # adjacency: 'eli' then 'eli lilly' with no gap
        ("c2", 0, "iker spoke then eli eli lilly"),
        ("c2", 1, "nothing here"),
    ]
    df = tokenize(with_turn_order(spark.createDataFrame(
        [(c, t, "user", x, None, datetime(2026, 1, 1)) for c, t, x in texts],
        schema=schemas.TRANSCRIPTS)))
    cols = ["conv_id", "turn_idx", "entity_id", "mention_id", "text",
            "start", "end", "fine_cat", "general_cat", "marked_text"]
    join_out = [tuple(r) for r in
                detect_mentions_join(df, _surfaces(spark, surfaces))
                .select(*cols).orderBy("mention_id").collect()]
    ref = _reference_mentions(texts, surfaces)
    assert join_out == ref
    assert len(ref) >= 6


def test_detect_mentions_join_broadcast_gate(spark):
    """The surface dim is only broadcast-hinted below the gate; forcing
    broadcast_dim=False (the KB-scale path: AQE decides) must produce
    identical mentions."""
    df = tokenize(with_turn_order(spark.createDataFrame(
        [("c1", 0, "user", "barack obama met angela merkel", None, None)],
        "conv_id string, turn_idx int, role string, text string,"
        " tool string, ts timestamp")))
    surf = spark.createDataFrame(
        [("barack obama",), ("angela merkel",)], "surface string")
    cols = ["conv_id", "turn_idx", "entity_id", "text", "start", "end"]
    hinted = {tuple(r) for r in
              detect_mentions_join(df, surf, broadcast_dim=True)
              .select(*cols).collect()}
    unhinted = {tuple(r) for r in
                detect_mentions_join(df, surf, broadcast_dim=False)
                .select(*cols).collect()}
    auto = {tuple(r) for r in detect_mentions_join(df, surf)
            .select(*cols).collect()}
    assert hinted == unhinted == auto
    assert len(hinted) == 2
