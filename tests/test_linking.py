"""Candidate gen (J5/W3), marginalization (A1), acceptance (J7),
classification/vote (A2) unit tests."""

import math
import re

from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.candidates import generate_candidates
from kgpipe.classify import majority_vote
from kgpipe.enrich import (
    acceptance_decisions, attach_predictions_and_decisions,
)
from kgpipe.kb import build_kb_context
from kgpipe.linking import marginalize, score_hypotheses


def test_candidate_topk_and_tiebreak(spark):
    mentions = spark.createDataFrame(
        [("m1", "foo"), ("m2", "unknown")], "mention_id string, text string"
    )
    mc = spark.createDataFrame(
        [("foo", "Q1", 10), ("foo", "Q2", 10), ("foo", "Q3", 30),
         ("foo", "Q4", 1), ("foo", "Q5", 2)],
        schema=schemas.MENTION_COUNTS,
    )
    out = generate_candidates(mentions, mc, max_candidates=3).collect()
    by_m = sorted([(r["qid"], r["cand_rank"], r["cnt"]) for r in out])
    # lowercase pass doubles every count (foo is already lowercase);
    # tie between Q1/Q2 broken by numeric QID asc
    assert by_m == [("Q1", 2, 20), ("Q2", 3, 20), ("Q3", 1, 60)]


def test_candidate_lowercase_union(spark):
    mentions = spark.createDataFrame([("m1", "Foo")],
                                     "mention_id string, text string")
    mc = spark.createDataFrame([("Foo", "Q1", 5), ("foo", "Q1", 7)],
                               schema=schemas.MENTION_COUNTS)
    out = generate_candidates(mentions, mc).collect()
    assert out[0]["cnt"] == 12  # exact + lowered summed


def test_marginalize_logsumexp(spark):
    lenpen = 0.5
    rows = [
        ("m1", "Q1", "A >> en", 3, -1.0, 1),
        ("m1", "Q1", "B >> en", 3, -2.0, 2),
        ("m1", "Q2", "C >> en", 4, -0.5, 3),
    ]
    df = spark.createDataFrame(
        rows, "mention_id string, qid string, hyp_text string,"
              " hyp_len int, hyp_score double, beam_rank int"
    )
    out = {r["qid"]: r for r in marginalize(df, lenpen=lenpen).collect()}

    def lse(pairs):
        adj = [s * l / (l ** lenpen) for s, l in pairs]
        mx = max(adj)
        return mx + math.log(sum(math.exp(a - mx) for a in adj))

    assert abs(out["Q1"]["score"] - lse([(-1.0, 3), (-2.0, 3)])) < 1e-12
    assert abs(out["Q2"]["score"] - lse([(-0.5, 4)])) < 1e-12
    assert out["Q2"]["rank"] == 1 and out["Q1"]["rank"] == 2
    assert out["Q1"]["texts"] == ["A >> en", "B >> en"]  # score-desc order


def _enrich_fixture(spark):
    kb_rows = [
        ("Q1", {"en": "One", "de": "Eins"}, {"en": "politician d", "de": "pol d"},
         {"en": "One"}, {}),
        ("Q2", {"de": "Zwei"}, {"de": "zwei d"}, {"de": "Zwei (de)"}, {}),
        ("Q3", {"en": "Dis"}, {"en": "Wikimedia disambiguation page"},
         {"en": "Dis"}, {}),
    ]
    kb = spark.createDataFrame(kb_rows, schema=schemas.ENTITY_KB)
    args = spark.createDataFrame([("Q1", "P31", "Q2", 0)], schema=schemas.KB_ARGS)
    ctx = build_kb_context(kb, args)
    summaries = spark.createDataFrame([("One", "the one summary")],
                                      schema=schemas.WIKI_SUMMARIES)
    return ctx, summaries


def _enrich(linked, ctx, summaries, language):
    """The pipeline's enrichment composition over a slim
    (mention_id, genre_prediction) frame: one enriched row per mention."""
    return attach_predictions_and_decisions(
        linked.select("mention_id"), linked,
        acceptance_decisions(linked, ctx, summaries, language))


def test_acceptance_rank_order_and_disambig_skip(spark):
    ctx, summaries = _enrich_fixture(spark)
    linked = spark.createDataFrame(
        [("m1", ["Q3", "Q1"]),   # rank-1 disambig → falls through to Q1
         ("m2", ["Q2"]),         # no en coverage → sentinels at lang=en
         ("m3", ["Q0"])],        # sentinel candidate
        "mention_id string, genre_prediction array<string>",
    )
    out = {r["mention_id"]: r
           for r in _enrich(linked, ctx, summaries, "en").collect()}
    m1 = out["m1"]
    assert m1["link_qid"] == "Q1" and m1["accepted_lang"] == "en"
    assert m1["wikidata_summary"] == "politician d"
    assert m1["wikipedia_title"] == "One"
    assert m1["wikipedia_summary"] == "the one summary"
    # arguments: Q2's label in en missing → filtered out (get_wikidata.py:186-188)
    assert m1["wikidata_arguments"] == []

    m2 = out["m2"]
    assert m2["link_qid"] == "Q0"
    assert m2["wikidata_summary"] == schemas.NO_WIKIDATA_SUMMARY
    assert m2["wikipedia_title"] == schemas.NO_WIKIPEDIA_TITLE
    assert m2["wikipedia_summary"] == schemas.NO_WIKIPEDIA_SUMMARY
    assert out["m3"]["link_qid"] == "Q0"


def test_acceptance_en_fallback(spark):
    ctx, summaries = _enrich_fixture(spark)
    linked = spark.createDataFrame(
        [("m1", ["Q1"]), ("m2", ["Q2", "Q1"])],
        "mention_id string, genre_prediction array<string>",
    )
    out = {r["mention_id"]: r
           for r in _enrich(linked, ctx, summaries, "de").collect()}
    # Q1 has de coverage → accepted in de, arguments use de labels
    m1 = out["m1"]
    assert m1["accepted_lang"] == "de" and m1["wikidata_summary"] == "pol d"
    assert m1["wikidata_arguments"] == ["Zwei"]
    # m2: Q2 covered in de → accepted at rank 1 in requested language
    assert out["m2"]["link_qid"] == "Q2"


def test_en_fallback_when_requested_lang_uncovered(spark):
    ctx, summaries = _enrich_fixture(spark)
    linked = spark.createDataFrame(
        [("m1", ["Q1"])], "mention_id string, genre_prediction array<string>"
    )
    # fr never covered; Q1 has en → EN fallback (get_wikidata.py:192-201)
    out = _enrich(linked, ctx, summaries, "fr").collect()[0]
    assert out["accepted_lang"] == "en" and out["link_qid"] == "Q1"


def test_majority_vote_tiebreak(spark):
    df = spark.createDataFrame(
        [("k1", "B-X"), ("k1", "B-X"), ("k1", "O"),
         ("k2", "B-Y"), ("k2", "O")],
        "k string, label string",
    )
    out = {r["k"]: r["voted_label"]
           for r in majority_vote(df, ["k"], "label").collect()}
    assert out["k1"] == "B-X"
    assert out["k2"] == "B-Y"  # tie → label asc ("B-Y" < "O")


def test_slim_foldback_equivalence(spark):
    """The slim fold-back (predictions_frame + terminal
    attach_predictions_and_decisions) is row-identical to feeding the
    decision stage the ["Q0"]-sentinel rows explicitly, INCLUDING the
    zero-candidate path: m0 never reaches `ranked`, so the attach must
    reconstruct the constant decision row the sentinel would have
    produced, and keep the decision columns nullable."""
    from kgpipe.linking import predictions_frame

    ctx, summaries = _enrich_fixture(spark)
    mentions = spark.createDataFrame(
        [("m0", "zero cand", "x"), ("m1", "ok", "y"), ("m2", "de only", "z")],
        "mention_id string, text string, marked_text string",
    )
    ranked = spark.createDataFrame(
        [("m1", "Q3", -0.5, 1), ("m1", "Q1", -1.0, 2), ("m2", "Q2", -0.2, 1)],
        "mention_id string, qid string, score double, rank int",
    )

    preds = predictions_frame(ranked)
    sentinel = preds.unionByName(spark.createDataFrame(
        [("m0", ["Q0"])], "mention_id string, genre_prediction array<string>"))
    old = attach_predictions_and_decisions(
        mentions, sentinel,
        acceptance_decisions(sentinel, ctx, summaries, "en"))
    new = attach_predictions_and_decisions(
        mentions, preds, acceptance_decisions(preds, ctx, summaries, "en"))

    assert old.columns == new.columns
    assert old.schema == new.schema
    assert all(new.schema[c].nullable for c in (
        "wikidata_summary", "wikidata_arguments", "arg_pairs",
        "wikipedia_title", "wikipedia_summary"))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # the sentinel row itself, explicitly
    m0 = {r["mention_id"]: r for r in new.collect()}["m0"]
    assert m0["genre_prediction"] == ["Q0"]
    assert m0["link_qid"] == "Q0"
    assert m0["accepted_qid"] is None and m0["accepted_lang"] is None
    assert m0["wikidata_summary"] == schemas.NO_WIKIDATA_SUMMARY
    assert m0["wikidata_arguments"] == [] and m0["arg_pairs"] == []
    assert m0["wikipedia_title"] == schemas.NO_WIKIPEDIA_TITLE
    assert m0["wikipedia_summary"] == schemas.NO_WIKIPEDIA_SUMMARY


def test_candidates_once_per_distinct_text(spark):
    """Candidates are looked up once per distinct mention text: 100
    mentions over 2 texts at a fan-out of 60 QIDs give at most
    2 × max_candidates candidate rows, not one list per mention."""
    mc = spark.createDataFrame(
        [("fat", f"Q{i + 1}", (i * 7) % 13 + 1) for i in range(60)]
        + [("Fat", "Q1", 100)], schema=schemas.MENTION_COUNTS)
    mentions = spark.createDataFrame(
        [(f"m{i}", "fat" if i % 2 else "Fat") for i in range(100)],
        "mention_id string, text string")
    out = generate_candidates(mentions, mc, max_candidates=8).collect()
    assert len(out) <= 2 * 8
    assert sorted(r["text"] for r in out) == ["Fat"] * 8 + ["fat"] * 8


def test_linking_plan_broadcasts_candidates_per_text(spark, fixture_set):
    """The linking chain as run_pipeline's link() builds it on the
    fixture: the per-text candidate table enters through a broadcast
    hash join on `text`, no join shuffles the token-bearing mention rows
    on mention_id, an all-ASCII norm_mention plans no Python UDF, and
    the chain keeps its 5 shuffle exchanges: the distinct texts (once
    per probe branch), the (text, qid) groupBy, the top-k window and the
    beam window. Without the broadcast hint the text join is a
    sort-merge join with a sixth exchange."""
    from kgpipe.mentions import detect_mentions_join, tokenize, with_turn_order
    from kgpipe.pipeline import build_dims

    fx = fixture_set
    dims = build_dims(spark, fx["entity_kb"], fx["kb_args"],
                      fx["mention_counts"], fx["wiki_summaries"])
    turns = tokenize(with_turn_order(fx["transcripts"])).select(
        "conv_id", "turn_idx", "tokens").localCheckpoint(eager=True)
    m = detect_mentions_join(
        turns, dims["surfaces_df"],
        broadcast_dim=dims["surfaces_broadcastable"],
    ).drop("tokens").localCheckpoint(eager=True)
    m_tok = m.join(turns, ["conv_id", "turn_idx"])
    cands = generate_candidates(m.withColumn("norm_mention", F.col("text")),
                                fx["mention_counts"])
    assert dims["surfaces_broadcastable"]
    cands = F.broadcast(cands)  # the tagger's decision, as link() applies it
    plan = score_hypotheses(cands, m_tok, dims["title_map"]) \
        ._jdf.queryExecution().executedPlan().toString()

    assert re.search(
        r"BroadcastHashJoin \[text#\d+\], \[text#\d+\], Inner, BuildRight",
        plan), plan
    assert not re.search(r"Join \[[^\]]*mention_id#", plan), plan
    assert "EvalPython" not in plan
    assert len(re.findall(r"(?<!Broadcast)Exchange ", plan)) == 5, plan


def test_classifier_scores_match_python_argmax(spark):
    """The SQL-text keyword scorer equals a plain-Python argmax over
    the feature tokens: keyword-hit count desc, category asc on ties,
    FALLBACK_LABEL with score 0 when nothing hits."""
    from kgpipe.classify import DEFAULT_KEYWORDS, FALLBACK_LABEL, _with_scores

    texts = [
        "the Drink and drink DRINK with food",       # clear winner: 3 hits
        "food drink",                                # 1-1 tie → Drink < Food
        "athlete artist athlete artist politician",  # 2-2 tie → Artist
        "nothing to see here",                       # zero hits → fallback
        "medication-vaccine medication-vaccine org",  # '-' keyword
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)),
                               "id long, feature_text string")
    out = _with_scores(df, DEFAULT_KEYWORDS)
    assert out.schema["pred_label"].dataType.simpleString() == "string"
    assert out.schema["pred_score"].dataType.simpleString() == "bigint"
    got = {r["id"]: (r["pred_label"], r["pred_score"]) for r in out.collect()}

    def argmax(text):
        toks = text.lower().split(" ")
        neg, cat = min((-toks.count(kw), cat)
                       for cat, kw in DEFAULT_KEYWORDS.items())
        return cat, -neg

    assert got == {i: argmax(t) for i, t in enumerate(texts)}
    assert got[1] == ("Drink", 1) and got[2] == ("Artist", 2)
    assert got[3] == (FALLBACK_LABEL, 0) and got[5] == (FALLBACK_LABEL, 0)
