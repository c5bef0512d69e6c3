"""Candidate gen (J5/W3), marginalization (A1), acceptance (J7),
classification/vote (A2) unit tests."""

import math

from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.candidates import generate_candidates
from kgpipe.classify import majority_vote
from kgpipe.enrich import (
    acceptance_decisions, attach_predictions_and_decisions,
)
from kgpipe.kb import build_kb_context
from kgpipe.linking import marginalize


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


def test_score_hypotheses_inrow_equivalence(spark):
    """The r7 zero-exchange hypothesis path (attach_candidates in-row +
    on-row overlap) must reproduce score_hypotheses∘generate_candidates
    row for row — candidates, hyp text/len, float scores, beam ranks."""
    from kgpipe.candidates import generate_candidates
    from kgpipe.linking import score_hypotheses, score_hypotheses_inrow

    mentions = spark.createDataFrame(
        [("m1", "eli lilly", ["drug", "maker", "eli", "lilly", "corp"]),
         ("m2", "iker", ["iker", "of", "spain", "casillas"]),
         ("m3", "nothing", ["zz", "top"]),
         ("m4", "eli", ["eli", "alone"])],
        "mention_id string, text string, tokens array<string>")
    mc = spark.createDataFrame(
        [("eli lilly", "Q1", 10), ("eli lilly", "Q2", 3),
         ("eli", "Q3", 7), ("iker", "Q4", 2), ("iker", "Q5", 2),
         ("Eli", "Q6", 1)],
        "mention string, qid string, cnt long")
    tm = spark.createDataFrame(
        [("en", "Eli Lilly Corp", "Q1"), ("de", "Eli Lilly", "Q1"),
         ("en", "Lilly", "Q2"), ("en", "Eli", "Q3"),
         ("en", "Iker Casillas", "Q4")],
        "lang string, title string, qid string")
    old = score_hypotheses(
        generate_candidates(mentions, mc, max_candidates=2),
        mentions, tm, beam=3)
    new = score_hypotheses_inrow(mentions, mc, tm, beam=3,
                                 max_candidates=2)
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n
    assert len(n) > 0


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


def test_attach_candidates_linear_merge_stress(spark):
    """The r7 linear in-row candidate merge (sorted adjacent-pair sum,
    replacing the O(k²) per-qid filter scans) must equal
    generate_candidates on a HEAVY fan-out: many qids per surface,
    duplicate (mention, qid) source rows (pre-summed in the broadcast
    build), exact+lowercase double-hit surfaces, and tie counts."""
    from kgpipe.candidates import attach_candidates, generate_candidates

    mc_rows = []
    # surface "fat": 60 qids, with duplicate source rows for some qids
    for i in range(60):
        mc_rows.append(("fat", f"Q{i + 1}", (i * 7) % 13 + 1))
        if i % 5 == 0:
            mc_rows.append(("fat", f"Q{i + 1}", 2))  # dup (mention,qid)
    # case-variant surface: exact probe hits "Fat", lowered hits "fat"
    mc_rows.append(("Fat", "Q1", 100))
    mc = spark.createDataFrame(mc_rows, "mention string, qid string, cnt long")
    mentions = spark.createDataFrame(
        [("m1", "fat"), ("m2", "Fat"), ("m3", "miss")],
        "mention_id string, text string")

    old = generate_candidates(mentions, mc, max_candidates=10).select(
        "mention_id", "qid", "cnt", "cand_rank")
    wc = attach_candidates(mentions, mc, max_candidates=10)
    new = wc.select(
        "mention_id", F.posexplode("candidates").alias("_r0", "_c")
    ).select("mention_id", F.col("_c.qid").alias("qid"),
             F.col("_c.cnt").alias("cnt"),
             (F.col("_r0") + 1).alias("cand_rank"))
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n
    assert len(n) > 0


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
