"""Entity linking: hypothesis scoring + per-QID marginalization + rank
(SURVEY.md §2.5 A1, §2.6 W2; reference run_genre.py:265-295 +
GENRE/genre/utils.py:491-535).

The reference's constrained beam search produces ≤`beam` hypotheses
"<title> >> <lang>" per mention, maps each to a QID, then marginalizes
scores per QID with logsumexp(score·len/len^lenpen) and sorts desc.

One linking path: generate_candidates computes the top-k candidates
once per distinct mention text; score_hypotheses joins them onto the
token-bearing mention rows on `text` and scores each hypothesis there.

Sandbox stand-in for the neural scorer: a deterministic closed-form
score over (context, candidate title, anchor-count prior) — the same
I/O contract (per-mention ranked hypothesis list), implemented entirely
with JVM-side column expressions so the whole stage is
whole-stage-codegen'd; no Python in the hot path.

Deterministic tiebreaks (the reference inherits dict/beam order):
hypothesis cap — score desc then hyp text asc; QID rank — marginal
score desc then numeric QID asc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgpipe.kb import qid_num

MARGINALIZE_LENPEN = 0.5  # fairseq_model.py:27 default
DEFAULT_BEAM = 8  # run_genre.py:227


def score_hypotheses(
    candidates: DataFrame,
    mentions: DataFrame,
    title_map: DataFrame,
    beam: int = DEFAULT_BEAM,
) -> DataFrame:
    """(text, qid, cnt) per distinct mention text (generate_candidates)
    × token-bearing mention rows × title_map → ≤beam scored hypotheses
    per mention.

    score = 0.9·ln(1+cnt) + 1.5·overlap(context, title) − 0.35·len − 3
    where len = token count of "<title> >> <lang>" (as the beam length
    enters the reference's marginalization) and overlap is the fraction
    of title tokens present in the turn.

    The candidates join the mention rows on `text`, so each mention
    inherits its text's list and is scored while its token array is
    still ON the row; the only exchange after the candidate table is
    the beam window, which carries slim rows. The caller decides
    whether the candidate table is broadcast (run_pipeline: when the
    surface dim is, since the distinct texts are a subset of the
    surfaces).
    """
    # array_distinct ONCE per mention, below the join: overlap counts
    # DISTINCT common tokens either way (array_intersect dedups), and
    # the per-hypothesis array_intersect then scans fewer elements
    # (guide §2.3)
    m = mentions.select("mention_id", "text",
                        F.array_distinct("tokens").alias("tokens"))
    # hyp_text / hyp_len / title_tokens depend only on the title row,
    # so they are derived ON THE DIM under the broadcast — once per
    # (qid, lang) instead of once per hypothesis row (guide §3.1
    # "enrich the build side")
    tdim = (
        title_map
        .withColumn("hyp_text", F.concat_ws(" >> ", F.col("title"),
                                            F.col("lang")))
        .withColumn("hyp_len", F.size(F.split(F.col("hyp_text"), " ")))
        .withColumn("title_tokens", F.split(F.lower(F.col("title")), " "))
        .select("qid", "hyp_text", "hyp_len", "title_tokens")
    )
    hyp = (
        m.join(candidates, "text")
        .join(F.broadcast(tdim), "qid")
        .withColumn(
            "overlap",
            F.size(F.array_intersect(F.col("tokens"), F.col("title_tokens")))
            / F.size(F.col("title_tokens")),
        )
        .withColumn(
            "hyp_score",
            F.lit(0.9) * F.log(F.lit(1.0) + F.col("cnt"))
            + F.lit(1.5) * F.col("overlap")
            - F.lit(0.35) * F.col("hyp_len")
            - F.lit(3.0),
        )
        # slim BEFORE the window exchange (guide §2.3)
        .select("mention_id", "qid", "hyp_text", "hyp_len", "hyp_score")
    )
    w = Window.partitionBy("mention_id").orderBy(
        F.col("hyp_score").desc(), F.col("hyp_text").asc()
    )
    return (
        hyp.withColumn("beam_rank", F.row_number().over(w))
        .filter(F.col("beam_rank") <= beam)
        .select("mention_id", "qid", "hyp_text", "hyp_len", "hyp_score",
                "beam_rank")
    )


def score_hypotheses_inrow(
    mentions: DataFrame,
    mention_counts: DataFrame,
    title_map: DataFrame,
    beam: int = DEFAULT_BEAM,
    max_candidates: int = 8,
) -> DataFrame:
    """score_hypotheses ∘ generate_candidates on token-bearing mention
    rows. Kept only for perfbench (tracing.py and tests/test_gen.py
    import it); run_pipeline composes the two itself."""
    from kgpipe.candidates import generate_candidates

    return score_hypotheses(
        generate_candidates(mentions, mention_counts, max_candidates),
        mentions, title_map, beam)


def marginalize(hypotheses: DataFrame,
                lenpen: float = MARGINALIZE_LENPEN,
                details: bool = True) -> DataFrame:
    """A1 per-QID beam marginalization (post_process_wikidata,
    GENRE/genre/utils.py:507-533):

      score(qid) = logsumexp_i( s_i · len_i / len_i^lenpen )

    Two-pass logsumexp as pure expressions: group max, then
    log(Σ exp(x − max)) + max — no UDF, map-side partial agg applies.
    Output: (mention_id, qid[, texts, scores], score, rank).

    details=False is the PIPELINE shape: the per-QID hypothesis
    texts/scores arrays are diagnostics nobody downstream of linking
    consumes (predictions_frame folds only (rank, qid)), yet with
    details=True they ride the collect_list structs, the rank-window
    sort and the fold-back shuffle — measured ~300 extra bytes/row
    through the three heaviest spill stages of the 1.2M-turn scaling
    runs. The slim variant drops the hyp_score struct field and the
    texts/scores outputs; `score` stays BIT-identical because the fold
    order is unchanged: the array_sort keys (neg, hyp_text) already
    order the group totally — equal (neg, hyp_text) implies an
    identical hypothesis row, so the dropped tiebreak fields never
    decided an ordering."""
    adj = hypotheses.withColumn(
        "adj_score",
        F.col("hyp_score") * F.col("hyp_len")
        / F.pow(F.col("hyp_len"), F.lit(lenpen)),
    )
    hyp_struct = (
        F.struct((-F.col("hyp_score")).alias("neg"), "hyp_text",
                 "hyp_score", "adj_score")
        if details else
        F.struct((-F.col("hyp_score")).alias("neg"), "hyp_text",
                 "adj_score")
    )
    grouped = adj.groupBy("mention_id", "qid").agg(
        F.max("adj_score").alias("mx"),
        F.array_sort(F.collect_list(hyp_struct)).alias("hyps"),
    )
    detail_cols = (
        [F.expr("transform(hyps, h -> h.hyp_text)").alias("texts"),
         F.expr("transform(hyps, h -> h.hyp_score)").alias("scores")]
        if details else []
    )
    marg = grouped.select(
        "mention_id", "qid",
        *detail_cols,
        (
            F.col("mx")
            + F.log(F.expr(
                "aggregate(hyps, cast(0.0 as double),"
                " (acc, h) -> acc + exp(h.adj_score - mx))"
            ))
        ).alias("score"),
    )
    w = Window.partitionBy("mention_id").orderBy(
        F.col("score").desc(), qid_num(F.col("qid")).asc()
    )
    return marg.withColumn("rank", F.row_number().over(w))


def predictions_frame(ranked: DataFrame) -> DataFrame:
    """The slim (mention_id, genre_prediction) fold of the ranked QIDs:
    genre_prediction = [qid by rank asc]. Mentions with zero surviving
    candidates are ABSENT here (enrich.attach_predictions_and_decisions
    gives them the ["Q0"] sentinel, the terminal rung of the
    reference's error ladder, run_genre.py:296-364). Split out in r7 so the
    pipeline can cut/materialize THIS frame (~10 B/mention) instead of
    the wide fold-back join output (~300+ B/mention with marked_text):
    the decision stage consumes only these two columns, so the wide
    mention rows then cross a single exchange — in the terminal
    attach — instead of two (guide §2.3)."""
    return ranked.groupBy("mention_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rank, qid))), x -> x.qid)"
        ).alias("genre_prediction")
    )
