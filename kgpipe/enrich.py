"""KB enrichment: J7 first-candidate-with-coverage acceptance with EN
fallback + sentinels, J6 argument expansion, summary lookup
(SURVEY.md §2.4; reference get_wikidata.py:102-203, 239-276).

Reference semantics: iterate the ranked QID list; accept the first
whose KB entry has BOTH a title and a description in the requested
language (disambiguation pages were blanked and so never match); if
none, rerun the whole iteration with lang='en'; if still none, emit
sentinels. Arguments are the per-edge labels in the accepted language,
in P31→P106→P279 edge order.

Spark-first: posexplode the prediction list, one broadcast join against
the `kb_context` dim (the reference's JSON cache as a table — no
network), then an argmin-by-rank aggregation per mention. min() over a
struct keyed by candidate position gives "first accepted" exactly; the
EN pass is a second conditional aggregation in the same groupBy, so the
whole stage is one shuffle on mention_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe.schemas import (
    NO_WIKIDATA_SUMMARY,
    NO_WIKIPEDIA_SUMMARY,
    NO_WIKIPEDIA_TITLE,
    Q0,
)


def summary_dim(wiki_summaries: DataFrame) -> DataFrame:
    """The deduplicated per-title summary dim the decisions stage
    broadcasts: the reference cache is a dict keyed by title
    (get_wikidata.py:218), so enforce one summary per title
    deterministically (min). Built here so build_dims can materialize
    it ONCE with the other dims — otherwise the groupBy runs inside the
    broadcast build of every decisions-stage plan, a measured serial
    driver-side window in the scaling event logs (the AQE broadcast
    build blocks the whole query until the aggregation finishes)."""
    return (
        wiki_summaries.groupBy(F.col("title").alias("wikipedia_title"))
        .agg(F.min("summary").alias("summary"))
    )


def acceptance_decisions(
    linked: DataFrame,
    kb_context: DataFrame,
    wiki_summaries: DataFrame,
    language: str = "en",
    summaries_dim: DataFrame | None = None,
) -> DataFrame:
    """The per-mention acceptance/enrichment decision frame (one row
    per mention_id): accepted_qid, accepted_lang, wikidata_summary,
    wikidata_arguments, arg_pairs, wikipedia_title, wikipedia_summary.

    Kept apart from the terminal attach so callers can materialize it
    before the fold-back join — the fused decision+join plan degrades
    ~3× at high parallelism (same pathology as the linking stage, see
    pipeline.py)."""
    if language == "multi":  # get_wikidata.py:355-359
        language = "en"

    exploded = linked.select(
        "mention_id", F.posexplode("genre_prediction").alias("pos", "qid")
    )
    ctx = exploded.join(F.broadcast(kb_context), "qid", "left")

    def covered(lang: str):
        return (
            F.map_contains_key(F.col("titles"), F.lit(lang))
            & F.map_contains_key(F.col("descriptions"), F.lit(lang))
        )

    payload = F.struct(
        F.col("pos"), F.col("qid"),
        F.col("descriptions"), F.col("arguments"), F.col("titles"),
    )
    # min_by with a NULL ordering key skips the row → "first accepted
    # candidate" = min_by(payload, pos | covered). (min(struct) can't
    # order structs containing maps.)
    agg = ctx.groupBy("mention_id").agg(
        F.min_by(payload, F.when(covered(language), F.col("pos"))).alias("acc_req"),
        F.min_by(payload, F.when(covered("en"), F.col("pos"))).alias("acc_en"),
    )

    use_en = F.col("acc_req").isNull() & F.lit(language != "en")
    acc = F.when(use_en, F.col("acc_en")).otherwise(F.col("acc_req"))
    lang_used = F.when(use_en, F.lit("en")).otherwise(F.lit(language))

    decided = agg.select(
        "mention_id",
        acc.alias("acc"),
        F.when(acc.isNotNull(), lang_used).alias("accepted_lang"),
    ).select(
        "mention_id",
        F.col("acc.qid").alias("accepted_qid"),
        F.col("accepted_lang"),
        F.when(
            F.col("acc").isNotNull(),
            F.element_at(F.col("acc.descriptions"), F.col("accepted_lang")),
        ).otherwise(F.lit(NO_WIKIDATA_SUMMARY)).alias("wikidata_summary"),
        F.when(
            F.col("acc").isNotNull(),
            F.expr(
                "transform(filter(acc.arguments,"
                " a -> map_contains_key(a.labels, accepted_lang)),"
                " a -> a.labels[accepted_lang])"
            ),
        ).otherwise(F.array().cast("array<string>")).alias("wikidata_arguments"),
        F.when(
            F.col("acc").isNotNull(),
            F.expr(
                "transform(filter(acc.arguments,"
                " a -> map_contains_key(a.labels, accepted_lang)),"
                " a -> struct(a.prop as prop, a.labels[accepted_lang] as label))"
            ),
        ).otherwise(F.expr("array()").cast(
            "array<struct<prop:string,label:string>>")).alias("arg_pairs"),
        F.when(
            F.col("acc").isNotNull(),
            F.element_at(F.col("acc.titles"), F.col("accepted_lang")),
        ).otherwise(F.lit(NO_WIKIPEDIA_TITLE)).alias("wikipedia_title"),
    )

    # Wikipedia summary: dim join replaces the MediaWiki REST call (S7);
    # the "No wikipedia title" → "No wikipedia summary found" row is
    # pre-seeded in the reference cache (get_wikidata.py:218). Pass
    # `summaries_dim` (build_dims materializes it) so the broadcast
    # build collects a checkpointed table instead of running the
    # dedup aggregation serially inside the build.
    summ = F.broadcast(
        summaries_dim if summaries_dim is not None
        else summary_dim(wiki_summaries)
    )
    with_summary = (
        decided.join(summ, "wikipedia_title", "left")
        .withColumn(
            "wikipedia_summary",
            F.when(
                F.col("wikipedia_title") == NO_WIKIPEDIA_TITLE,
                F.lit(NO_WIKIPEDIA_SUMMARY),
            ).otherwise(F.coalesce("summary", F.lit(NO_WIKIPEDIA_SUMMARY))),
        )
        .drop("summary")
    )
    return with_summary


def attach_predictions_and_decisions(mentions: DataFrame,
                                     predictions: DataFrame,
                                     decisions: DataFrame) -> DataFrame:
    """Terminal wide attach (r7): fold BOTH the slim per-mention
    prediction frame (linking.predictions_frame) and the decision frame
    onto the mention rows in one join chain keyed on mention_id — the
    wide mention rows (marked_text etc.) cross exactly ONE exchange,
    where the r6 shape shuffled them twice (fold-back join, then the
    decisions attach) with a ~150 MB-at-sf1.0 stage-cut materialization
    in between.

    A mention absent from `predictions` had zero surviving candidates.
    Its decision row is the constant one a ["Q0"] prediction yields
    (Q0 is never in kb_context: acc NULL → sentinel summaries/titles,
    empty argument arrays), re-added here via coalesce, so feeding
    acceptance_decisions the slim frame (which simply lacks those
    mentions) gives the same enriched table (sentinel pytest + q25
    oracle hash).

    Both small sides take the shuffle_hash hint: the decisions side
    carries long summary strings, so its parquet footprint wildly
    underestimates its in-memory size — Spark's static planner once
    chose a driver broadcast of an ~8 MB file at 1.2M turns, a measured
    12.7 s serial stall (BENCH/BASELINE.md). Per-mention rows stream
    through executors instead, with no driver collect.

    The sentinel literals ride inside when(true, …) so the coalesced
    columns stay NULLABLE, like the left-joined decision columns of
    the mentions that do have predictions."""
    def _n(c):  # keep nullable=True like the left-join columns. A foldable
        # always-true guard gets simplified away by the analyzer, so
        # the condition references a non-null column: length() of a
        # concat_ws is ≥ 0 on every row, the branch always fires, and
        # CaseWhen-without-else stays nullable. Coalesce evaluates
        # lazily, so the guard only runs on the sentinel rows.
        return F.when(
            F.length(F.concat_ws("", F.col("mention_id"))) >= 0, c)

    return (
        mentions
        .join(predictions.hint("shuffle_hash"), "mention_id", "left")
        .join(decisions.hint("shuffle_hash"), "mention_id", "left")
        .withColumn("genre_prediction",
                    F.coalesce("genre_prediction", F.array(F.lit(Q0))))
        .withColumn("wikidata_summary",
                    F.coalesce("wikidata_summary",
                               _n(F.lit(NO_WIKIDATA_SUMMARY))))
        .withColumn("wikidata_arguments",
                    F.coalesce("wikidata_arguments",
                               _n(F.array().cast("array<string>"))))
        .withColumn("arg_pairs",
                    F.coalesce("arg_pairs", _n(F.expr("array()").cast(
                        "array<struct<prop:string,label:string>>"))))
        .withColumn("wikipedia_title",
                    F.coalesce("wikipedia_title",
                               _n(F.lit(NO_WIKIPEDIA_TITLE))))
        .withColumn("wikipedia_summary",
                    F.coalesce("wikipedia_summary",
                               _n(F.lit(NO_WIKIPEDIA_SUMMARY))))
        .withColumn("link_qid", F.coalesce("accepted_qid", F.lit(Q0)))
    )
