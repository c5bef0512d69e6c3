"""Entity classification + majority vote (SURVEY.md §2.5 A2, §3.3;
reference run_text_classification.py + dataset.py).

Feature assembly follows dataset.py:40-56 exactly:
  "... [START_ENT] mention [END_ENT] ... [TAB] wikidata_summary [TAB]
   arg1, arg2 [TAB] wikipedia_summary"

The XLM-R 36-way classifier is replaced by a deterministic keyword
scorer with the same I/O contract: per category, count occurrences of
its keyword among the feature tokens; argmax with a documented
deterministic tiebreak (count desc, category name asc — the reference's
Python-set tiebreak at run_tokenclass.py:55-58 is nondeterministic).
The scorer is a pure column expression (36 filter/size subexpressions +
array_min over structs) — zero shuffle, whole-stage codegen, no UDF.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgpipe.tags import FINE_CATEGORIES

DEFAULT_KEYWORDS: Dict[str, str] = {
    c: c.lower().replace("/", "-") for c in FINE_CATEGORIES
}


def assemble_features(enriched: DataFrame) -> DataFrame:
    """dataset.py:40-56 feature string; [START]/[END] markers become the
    classification variant [START_ENT]/[END_ENT] (dataset.py:42-44)."""
    marked_ent = F.regexp_replace(
        F.regexp_replace(F.col("marked_text"), r"\[START\]", "[START_ENT]"),
        r"\[END\]", "[END_ENT]",
    )
    return enriched.withColumn(
        "feature_text",
        F.concat(
            marked_ent,
            F.lit(" [TAB] "), F.col("wikidata_summary"),
            F.lit(" [TAB] "), F.concat_ws(", ", F.col("wikidata_arguments")),
            F.lit(" [TAB] "), F.col("wikipedia_summary"),
        ),
    )


FALLBACK_LABEL = sorted(DEFAULT_KEYWORDS)[0]  # zero keyword hits →
# lexicographically-first category (identical to the argmax-with-
# tiebreak outcome when every count is zero)


def _with_scores(feats: DataFrame, keywords: Dict[str, str]) -> DataFrame:
    """Append (pred_label, pred_score) as a pure map-side expression —
    no explode, no dim join, no aggregation, no shuffle (r7).

    Per category the keyword-hit count is `size(toks) −
    size(array_remove(toks, kw))` (array_remove drops every occurrence,
    so the size delta IS the multiset count); the argmax with the
    (count desc, category asc) tiebreak is array_min over the 36
    (−count, category) structs. A mention with zero hits everywhere
    argmaxes to the lexicographically-first category = FALLBACK_LABEL
    with score 0 — exactly the old absent-row + coalesce outcome, so
    the function is TOTAL and needs no fold-back join.

    The token array is materialized in its own projection and must not
    be collapsed into the 72-reference scorer projection (Catalyst
    would re-inline the split+lower per reference — measured 13×
    slower). CollapseProject already refuses to duplicate a non-cheap
    multiply-referenced alias; the nondeterministic _nocollapse column
    is a second, explicit guard. Measured vs the r6 explode +
    broadcast-join + two-groupBy scorer: 2.46 s → 0.59 s warm on a
    450k-mention corpus, and the classified stage loses its exchanges.
    (The r2-r6 explode+join shape replaced an even earlier 36×
    size(filter(...)) variant that took Catalyst ~60 s to optimize;
    array_remove has no lambda, so this plans in milliseconds.)"""
    # keep only tokens that are SOME category's keyword before the 36
    # per-category array_remove passes: membership is one hashed InSet
    # probe per token, and the surviving array is typically a handful
    # of elements, so the 36 removes scan ~5 items instead of ~150.
    # Counts are IDENTICAL — a non-keyword token never matches any
    # category's array_remove, so dropping it changes no size delta.
    # Both expressions are built as SQL text and parsed once: the
    # Column-API form cost ~3.9k py4j round trips per call (measured
    # on 2k rows at local[4]: plan build 0.50-0.64 s → 0.07-0.09 s,
    # identical labels and schema).
    kws = ", ".join(_sql_str(k) for k in sorted(set(keywords.values())))
    tokd = (
        feats.withColumn("_toks", F.expr(
            f"filter(split(lower(feature_text), ' '), x -> x IN ({kws}))"))
        .withColumn("_nocollapse", F.monotonically_increasing_id())
    )
    terms = ", ".join(
        f"named_struct('neg', size(array_remove(_toks, {_sql_str(kw)}))"
        f" - size(_toks), 'category', {_sql_str(cat)})"
        for cat, kw in sorted(keywords.items()))
    return (
        tokd.withColumn("_best", F.expr(f"array_min(array({terms}))"))
        .withColumn("pred_label", F.col("_best.category"))
        .withColumn("pred_score", (-F.col("_best.neg")).cast("long"))
        .drop("_toks", "_nocollapse", "_best")
    )


def _sql_str(s: str) -> str:
    """A SQL string literal for s."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _score_features(feats: DataFrame, keywords: Dict[str, str]) -> DataFrame:
    """Slim (mention_id, pred_label, pred_score) frame for the ensemble
    voter. TOTAL since r7 (every mention appears, zero-hit mentions
    carry FALLBACK_LABEL/0) — see _with_scores."""
    return _with_scores(
        feats.select("mention_id", "feature_text"), keywords
    ).select("mention_id", "pred_label", "pred_score")


def classify(enriched: DataFrame, keywords: Dict[str, str] | None = None) -> DataFrame:
    """Map-only classification (r7): scores are appended to the
    enriched rows directly — the former scorer⋈enriched fold-back join
    (and its two exchanges) no longer exists."""
    keywords = keywords or DEFAULT_KEYWORDS
    feats = assemble_features(enriched)
    return _with_scores(feats, keywords).drop("feature_text")


FEATURE_VARIANTS = [
    # (include_summary, include_arguments, include_wikipedia) — the
    # reference's ensemble varies model seeds
    # (run_text_classification.py:483-577); the deterministic analog
    # varies the KB-context ablation, mirroring the dataset.py flags
    # include_wikidata_description / _arguments / wikipedia_summary.
    (True, True, True),
    (True, True, False),
    (True, False, True),
    (False, True, True),
    (True, False, False),
]


def assemble_features_variant(enriched: DataFrame, include_summary: bool,
                              include_arguments: bool,
                              include_wikipedia: bool) -> DataFrame:
    """dataset.py:50-55 feature flags as a variant assembler."""
    marked_ent = F.regexp_replace(
        F.regexp_replace(F.col("marked_text"), r"\[START\]", "[START_ENT]"),
        r"\[END\]", "[END_ENT]",
    )
    feat = marked_ent
    if include_summary:
        feat = F.concat(feat, F.lit(" [TAB] "), F.col("wikidata_summary"))
    if include_arguments:
        feat = F.concat(feat, F.lit(" [TAB] "),
                        F.concat_ws(", ", F.col("wikidata_arguments")))
    if include_wikipedia:
        feat = F.concat(feat, F.lit(" [TAB] "), F.col("wikipedia_summary"))
    return enriched.withColumn("feature_text", feat)


def classify_ensemble(enriched: DataFrame, n_variants: int = 5,
                      keywords: Dict[str, str] | None = None) -> DataFrame:
    """A2 ensembled classification: run the scorer over n feature-
    ablation variants, then per-mention majority vote with the
    documented deterministic tiebreak (count desc, label asc) —
    run_tokenclass.py:26-60 semantics without the Python-set
    nondeterminism. Adds pred_label."""
    keywords = keywords or DEFAULT_KEYWORDS
    variants = FEATURE_VARIANTS[:n_variants]
    # variants with zero hits are absent from _score_features' output →
    # left-join per variant so every mention casts a vote (zero hits →
    # FALLBACK_LABEL, matching the single-scorer semantics)
    all_m = enriched.select("mention_id")
    full_votes = None
    for (s, a, w) in variants:
        feats = assemble_features_variant(enriched, s, a, w)
        v = all_m.join(_score_features(feats, keywords), "mention_id", "left") \
            .select("mention_id",
                    F.coalesce("pred_label", F.lit(FALLBACK_LABEL)).alias("label"))
        full_votes = v if full_votes is None else full_votes.unionByName(v)
    voted = majority_vote(full_votes, ["mention_id"], "label").withColumnRenamed(
        "voted_label", "pred_label"
    )
    return enriched.join(voted, "mention_id", "left")


def majority_vote(df: DataFrame, key_cols: List[str],
                  label_col: str = "label") -> DataFrame:
    """A2 per-key majority vote over N ensemble rows
    (run_tokenclass.py:26-60 semantics) with the deterministic tiebreak
    documented in SURVEY.md §2.5: modal count desc, then label asc.
    Pure groupBy chain — partial aggregation map-side."""
    counted = df.groupBy(*key_cols, label_col).agg(F.count("*").alias("cnt"))
    return (
        counted.groupBy(*key_cols)
        .agg(F.min(F.struct((-F.col("cnt")).alias("neg"),
                            F.col(label_col).alias("label"))).alias("m"))
        .select(*key_cols, F.col("m.label").alias("voted_label"))
    )
