"""Candidate generation (SURVEY.md §2.2 P11, §2.4 J5, §2.6 W3).

Reference semantics (GENRE/scripts_mgenre/evaluate_kilt_dataset.py:63-105):
normalize the mention (NFKD, Hanzi-simplify, dot-variants → ·), look up
mention→{QID:count}, union the lowercased lookup with counts summed,
sort by count desc, cap at max_candidates.

Spark-first: the dict lookup becomes a broadcast hash join against the
`mention_counts` dim; the sort+cap becomes a window top-k per distinct
mention text, which every mention with that text inherits.
Deterministic tiebreak (the reference inherits dict order): count desc,
then numeric QID asc.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from kgpipe.kb import qid_num

try:  # Hanzi simplification is environment-gated; identity fallback.
    from hanziconv import HanziConv  # pragma: no cover

    _to_simplified = HanziConv.toSimplified  # pragma: no cover
except ImportError:
    def _to_simplified(s: str) -> str:
        return s


def normalize_mention(text: str) -> str:
    """P11 mention normalization (preprocess_mention_dicts.py:97-104)."""
    return (
        unicodedata.normalize("NFKD", _to_simplified(text))
        .replace("•", "·")
        .replace("．", "·")
    )


@F.pandas_udf(StringType())
def normalize_mention_udf(col: pd.Series) -> pd.Series:
    return col.map(normalize_mention)


_ASCII_RE = r"^[\x00-\x7F]*$"


def with_normalized_mention(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Add `norm_mention` = normalize_mention(text) with an ASCII fast
    path: NFKD, Hanzi simplification and the •/． dot map are all
    identity on pure-ASCII strings, so those rows never leave
    whole-stage codegen; only the non-ASCII residue crosses into the
    Arrow UDF. Split-union rather than when/otherwise because Spark
    extracts Python UDFs out of conditionals and would evaluate the
    UDF for every row anyway. (Measured: the UDF stage was the single
    most expensive stage of the whole pipeline on an ASCII corpus —
    ~67% of one pipeline run's task time.)

    A frame that already carries `norm_mention` is returned as it is,
    so its plan holds no Python UDF at all — even an empty UDF branch
    makes the JVM start Python workers. run_pipeline's link() is the
    one caller that supplies it: its turns cut counts the non-ASCII
    turns (_ASCII_RE) on the cut's own job, and a mention is a token
    slice of its turn, so zero non-ASCII turns (and no leftover mention
    segment tagged by an earlier run) means every mention text is ASCII
    and norm_mention = text."""
    if "norm_mention" in df.columns:
        return df
    is_ascii = F.col(text_col).rlike(_ASCII_RE)
    fast = df.filter(is_ascii).withColumn("norm_mention", F.col(text_col))
    slow = df.filter(~is_ascii).withColumn(
        "norm_mention", normalize_mention_udf(F.col(text_col)))
    return fast.unionByName(slow)


def generate_candidates(
    mentions: DataFrame,
    mention_counts: DataFrame,
    max_candidates: int = 8,
) -> DataFrame:
    """mentions(text, ...) → (text, qid, cnt, cand_rank): the top-k
    candidates of each DISTINCT mention text.

    A mention's candidate list depends only on norm_mention, a function
    of its text, so it is computed once per distinct text and the
    mention rows inherit it by a join on `text` (score_hypotheses) —
    and normalize_mention_udf runs once per distinct non-ASCII text,
    not once per mention. Plan shape: distinct texts, two broadcast
    joins (exact + lowercased key), union, partial-aggregated groupBy
    on (text, qid), then a per-text window top-k; every operator is
    codegen'd and the cost does not depend on the dictionary fan-out.
    """
    keep = [c for c in ("text", "norm_mention") if c in mentions.columns]
    m = with_normalized_mention(mentions.select(*keep).distinct())
    mc = F.broadcast(mention_counts)

    exact = m.join(mc, m["norm_mention"] == mc["mention"], "inner").select(
        "text", "qid", "cnt"
    )
    lowered = m.join(
        mc, F.lower(m["norm_mention"]) == mc["mention"], "inner"
    ).select("text", "qid", "cnt")
    # multiset union with counts summed (evaluate_kilt_dataset.py:76-83);
    # when norm_mention is already lowercase both probes hit the same
    # rows and the count doubles — same as the reference's `+=`.
    unioned = exact.unionByName(lowered)

    summed = unioned.groupBy("text", "qid").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("text").orderBy(
        F.col("cnt").desc(), qid_num(F.col("qid")).asc()
    )
    return (
        summed.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= max_candidates)
    )
