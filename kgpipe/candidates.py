"""Candidate generation (SURVEY.md §2.2 P11, §2.4 J5, §2.6 W3).

Reference semantics (GENRE/scripts_mgenre/evaluate_kilt_dataset.py:63-105):
normalize the mention (NFKD, Hanzi-simplify, dot-variants → ·), look up
mention→{QID:count}, union the lowercased lookup with counts summed,
sort by count desc, cap at max_candidates.

Spark-first: the dict lookup becomes a broadcast hash join against the
`mention_counts` dim; the sort+cap becomes a per-mention window top-k.
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
    """mentions(mention_id, text, ...) → (mention_id, qid, cnt, cand_rank).

    Plan shape: two broadcast joins (exact + lowercased key), union,
    partial-aggregated groupBy on (mention_id, qid), then a per-mention
    window top-k. The only shuffle is the groupBy on mention_id — the
    natural key, already well-distributed.
    """
    m = with_normalized_mention(mentions)
    mc = F.broadcast(mention_counts)

    exact = m.join(mc, m["norm_mention"] == mc["mention"], "inner").select(
        "mention_id", "qid", "cnt"
    )
    lowered = m.join(
        mc, F.lower(m["norm_mention"]) == mc["mention"], "inner"
    ).select("mention_id", "qid", "cnt")
    # multiset union with counts summed (evaluate_kilt_dataset.py:76-83);
    # when norm_mention is already lowercase both probes hit the same
    # rows and the count doubles — same as the reference's `+=`.
    unioned = exact.unionByName(lowered)

    summed = unioned.groupBy("mention_id", "qid").agg(F.sum("cnt").alias("cnt"))
    w = Window.partitionBy("mention_id").orderBy(
        F.col("cnt").desc(), qid_num(F.col("qid")).asc()
    )
    return (
        summed.withColumn("cand_rank", F.row_number().over(w))
        .filter(F.col("cand_rank") <= max_candidates)
    )


def attach_candidates(
    mentions: DataFrame,
    mention_counts: DataFrame,
    max_candidates: int = 8,
) -> DataFrame:
    """Shuffle-free candidate generation: same semantics as
    generate_candidates, but the dict lookup stays a *map-side* array
    computation — mention_counts is pre-grouped per surface form
    ((mention) → array<(qid, cnt)>), broadcast, probed twice (exact +
    lowercased), and the per-QID count sum / sort / top-k cap all run
    as higher-order array expressions on the mention row. Adds a
    `candidates array<struct<qid, cnt>>` column; preserves the input's
    partitioning (zero exchanges — the scale path for 10^12 mentions).
    """
    # per-(mention, qid) pre-sum BEFORE collecting: generate_candidates
    # sums duplicate (mention, qid) source rows through its groupBy
    # anyway, so folding them here changes nothing — and it guarantees
    # each probe array carries UNIQUE qids, which the linear merge
    # below depends on (each qid then appears at most twice in the
    # two-probe concat: once per probe).
    grouped = F.broadcast(
        mention_counts.groupBy("mention", "qid")
        .agg(F.sum("cnt").alias("cnt"))
        .groupBy("mention").agg(
            F.collect_list(F.struct("qid", "cnt")).alias("entries")
        )
    )
    m = with_normalized_mention(mentions)
    j = (
        m.join(
            grouped.select(F.col("mention").alias("_k1"),
                           F.col("entries").alias("_e1")),
            m["norm_mention"] == F.col("_k1"), "left")
    )
    j = j.join(
        grouped.select(F.col("mention").alias("_k2"),
                       F.col("entries").alias("_e2")),
        F.lower(j["norm_mention"]) == F.col("_k2"), "left")
    combined = F.concat(
        F.coalesce("_e1", F.expr("array()").cast("array<struct<qid:string,cnt:bigint>>")),
        F.coalesce("_e2", F.expr("array()").cast("array<struct<qid:string,cnt:bigint>>")),
    )
    # Linear per-QID merge (r7): the old form computed, for EVERY
    # distinct qid, an interpreted filter+aggregate pass over the whole
    # combined array — O(k²) expression evaluations per mention, which
    # at a real candidate fan-out (84 qids/surface in the scaling
    # fixture → k≈168 after the two probes) ground a 2-core standalone
    # leg for >15 min inside this expression (jstack: ArrayFilter in
    # ArrayAggregate). Now: sort by qid once, then one indexed
    # transform pass sums each qid's ≤2 adjacent occurrences (the
    # per-probe arrays carry unique qids — enforced in the broadcast
    # build above) — O(k log k) with integer sums, so per-QID totals
    # are bit-identical to the old fold. get() is 0-based and NULL out
    # of range (never an ANSI throw); if(NULL-cond) takes the else
    # branch, so the first/last elements merge correctly.
    sorted_ = ("array_sort(_combined, (l, r) ->"
               " case when l.qid < r.qid then -1"
               " when l.qid > r.qid then 1 else 0 end)")
    out = (
        j.withColumn("_combined", combined)
        .withColumn("_sorted", F.expr(sorted_))
        .withColumn(
            "candidates",
            F.expr(
                # first-occurrence rows keep (qid, own cnt + next cnt if
                # same qid); later occurrences become NULL and are
                # filtered; then the deterministic (cnt desc, numeric
                # QID asc) sort and the top-k cap — all in-row
                "slice(array_sort("
                "  filter("
                "    transform(_sorted, (x, i) ->"
                "      if(get(_sorted, i - 1).qid = x.qid, null,"
                "         struct(x.qid as qid,"
                "           x.cnt + if(get(_sorted, i + 1).qid = x.qid,"
                "                      get(_sorted, i + 1).cnt,"
                "                      cast(0 as bigint)) as cnt))),"
                "    s -> s is not null),"
                "  (l, r) -> case when l.cnt > r.cnt then -1"
                "                 when l.cnt < r.cnt then 1"
                "                 when cast(substring(l.qid, 2, 18) as long)"
                "                    < cast(substring(r.qid, 2, 18) as long) then -1"
                "                 when cast(substring(l.qid, 2, 18) as long)"
                "                    > cast(substring(r.qid, 2, 18) as long) then 1"
                "                 else 0 end"
                f"), 1, {int(max_candidates)})"
            ),
        )
        .drop("_k1", "_k2", "_e1", "_e2", "_combined", "_sorted")
    )
    return out
