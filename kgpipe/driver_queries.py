"""Driver-contract queries over /root/testdata parquet tables
(__spark_entry__.py backing).

Each query exercises one operator family from SURVEY.md §2 (or a
training-data op) on the driver's generic tables, with a DuckDB oracle
that computes the same result in ANSI SQL. All floating-point outputs
are rounded (and cast to DOUBLE on the DuckDB side) so cross-engine
libm/aggregation-order noise cannot flip the value hash; all hash
functions are explicit integer arithmetic shared by both engines.

`documents` doubles as the transcript stand-in:
conv_id = source, turn_idx = row_number over (source, doc_id) − 1
(FIXTURES.md §9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgpipe.dedup import (
    MINHASH_P, MINHASH_PARAMS, SIMHASH_A, SIMHASH_B, SIMHASH_BITS, SIMHASH_M,
)
from kgpipe.kb import resolve_redirect_closure
from kgpipe.classify import majority_vote
from kgpipe.textstats import LANG_PROFILES, STOPWORDS

LEXICON = ["spark", "join", "filter", "window", "hash", "merge", "scan"]


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Tiny literal dims as JVM LocalTableScan instead of a pickled-RDD
    scan: createDataFrame(list) parallelizes to defaultParallelism
    pickled partitions, so every downstream job pays a 32-task
    Python-worker round-trip for a handful of rows (measured ~0.5 s per
    materialization at local[32] — the q25 dim jobs burned 7-22
    executor-seconds EACH on 7-row inputs). Routing the same rows
    through pandas+Arrow yields a LocalTableScan (row-count partitions,
    zero Python at task time, ~40 ms to checkpoint). Values identical —
    same rows, same schema, oracle-hash-verified; falls back to plain
    createDataFrame if the Arrow conversion rejects a type."""
    import pandas as pd

    names = schema.fieldNames() if hasattr(schema, "fieldNames") else None
    try:
        if names is None:
            raise ValueError("string schema: keep the classic path")
        pdf = pd.DataFrame(rows, columns=names, dtype=object)
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        return spark.createDataFrame(rows, schema=schema)


def doc_transcripts(spark, sf_dir) -> DataFrame:
    w = Window.partitionBy("source").orderBy("doc_id")
    return (
        t(spark, sf_dir, "documents")
        .select(
            F.col("source").alias("conv_id"),
            (F.row_number().over(w) - 1).alias("turn_idx"),
            "doc_id", "text",
        )
    )


TRANSCRIPTS_SQL = (
    "SELECT source AS conv_id,"
    " CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS INT)"
    " AS turn_idx, doc_id, text FROM documents"
)

TOKEN_IDS_SQL = (
    "SELECT token, CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT)"
    " AS token_id FROM ("
    "  SELECT token, count(*) AS cnt FROM ("
    "    SELECT unnest(string_split(text, ' ')) AS token FROM documents"
    "  ) GROUP BY token)"
)


def _token_ids(spark, sf_dir) -> DataFrame:
    from kgpipe.textstats import build_token_ids

    return build_token_ids(t(spark, sf_dir, "documents")).select("token", "token_id")


# --------------------------------------------------------------- queries

def q_turn_order(spark, sf_dir):
    """W1 stable turn ordering over the transcript stand-in."""
    return doc_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )


Q_TURN_ORDER_SQL = f"""
SELECT conv_id, turn_idx, doc_id,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM ({TRANSCRIPTS_SQL})
"""


def q_token_mentions(spark, sf_dir):
    """Q1-lite mention rows: lexicon tokens with 1-based position."""
    tr = doc_transcripts(spark, sf_dir)
    return (
        tr.select(
            "conv_id", "turn_idx",
            F.posexplode(F.split("text", " ")).alias("pos0", "token"),
        )
        .filter(F.col("token").isin(LEXICON))
        .select(
            "conv_id", "turn_idx",
            (F.col("pos0") + 1).cast("long").alias("pos"), "token",
        )
    )


_LEX = ", ".join(f"'{w}'" for w in LEXICON)
Q_TOKEN_MENTIONS_SQL = f"""
SELECT conv_id, turn_idx, CAST(pos AS BIGINT) AS pos, token FROM (
  SELECT conv_id, turn_idx,
         unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM ({TRANSCRIPTS_SQL})
) WHERE token IN ({_LEX})
"""


def q_candidates_topk(spark, sf_dir):
    """J5/W3: per lexicon token, top-3 sources by count desc, source asc."""
    m = q_token_mentions(spark, sf_dir)
    counted = m.groupBy("token", F.col("conv_id").alias("source")).agg(
        F.count("*").alias("cnt")
    )
    w = Window.partitionBy("token").orderBy(
        F.col("cnt").desc(), F.col("source").asc()
    )
    return (
        counted.withColumn("cand_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("cand_rank") <= 3)
        .select("token", "source", "cnt", "cand_rank")
    )


Q_CANDIDATES_TOPK_SQL = f"""
SELECT token, source, cnt, cand_rank FROM (
  SELECT token, source, cnt,
         CAST(row_number() OVER (PARTITION BY token ORDER BY cnt DESC, source ASC)
              AS BIGINT) AS cand_rank
  FROM (
    SELECT token, conv_id AS source, count(*) AS cnt
    FROM ({Q_TOKEN_MENTIONS_SQL.strip()})
    GROUP BY token, conv_id
  )
) WHERE cand_rank <= 3
"""


def q_marginalize(spark, sf_dir):
    """A1 logsumexp marginalization over events: per (user_id,
    event_type) marginalize score·len/len^0.5 with score = value/100,
    len = length(event_type)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type",
        (F.col("value") / 100.0).alias("s"),
        F.length("event_type").cast("double").alias("l"),
    ).withColumn("adj", F.col("s") * F.col("l") / F.sqrt(F.col("l")))
    g = ev.groupBy("user_id", "event_type").agg(
        F.max("adj").alias("mx"),
        F.collect_list("adj").alias("adjs"),
        F.count("*").alias("n_hyps"),
    )
    return g.select(
        "user_id", "event_type", "n_hyps",
        F.round(
            F.col("mx")
            + F.log(F.aggregate(
                "adjs", F.lit(0.0), lambda acc, x: acc + F.exp(x - F.col("mx"))
            )),
            6,
        ).alias("marg_score"),
    )


Q_MARGINALIZE_SQL = """
SELECT user_id, event_type, count(*) AS n_hyps,
       CAST(round(max(adj) + ln(sum(exp(adj - mx))), 6) AS DOUBLE) AS marg_score
FROM (
  SELECT user_id, event_type, adj,
         max(adj) OVER (PARTITION BY user_id, event_type) AS mx
  FROM (
    SELECT user_id, event_type,
           (value / 100.0) * length(event_type) / sqrt(length(event_type)) AS adj
    FROM events
  )
)
GROUP BY user_id, event_type
"""


def q_first_covered(spark, sf_dir):
    """J7-analog argmin-by-rank: per user, the earliest (by event_id)
    event whose type has 'coverage' (purchase/signup)."""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "signup")
    )
    return ev.groupBy("user_id").agg(
        F.min("event_id").alias("first_event_id"),
        F.min_by("event_type", "event_id").alias("first_type"),
    )


Q_FIRST_COVERED_SQL = """
SELECT user_id, min(event_id) AS first_event_id,
       arg_min(event_type, event_id) AS first_type
FROM events WHERE event_type IN ('purchase', 'signup')
GROUP BY user_id
"""


def q_vote_mode(spark, sf_dir):
    """A2 majority vote with deterministic tiebreak (count desc, label asc)."""
    ev = t(spark, sf_dir, "events").select("user_id", F.col("event_type").alias("label"))
    return majority_vote(ev, ["user_id"], "label")


Q_VOTE_MODE_SQL = """
SELECT user_id, voted_label FROM (
  SELECT user_id, event_type AS voted_label,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY count(*) DESC, event_type ASC) AS rn
  FROM events GROUP BY user_id, event_type
) WHERE rn = 1
"""


def q_langid(spark, sf_dir):
    """Heuristic language-ID (profile-hit argmax, deterministic tiebreak)."""
    from kgpipe.textstats import predict_language

    return predict_language(
        t(spark, sf_dir, "documents")
    ).select(
        "doc_id", "declared_lang", "pred_lang",
        F.col("profile_hits").cast("long").alias("profile_hits"),
    )


def _langid_sql() -> str:
    score_cols = []
    for lang in sorted(LANG_PROFILES):
        words = ", ".join(f"'{w}'" for w in LANG_PROFILES[lang])
        score_cols.append(
            f"len(list_filter(toks, x -> x IN ({words}))) AS s_{lang}"
        )
    langs = sorted(LANG_PROFILES)
    # argmax with (score desc, lang asc): fold over CASE comparisons
    best = f"'{langs[0]}'"
    best_s = f"s_{langs[0]}"
    for lang in langs[1:]:
        best = f"CASE WHEN s_{lang} > {best_s} THEN '{lang}' ELSE {best} END"
        best_s = f"greatest(s_{lang}, {best_s})"
    return f"""
SELECT doc_id, declared_lang, {best} AS pred_lang,
       CAST({best_s} AS BIGINT) AS profile_hits
FROM (
  SELECT doc_id, lang AS declared_lang, {', '.join(score_cols)}
  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
)
"""


Q_LANGID_SQL = _langid_sql()


def q_langid_confusion(spark, sf_dir):
    """A6 confusion matrix (long form): declared × predicted counts."""
    from kgpipe.metrics import confusion_long

    return confusion_long(q_langid(spark, sf_dir), "declared_lang", "pred_lang")


Q_LANGID_CONFUSION_SQL = f"""
SELECT declared_lang, pred_lang, count(*) AS n
FROM ({Q_LANGID_SQL.strip()}) GROUP BY declared_lang, pred_lang
"""


def q_redirect_closure(spark, sf_dir):
    """J2 bounded pointer-chase: synthetic redirect edges
    custkey → floor(custkey/2) (chains deeper than the 10-hop bound),
    resolved by the engine's closure operator."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_custkey") >= 1)
    edges = cust.select(
        F.lit("en").alias("lang"),
        F.col("c_custkey").cast("string").alias("src_title"),
        F.floor(F.col("c_custkey") / 2).cast("long").cast("string").alias("dst_title"),
    )
    return resolve_redirect_closure(edges, max_hops=10).select(
        "src_title", "final_title"
    )


Q_REDIRECT_CLOSURE_SQL = """
WITH RECURSIVE edges AS (
  SELECT CAST(c_custkey AS VARCHAR) AS src,
         CAST(CAST(floor(c_custkey / 2) AS BIGINT) AS VARCHAR) AS dst
  FROM customer WHERE c_custkey >= 1
), chase(src, cur, d) AS (
  SELECT src, dst, 1 FROM edges
  UNION ALL
  SELECT c.src, e.dst, c.d + 1
  FROM chase c JOIN edges e ON c.cur = e.src
  WHERE c.d < 10
)
SELECT src AS src_title, arg_max(cur, d) AS final_title
FROM chase GROUP BY src
"""


def q_title_max_qid(spark, sf_dir):
    """J1 title→QID with max-numeric-QID tiebreak over a part-derived
    title map."""
    tm = t(spark, sf_dir, "part").select(
        F.concat(F.lit("T"), (F.col("p_partkey") % 50).cast("string")).alias("title"),
        F.concat(F.lit("Q"), F.col("p_partkey").cast("string")).alias("qid"),
    )
    return tm.groupBy("title").agg(
        F.max_by("qid", F.substring("qid", 2, 18).cast("long")).alias("resolved_qid")
    )


Q_TITLE_MAX_QID_SQL = """
SELECT 'T' || CAST(p_partkey % 50 AS VARCHAR) AS title,
       'Q' || CAST(max(p_partkey) AS VARCHAR) AS resolved_qid
FROM part GROUP BY 1
"""


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups over documents (keep = min doc_id), via the
    two-pass digest plan (dedup.exact_duplicates): the big shuffle
    carries (xxhash64(text), doc_id); only digest-repeating rows are
    re-grouped by raw text (collision-proof verification). Output is
    identical to a direct GROUP BY text — the oracle states exactly
    that."""
    from kgpipe.dedup import exact_duplicates

    return exact_duplicates(
        t(spark, sf_dir, "documents"), include_singletons=True
    ).select("keep_id", "n_dups")


Q_DEDUP_EXACT_SQL = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY text
"""


def _minhash_spark(spark, sf_dir, subset_mod: int | None = None):
    from kgpipe.dedup import minhash_signatures

    docs = t(spark, sf_dir, "documents")
    if subset_mod:
        docs = docs.filter(F.col("doc_id") % subset_mod == 0)
    return minhash_signatures(docs, _token_ids(spark, sf_dir))


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (8 explicit universal hashes over the global
    token-id dictionary) + 4 LSH band keys."""
    sig = _minhash_spark(spark, sf_dir)
    cols = ["doc_id"] + [F.col(f"minh_{j}").cast("long").alias(f"minh_{j}")
                         for j in range(8)]
    cols += [F.col(f"band_{b}").cast("long").alias(f"band_{b}") for b in range(4)]
    return sig.select(*cols)


def _minhash_sql(subset_pred: str = "TRUE") -> str:
    mins = ", ".join(
        f"CAST(min((token_id * {a} + {b}) % {MINHASH_P}) AS BIGINT) AS minh_{j}"
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    )
    bands = ", ".join(
        f"(minh_{2*b} * {MINHASH_P} + minh_{2*b+1}) AS band_{b}" for b in range(4)
    )
    return f"""
SELECT doc_id, {', '.join(f'minh_{j}' for j in range(8))}, {bands} FROM (
  SELECT doc_id, {mins}
  FROM (
    SELECT DISTINCT d.doc_id, ti.token_id
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents WHERE {subset_pred}) d
    JOIN ({TOKEN_IDS_SQL}) ti ON d.token = ti.token
  ) GROUP BY doc_id)
"""


Q_MINHASH_SIGNATURES_SQL = _minhash_sql()


def q_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs (docs sharing any band key) on a
    doc_id%20 subset — the quadratic search as 4 bucket equi-joins."""
    from kgpipe.dedup import minhash_lsh_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return minhash_lsh_pairs(docs, _token_ids(spark, sf_dir))


Q_MINHASH_PAIRS_SQL = f"""
WITH sig AS ({_minhash_sql('doc_id % 20 = 0').strip()}),
bands AS (
  SELECT doc_id, band_0 AS bk FROM sig UNION ALL
  SELECT doc_id, band_1 FROM sig UNION ALL
  SELECT doc_id, band_2 FROM sig UNION ALL
  SELECT doc_id, band_3 FROM sig
)
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.bk = r.bk AND l.doc_id < r.doc_id
"""


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (16-bit, explicit LCG bit mixing)."""
    from kgpipe.dedup import simhash

    return simhash(t(spark, sf_dir, "documents"), _token_ids(spark, sf_dir))


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(2 * (CAST(floor(h / {2 ** k}) AS BIGINT) % 2) - 1) AS s_{k}"
        for k in range(SIMHASH_BITS)
    )
    terms = " + ".join(
        f"(CASE WHEN s_{k} > 0 THEN {2 ** k} ELSE 0 END)"
        for k in range(SIMHASH_BITS)
    )
    return f"""
SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM (
  SELECT doc_id, {sums}
  FROM (
    SELECT d.doc_id,
           (CAST(ti.token_id AS BIGINT) * {SIMHASH_A} + {SIMHASH_B}) % {SIMHASH_M} AS h
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents) d
    JOIN ({TOKEN_IDS_SQL}) ti ON d.token = ti.token
  ) GROUP BY doc_id)
"""


Q_SIMHASH_SQL = _simhash_sql()


def q_jaccard_pairs(spark, sf_dir):
    """Exact shingle-Jaccard near-dup pairs on a doc_id%20 subset with
    rare-shingle candidate pruning (df ≤ 3)."""
    from kgpipe.dedup import jaccard_pairs

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return jaccard_pairs(docs, n=3, threshold=0.02, max_df=10)


Q_JACCARD_PAIRS_SQL = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
      CASE WHEN len(toks) >= 3 THEN
        array_to_string(toks[i:i+2], ' ')
      ELSE text END AS shingle
    FROM (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM docs
    ), LATERAL (
      SELECT unnest(range(1, greatest(len(string_split(text, ' ')) - 2, 1) + 1)) AS i
    )
  )
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
rare AS (
  SELECT sh.doc_id, sh.shingle FROM sh
  JOIN (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle HAVING count(*) <= 10) r
    ON sh.shingle = r.shingle
),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM rare l JOIN rare r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
),
inter AS (
  SELECT c.a, c.b, count(*) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY c.a, c.b
)
SELECT i.a, i.b,
       CAST(round(i.inter / (za.sz + zb.sz - i.inter), 6) AS DOUBLE) AS jaccard
FROM inter i JOIN sizes za ON za.doc_id = i.a JOIN sizes zb ON zb.doc_id = i.b
WHERE round(i.inter / (za.sz + zb.sz - i.inter), 6) >= 0.02
"""


def q_token_stats(spark, sf_dir):
    from kgpipe.textstats import token_stats

    s = token_stats(t(spark, sf_dir, "documents"))
    return s.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "avg_token_len",
    )


Q_TOKEN_STATS_SQL = """
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       CAST(round(list_sum(list_transform(toks, x -> length(x))) * 1.0 / len(toks), 6)
            AS DOUBLE) AS avg_token_len
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
"""


def q_quality(spark, sf_dir):
    from kgpipe.textstats import quality_score

    q = quality_score(t(spark, sf_dir, "documents"))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "stopword_ratio", "distinct_ratio",
        F.col("n_stopword_types").cast("long").alias("n_stopword_types"),
        "quality",
    )


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)
Q_QUALITY_SQL = f"""
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  CAST(round(stop_cnt * 1.0 / n, 6) AS DOUBLE) AS stopword_ratio,
  CAST(round(nd * 1.0 / n, 6) AS DOUBLE) AS distinct_ratio,
  CAST(stop_types AS BIGINT) AS n_stopword_types,
  CAST(round(0.4 * (nd * 1.0 / n) + 0.3 * (stop_cnt * 1.0 / n)
       + 0.3 * least(n / 200.0, 1.0), 6) AS DOUBLE) AS quality
FROM (
  SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
         len(list_filter(toks, x -> x IN ({_SW}))) AS stop_cnt,
         len(list_filter(list_distinct(toks), x -> x IN ({_SW}))) AS stop_types
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
)
"""


def q_fingerprint(spark, sf_dir):
    from kgpipe.textstats import fingerprint

    return fingerprint(
        t(spark, sf_dir, "documents"), _token_ids(spark, sf_dir)
    )


Q_FINGERPRINT_SQL = f"""
SELECT doc_id,
       CAST(sum(pos * token_id) % 2147483647 AS BIGINT) AS fingerprint
FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
) d JOIN ({TOKEN_IDS_SQL}) ti USING (token)
GROUP BY doc_id
"""


def q_embedding_norm(spark, sf_dir):
    from kgpipe.similarity import with_norm

    return with_norm(t(spark, sf_dir, "embeddings")).select("vec_id", "l2_norm")


Q_EMBEDDING_NORM_SQL = """
SELECT vec_id,
       CAST(round(sqrt(list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DOUBLE) AS l2_norm
FROM embeddings
"""


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-3 for query vectors vec_id < 20."""
    from kgpipe.similarity import cosine_topk

    emb = t(spark, sf_dir, "embeddings")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 20), k=3)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"), "cosine",
    )


Q_COSINE_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         CAST(round(list_dot_product(q.qv, c.nv)
              / (sqrt(list_dot_product(q.qv, q.qv))
                 * sqrt(list_dot_product(c.nv, c.nv))), 6) AS DOUBLE) AS cosine
  FROM q CROSS JOIN c WHERE q.query_id != c.neighbor_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 3
"""


def q_sessionize(spark, sf_dir):
    from kgpipe.textstats import sessionize

    s = sessionize(t(spark, sf_dir, "events"), gap_minutes=30)
    return s.select(
        "user_id",
        F.col("n_sessions").cast("long").alias("n_sessions"),
        F.col("n_events").cast("long").alias("n_events"),
    )


Q_SESSIONIZE_SQL = """
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM (
  SELECT user_id,
         CASE WHEN prev_e IS NULL OR (e - prev_e) > 1800 THEN 1 ELSE 0 END
           AS new_session
  FROM (
    SELECT user_id, epoch(ts) AS e,
           lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_e
    FROM events
  )
) GROUP BY user_id
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped aggregation (relational coverage baseline)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q_PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
       CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
       CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE)
         AS sum_disc_price,
       CAST(round(avg(l_discount), 6) AS DOUBLE) AS avg_disc,
       count(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark, sf_dir):
    """Broadcast join + agg + deterministic top-k."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    agg = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count("*").alias("n_orders"))
    )
    w = Window.orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
    return (
        agg.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
    )


Q_TOP_CUSTOMERS_SQL = """
SELECT c_custkey, c_name, total_spent, n_orders, rk FROM (
  SELECT c_custkey, c_name, total_spent, n_orders,
         CAST(row_number() OVER (ORDER BY total_spent DESC, c_custkey ASC)
              AS BIGINT) AS rk
  FROM (
    SELECT c_custkey, c_name,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS total_spent,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
  )
) WHERE rk <= 10
"""


def q_salted_counts(spark, sf_dir):
    """Skew-tamed two-phase aggregation (SURVEY.md §4 salting): counts
    per event_type via (key, salt) pre-aggregation + combine. The
    oracle is the plain GROUP BY — the equality IS the correctness
    claim (salting must not change results)."""
    from kgpipe.triples import salted_subject_counts

    ev = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("subj"),
        F.col("event_type").alias("pred"),
        F.col("event_id").cast("string").alias("obj"),
    )
    return salted_subject_counts(ev, n_salts=16).select(
        F.col("subj").alias("event_type"), F.col("n_triples").alias("n")
    )


Q_SALTED_COUNTS_SQL = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type
"""


def q_per_word_errors(spark, sf_dir):
    """A7 per-word TP/FP/FN/TN error dictionary over a deterministic
    tagging of document tokens (gold = lexicon hit, pred = a shifted
    lexicon — so all four cells are populated)."""
    from kgpipe.metrics import per_word_errors

    pred_lex = LEXICON[:4] + ["table", "sort"]
    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .withColumn(
            "gold_tag",
            F.when(F.col("word").isin(LEXICON), F.lit("B-X")).otherwise(F.lit("O")),
        )
        .withColumn(
            "pred_tag",
            F.when(F.col("word").isin(pred_lex), F.lit("B-X")).otherwise(F.lit("O")),
        )
    )
    return per_word_errors(toks).select(
        "word",
        F.col("tp").cast("long").alias("tp"), F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"), F.col("tn").cast("long").alias("tn"),
    )


_PRED_LEX = ", ".join(f"'{w}'" for w in (LEXICON[:4] + ["table", "sort"]))
Q_PER_WORD_ERRORS_SQL = f"""
SELECT word,
  CAST(sum(CASE WHEN gold_tag != 'O' AND gold_tag = pred_tag THEN 1 ELSE 0 END) AS BIGINT) AS tp,
  CAST(sum(CASE WHEN gold_tag = 'O' AND pred_tag != 'O' THEN 1 ELSE 0 END) AS BIGINT) AS fp,
  CAST(sum(CASE WHEN gold_tag != 'O' AND pred_tag != gold_tag THEN 1 ELSE 0 END) AS BIGINT) AS fn,
  CAST(sum(CASE WHEN gold_tag = 'O' AND pred_tag = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS tn
FROM (
  SELECT word,
         CASE WHEN word IN ({_LEX}) THEN 'B-X' ELSE 'O' END AS gold_tag,
         CASE WHEN word IN ({_PRED_LEX}) THEN 'B-X' ELSE 'O' END AS pred_tag
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
) GROUP BY word
"""


def _lsh_proj_sql(n_planes: int) -> tuple[str, str]:
    """(projection columns, bucket expression) replicating
    similarity.lsh_bucket: bit_p = (Σ_d v[d]·sin(1+(p+1)(d+1))) > 0,
    1-based d, weights computed on exact integer doubles so both
    engines call libm sin on identical inputs."""
    projs = ", ".join(
        f"list_sum(list_transform(range(1, len(v) + 1),"
        f" d -> v[d] * sin(CAST(1 + {p + 1} * (d + 1) AS DOUBLE)))) AS proj_{p}"
        for p in range(n_planes)
    )
    bucket = " + ".join(
        f"(CASE WHEN proj_{p} > 0 THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return projs, bucket


def q_lsh_buckets(spark, sf_dir):
    """ANN scale path: sign-random-projection LSH bucket per embedding
    (the linear-shape plan; candidate generation is then an equi-join
    on bucket — cf. q29)."""
    from kgpipe.similarity import lsh_bucket

    return lsh_bucket(t(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("bucket").cast("long").alias("bucket")
    )


_P8, _B8 = _lsh_proj_sql(8)
Q_LSH_BUCKETS_SQL = f"""
SELECT vec_id, CAST({_B8} AS BIGINT) AS bucket FROM (
  SELECT vec_id, {_P8}
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
)
"""


def _emb_dim(sf_dir: str) -> int | None:
    """Vector dimension of the embeddings table, read from the first
    parquet row (pyarrow, no Spark job) — feeds the unrolled dot in the
    pair-verify queries, where the cosine evaluates in a codegen'd
    filter above the bucket join and the JIT'd unrolled chain measured
    ~2× over the interpreted fold (it LOSES in the other similarity
    shapes — see similarity._dot_u — so only q29/q42 pass it). None
    (empty/unreadable table) falls back to the fold."""
    try:
        import pyarrow.parquet as _pq

        pf = _pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
        for batch in pf.iter_batches(batch_size=1, columns=["embedding"]):
            if batch.num_rows:
                return len(batch.column(0)[0])
            break
    except Exception:
        pass
    return None


def q_lsh_cosine_verify(spark, sf_dir):
    """LSH-pairs → exact-cosine verification composition (the ANN
    pipeline at scale: bucket equi-join for candidates, exact re-rank
    only on candidates — never the quadratic all-pairs). r7: one-pass
    shape — vectors+norms ride the bucket join once; the quadratic
    candidate-pair stream is never re-joined against the corpus
    (similarity.lsh_cosine_verify; values bit-identical)."""
    from kgpipe.similarity import lsh_cosine_verify

    emb = t(spark, sf_dir, "embeddings")
    return lsh_cosine_verify(
        emb, n_planes=4, threshold=0.2, dim=_emb_dim(sf_dir)
    ).select("a", "b", F.col("bucket").cast("long").alias("bucket"), "cosine")


_P4, _B4 = _lsh_proj_sql(4)
Q_LSH_COSINE_VERIFY_SQL = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, CAST({_B4} AS BIGINT) AS bucket FROM (
    SELECT vec_id, {_P4} FROM v)
),
pairs AS (
  SELECT l.vec_id AS a, r.vec_id AS b, l.bucket
  FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT p.a, p.b, p.bucket,
       CAST(round(list_dot_product(va.v, vb.v)
            / (sqrt(list_dot_product(va.v, va.v))
               * sqrt(list_dot_product(vb.v, vb.v))), 6) AS DOUBLE) AS cosine
FROM pairs p JOIN v va ON va.vec_id = p.a JOIN v vb ON vb.vec_id = p.b
WHERE round(list_dot_product(va.v, vb.v)
      / (sqrt(list_dot_product(va.v, va.v))
         * sqrt(list_dot_product(vb.v, vb.v))), 6) >= 0.2
"""


def q_connected_components(spark, sf_dir):
    """Connected-components canonicalization (north_rule): synthetic
    QID equivalence chains custkey → custkey−7 (7 deep components,
    ~200 hops each — exercises the pointer-jumping convergence), min
    numeric QID as canonical representative."""
    from kgpipe.canonical import canonicalize_qids

    cust = t(spark, sf_dir, "customer")
    edges = cust.filter(F.col("c_custkey") > 7).select(
        F.concat(F.lit("Q"), F.col("c_custkey").cast("string")).alias("src"),
        F.concat(F.lit("Q"), (F.col("c_custkey") - 7).cast("string")).alias("dst"),
    )
    return canonicalize_qids(edges)


Q_CONNECTED_COMPONENTS_SQL = """
WITH RECURSIVE edges AS (
  SELECT 'Q' || CAST(c_custkey AS VARCHAR) AS a,
         'Q' || CAST(c_custkey - 7 AS VARCHAR) AS b
  FROM customer WHERE c_custkey > 7
), sym AS (
  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
), reach(src, node) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
)
SELECT src AS qid,
       'Q' || CAST(min(CAST(substring(node, 2) AS BIGINT)) AS VARCHAR)
         AS canonical_qid
FROM reach GROUP BY src
"""


_CLS_GOLD_A = LEXICON[:4]                      # spark join filter window
_CLS_PRED_LEX = LEXICON[:4] + ["table", "sort"]
_CLS_PRED_A = LEXICON[:2] + ["table"]          # different split → class errors


def q_class_report(spark, sf_dir):
    """Per-class span P/R/F1 report (seqeval classification_report
    semantics) over deterministic single-token span sets with
    deliberate class confusions."""
    from kgpipe.metrics import per_class_report

    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("start"), "token")

    def spans(lex, a_lex):
        return (
            toks.filter(F.col("token").isin(lex))
            .select(
                "doc_id", "start", F.lit(1).alias("length"),
                F.when(F.col("token").isin(a_lex), F.lit("TYPE_A"))
                .otherwise(F.lit("TYPE_B")).alias("label"),
            )
        )

    return per_class_report(
        spans(_CLS_PRED_LEX, _CLS_PRED_A), spans(LEXICON, _CLS_GOLD_A)
    )


def _class_report_sql() -> str:
    def inlist(ws):
        return ", ".join(f"'{w}'" for w in ws)

    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS start
  FROM documents
),
gold AS (
  SELECT DISTINCT doc_id, start, 1 AS length,
         CASE WHEN token IN ({inlist(_CLS_GOLD_A)}) THEN 'TYPE_A'
              ELSE 'TYPE_B' END AS label
  FROM toks WHERE token IN ({inlist(LEXICON)})
),
pred AS (
  SELECT DISTINCT doc_id, start, 1 AS length,
         CASE WHEN token IN ({inlist(_CLS_PRED_A)}) THEN 'TYPE_A'
              ELSE 'TYPE_B' END AS label
  FROM toks WHERE token IN ({inlist(_CLS_PRED_LEX)})
),
tp AS (SELECT label, count(*) AS tp FROM pred
       JOIN gold USING (doc_id, start, length, label) GROUP BY label),
pc AS (SELECT label, count(*) AS n_pred FROM pred GROUP BY label),
gc AS (SELECT label, count(*) AS n_gold FROM gold GROUP BY label),
per AS (
  SELECT coalesce(gc.label, pc.label) AS label,
         coalesce(tp.tp, 0) AS tp, coalesce(pc.n_pred, 0) AS n_pred,
         coalesce(gc.n_gold, 0) AS n_gold
  FROM gc FULL OUTER JOIN pc ON gc.label = pc.label
  LEFT JOIN tp ON coalesce(gc.label, pc.label) = tp.label
),
scored AS (
  SELECT label, tp, n_pred, n_gold,
         CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0.0 END AS p,
         CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0.0 END AS r
  FROM per
),
scored2 AS (
  SELECT *, CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END AS f1
  FROM scored
)
SELECT label, CAST(round(p, 6) AS DOUBLE) AS precision,
       CAST(round(r, 6) AS DOUBLE) AS recall,
       CAST(round(f1, 6) AS DOUBLE) AS f1,
       CAST(n_gold AS BIGINT) AS support
FROM scored2
UNION ALL
SELECT '_micro', CAST(round(p, 6) AS DOUBLE), CAST(round(r, 6) AS DOUBLE),
       CAST(round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r)
                       ELSE 0.0 END, 6) AS DOUBLE),
       CAST(sg AS BIGINT)
FROM (
  SELECT CASE WHEN sum(n_pred) > 0 THEN sum(tp) * 1.0 / sum(n_pred)
              ELSE 0.0 END AS p,
         CASE WHEN sum(n_gold) > 0 THEN sum(tp) * 1.0 / sum(n_gold)
              ELSE 0.0 END AS r,
         sum(n_gold) AS sg
  FROM scored2
)
UNION ALL
SELECT '_macro', CAST(round(avg(p), 6) AS DOUBLE),
       CAST(round(avg(r), 6) AS DOUBLE), CAST(round(avg(f1), 6) AS DOUBLE),
       CAST(sum(n_gold) AS BIGINT)
FROM scored2
"""


Q_CLASS_REPORT_SQL = _class_report_sql()


# ------------------------------------------------- flagship oracles
# q24/q25 were rows-only in round 1; both are now DuckDB-verified.

SPAN_SURFACES = ["hash join", "table scan", "spark", "window", "merge part"]


def _span_matches_sql(surfaces) -> str:
    """Match-extraction arms for the fixed gazetteer. Valid as a greedy
    longest-match oracle ONLY because the surface token sets are
    pairwise disjoint (asserted below): no two matches can share a
    start or overlap, so greedy == all matches."""
    all_toks = [t for s in surfaces for t in s.split(" ")]
    assert len(all_toks) == len(set(all_toks)), "overlap-free gazetteer required"
    arms = []
    for s in surfaces:
        toks = s.split(" ")
        n = len(toks)
        conds = [f"tk[i] = '{toks[0]}'"]
        if n > 1:
            conds.append(f"i + {n - 1} <= len(tk)")
            conds += [f"tk[i + {j}] = '{t}'" for j, t in enumerate(toks[1:], 1)]
        arms.append(
            f"SELECT conv_id, turn_idx, tk, i, {n} AS mlen, '{s}' AS mtext"
            f" FROM pos WHERE {' AND '.join(conds)}"
        )
    return " UNION ALL ".join(arms)


_SPAN_CORE_SQL = f"""
tr AS ({TRANSCRIPTS_SQL}),
toks AS (SELECT conv_id, turn_idx, string_split(text, ' ') AS tk FROM tr),
pos AS (SELECT conv_id, turn_idx, tk, unnest(range(1, len(tk) + 1)) AS i
        FROM toks),
matches AS ({_span_matches_sql(SPAN_SURFACES)}),
spans AS (
  SELECT conv_id, turn_idx, tk, i, mlen, mtext,
         CAST(row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY i) - 1
              AS INT) AS eid
  FROM matches
)"""

Q_SPAN_MENTIONS_SQL = f"""
WITH {_SPAN_CORE_SQL}
SELECT conv_id, turn_idx, eid AS entity_id,
       conv_id || '/' || CAST(turn_idx AS VARCHAR) || '/'
               || CAST(eid AS VARCHAR) AS mention_id,
       mtext AS text,
       CAST(i - 1 AS INT) AS start,
       CAST(i - 1 + mlen AS INT) AS "end",
       array_to_string(
         tk[1:i-1] || ['[START]'] || tk[i:i+mlen-1] || ['[END]'] || tk[i+mlen:],
         ' ') AS marked_text
FROM spans
"""


def _kg_triples_sql() -> str:
    """DuckDB twin of q_kg_triples: same inline KB, single candidate per
    lexicon word (J5/A1/W2 collapse to the identity when |candidates|=1;
    those operators are hash-verified separately by q03/q04/q20-style
    queries), acceptance always succeeds at rank 0 in 'en' (labels +
    descriptions both cover 'en', never disambig), classification is the
    keyword-count argmax over the assembled feature text."""
    from kgpipe.classify import DEFAULT_KEYWORDS, FALLBACK_LABEL

    cats = ["Software", "TechCorp", "Facility", "OtherPROD", "Scientist",
            "MusicalWork", "Disease"]
    kb_vals = []
    for i, w in enumerate(LEXICON):
        qid = f"Q{1000 + i * 3}"
        summary = f"{cats[i % len(cats)].lower()} about {w}"
        arg_label = LEXICON[(i + 1) % len(LEXICON)].title()
        kb_vals.append(
            f"('{w}', '{qid}', '{w.title()}', '{summary}',"
            f" '{arg_label}', 'summary page for {w}')"
        )
    kw_vals = ", ".join(
        f"('{v}', '{k}')" for k, v in sorted(DEFAULT_KEYWORDS.items())
    )
    lex = ", ".join(f"'{w}'" for w in LEXICON)
    return f"""
WITH tr AS ({TRANSCRIPTS_SQL}),
toks AS (SELECT conv_id, turn_idx, string_split(text, ' ') AS tk FROM tr),
pos AS (SELECT conv_id, turn_idx, tk, unnest(range(1, len(tk) + 1)) AS i
        FROM toks),
mentions AS (
  SELECT conv_id, turn_idx, tk, i, tk[i] AS w,
         CAST(row_number() OVER (PARTITION BY conv_id, turn_idx ORDER BY i) - 1
              AS INT) AS eid
  FROM pos WHERE tk[i] IN ({lex})
),
kb(w, qid, title, summary, arg_label, wiki_summary) AS (
  VALUES {", ".join(kb_vals)}
),
feats AS (
  SELECT m.conv_id, m.turn_idx, m.eid, m.i, m.w,
         kb.qid, kb.title, kb.summary, kb.arg_label,
         lower(
           array_to_string(
             m.tk[1:m.i-1] || ['[START_ENT]', m.w, '[END_ENT]'] || m.tk[m.i+1:],
             ' ')
           || ' [TAB] ' || kb.summary
           || ' [TAB] ' || kb.arg_label
           || ' [TAB] ' || kb.wiki_summary
         ) AS feat
  FROM mentions m JOIN kb ON m.w = kb.w
),
kw(tok, cat) AS (VALUES {kw_vals}),
hits AS (
  SELECT conv_id, turn_idx, eid, cat, count(*) AS cnt
  FROM (SELECT conv_id, turn_idx, eid,
               unnest(string_split(feat, ' ')) AS tok FROM feats) ft
  JOIN kw USING (tok)
  GROUP BY conv_id, turn_idx, eid, cat
),
best AS (
  SELECT conv_id, turn_idx, eid, cat FROM (
    SELECT conv_id, turn_idx, eid, cat,
           row_number() OVER (PARTITION BY conv_id, turn_idx, eid
                              ORDER BY cnt DESC, cat ASC) AS rn
    FROM hits
  ) WHERE rn = 1
),
classified AS (
  SELECT f.*, coalesce(b.cat, '{FALLBACK_LABEL}') AS pred_label,
         'mention:' || f.conv_id || '/' || CAST(f.turn_idx AS VARCHAR)
                    || '/' || CAST(f.eid AS VARCHAR) AS uri
  FROM feats f LEFT JOIN best b
    ON f.conv_id = b.conv_id AND f.turn_idx = b.turn_idx AND f.eid = b.eid
)
SELECT uri AS subj, 'links_to' AS pred, qid AS obj FROM classified
UNION ALL
SELECT uri, 'has_category', pred_label FROM classified
UNION ALL
SELECT uri, 'mentioned_in',
       conv_id || '/' || CAST(turn_idx AS VARCHAR) || '/'
               || CAST(i - 1 AS VARCHAR) || '/' || CAST(i AS VARCHAR)
FROM classified
UNION ALL
SELECT subj, pred, obj FROM (
  SELECT DISTINCT qid AS subj, 'described_as' AS pred, summary AS obj
  FROM classified
  UNION
  SELECT DISTINCT qid, 'titled', title FROM classified
  UNION
  SELECT DISTINCT qid, 'instance_of', arg_label FROM classified
)
"""


Q_KG_TRIPLES_SQL = _kg_triples_sql()


QUERIES = {
    "q01_turn_order": (q_turn_order, Q_TURN_ORDER_SQL),
    "q02_token_mentions": (q_token_mentions, Q_TOKEN_MENTIONS_SQL),
    "q03_candidates_topk": (q_candidates_topk, Q_CANDIDATES_TOPK_SQL),
    "q04_marginalize": (q_marginalize, Q_MARGINALIZE_SQL),
    "q05_first_covered": (q_first_covered, Q_FIRST_COVERED_SQL),
    "q06_vote_mode": (q_vote_mode, Q_VOTE_MODE_SQL),
    "q07_langid": (q_langid, Q_LANGID_SQL),
    "q08_langid_confusion": (q_langid_confusion, Q_LANGID_CONFUSION_SQL),
    "q09_redirect_closure": (q_redirect_closure, Q_REDIRECT_CLOSURE_SQL),
    "q10_title_max_qid": (q_title_max_qid, Q_TITLE_MAX_QID_SQL),
    "q11_dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "q12_minhash_signatures": (q_minhash_signatures, Q_MINHASH_SIGNATURES_SQL),
    "q13_minhash_pairs": (q_minhash_pairs, Q_MINHASH_PAIRS_SQL),
    "q14_simhash": (q_simhash, Q_SIMHASH_SQL),
    "q15_jaccard_pairs": (q_jaccard_pairs, Q_JACCARD_PAIRS_SQL),
    "q16_token_stats": (q_token_stats, Q_TOKEN_STATS_SQL),
    "q17_quality": (q_quality, Q_QUALITY_SQL),
    "q18_fingerprint": (q_fingerprint, Q_FINGERPRINT_SQL),
    "q19_embedding_norm": (q_embedding_norm, Q_EMBEDDING_NORM_SQL),
    "q20_cosine_topk": (q_cosine_topk, Q_COSINE_TOPK_SQL),
    "q21_sessionize": (q_sessionize, Q_SESSIONIZE_SQL),
    "q22_pricing_summary": (q_pricing_summary, Q_PRICING_SUMMARY_SQL),
    "q23_top_customers": (q_top_customers, Q_TOP_CUSTOMERS_SQL),
    "q26_salted_counts": (q_salted_counts, Q_SALTED_COUNTS_SQL),
    "q27_per_word_errors": (q_per_word_errors, Q_PER_WORD_ERRORS_SQL),
    "q28_lsh_buckets": (q_lsh_buckets, Q_LSH_BUCKETS_SQL),
    "q29_lsh_cosine_verify": (q_lsh_cosine_verify, Q_LSH_COSINE_VERIFY_SQL),
    "q30_connected_components": (q_connected_components,
                                 Q_CONNECTED_COMPONENTS_SQL),
    "q31_class_report": (q_class_report, Q_CLASS_REPORT_SQL),
}


def q_span_mentions(spark, sf_dir):
    """Q1/Q2 over the transcript stand-in with a fixed gazetteer
    (multi-token surfaces included), hash-verified against a DuckDB
    match-extraction oracle (valid because SPAN_SURFACES is
    overlap-free; see _span_matches_sql). r7: tagging runs through the
    broadcast-join gazetteer operator (detect_mentions_join — the
    pipeline's and the stream's only tagger, mention rows identical to
    the pure-Python reference tagger per the equivalence pytest), so
    the plan has no ArrowEvalPython node."""
    from kgpipe.mentions import detect_mentions_join, tokenize

    tr = tokenize(doc_transcripts(spark, sf_dir))
    from pyspark.sql.types import StringType, StructField, StructType

    surf = local_df(spark, [(s,) for s in SPAN_SURFACES],
                    StructType([StructField("surface", StringType())]))
    return detect_mentions_join(tr, surf, broadcast_dim=True).select(
        "conv_id", "turn_idx", "entity_id", "mention_id",
        "text", "start", "end", "marked_text",
    )


def q_kg_triples(spark, sf_dir):
    """Full KG pipeline (mention → candidates → link → enrich →
    classify → triples) over the transcript stand-in with an inline
    deterministic KB built from the lexicon."""
    from kgpipe import schemas
    from kgpipe.pipeline import run_pipeline

    kb_rows, mc_rows, args_rows, summ_rows = [], [], [], []
    cats = ["Software", "TechCorp", "Facility", "OtherPROD", "Scientist",
            "MusicalWork", "Disease"]
    for i, w in enumerate(LEXICON):
        qid = f"Q{1000 + i * 3}"
        kb_rows.append((
            qid, {"en": w.title()},
            {"en": f"{cats[i % len(cats)].lower()} about {w}"},
            {"en": w.title()}, {"en": [w]},
        ))
        mc_rows.append((w, qid, 100 - i))
        args_rows.append((qid, "P31", f"Q{1000 + ((i + 1) % len(LEXICON)) * 3}", 0))
        summ_rows.append((w.title(), f"summary page for {w}"))

    entity_kb = local_df(spark, kb_rows, schemas.ENTITY_KB)
    kb_args = local_df(spark, args_rows, schemas.KB_ARGS)
    mention_counts = local_df(spark, mc_rows, schemas.MENTION_COUNTS)
    summaries = local_df(spark, summ_rows, schemas.WIKI_SUMMARIES)

    tr = doc_transcripts(spark, sf_dir).select(
        "conv_id", "turn_idx",
        F.lit("user").alias("role"), "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    res = run_pipeline(
        spark, tr, entity_kb, kb_args, mention_counts, summaries,
        language="en",
    )
    return res["triples"]


def q_resolution_cascade(spark, sf_dir):
    """J4 3-way cascade (reference-faithful normalize → chase → title →
    alias order) over synthetic anchors exercising every branch:
    direct/space-underscored/fragment/lowercase titles, redirects,
    alias fallback, http short-circuit, unresolvable."""
    from kgpipe.kb import resolution_cascade, resolve_redirect_closure

    part = t(spark, sf_dir, "part")
    cust = t(spark, sf_dir, "customer")
    k50 = (F.col("p_partkey") % 50).cast("string")
    title_map = part.select(
        F.lit("en").alias("lang"),
        F.concat(F.lit("T "), k50).alias("title"),
        F.concat(F.lit("Q"), F.col("p_partkey").cast("string")).alias("qid"),
    ).distinct()
    redirects = part.select(
        F.lit("en").alias("lang"),
        F.concat(F.lit("R"), k50).alias("src_title"),
        F.concat(F.lit("T "), k50).alias("dst_title"),
    ).distinct()
    alias_map = part.select(
        F.concat(F.lit("a"), k50).alias("alias_lc"),
        F.concat(F.lit("Q"), F.col("p_partkey").cast("string")).alias("qid"),
    ).distinct()

    ck50 = (F.col("c_custkey") % 50).cast("string")
    v = F.col("c_custkey") % 7
    anchors = cust.select(
        "c_custkey", F.lit("en").alias("lang"),
        F.when(v == 0, F.concat(F.lit("T "), ck50))
        .when(v == 1, F.concat(F.lit("T_"), ck50, F.lit("#sec")))
        .when(v == 2, F.concat(F.lit("t_"), ck50))
        .when(v == 3, F.concat(F.lit("R"), ck50))
        .when(v == 4, F.concat(F.lit("A"), ck50))
        .when(v == 5, F.concat(F.lit("http://x/"),
                               F.col("c_custkey").cast("string")))
        .otherwise(F.concat(F.lit("zz"), ck50)).alias("anchor"),
    )
    out = resolution_cascade(
        anchors, title_map, resolve_redirect_closure(redirects), alias_map
    )
    return out.select(
        "c_custkey", "anchor", "resolved_qid", "provenance",
        F.size("resolved_qids").cast("long").alias("n_qids"),
    )


Q_RESOLUTION_CASCADE_SQL = """
WITH tm AS (SELECT DISTINCT 'T ' || CAST(p_partkey % 50 AS VARCHAR) AS title,
                   'Q' || CAST(p_partkey AS VARCHAR) AS qid FROM part),
rd AS (SELECT DISTINCT 'R' || CAST(p_partkey % 50 AS VARCHAR) AS src,
              'T ' || CAST(p_partkey % 50 AS VARCHAR) AS dst FROM part),
am AS (SELECT DISTINCT 'a' || CAST(p_partkey % 50 AS VARCHAR) AS alias_lc,
              'Q' || CAST(p_partkey AS VARCHAR) AS qid FROM part),
anchors AS (
  SELECT c_custkey,
    CASE c_custkey % 7
      WHEN 0 THEN 'T ' || CAST(c_custkey % 50 AS VARCHAR)
      WHEN 1 THEN 'T_' || CAST(c_custkey % 50 AS VARCHAR) || '#sec'
      WHEN 2 THEN 't_' || CAST(c_custkey % 50 AS VARCHAR)
      WHEN 3 THEN 'R' || CAST(c_custkey % 50 AS VARCHAR)
      WHEN 4 THEN 'A' || CAST(c_custkey % 50 AS VARCHAR)
      WHEN 5 THEN 'http://x/' || CAST(c_custkey AS VARCHAR)
      ELSE 'zz' || CAST(c_custkey % 50 AS VARCHAR)
    END AS anchor
  FROM customer
),
norm AS (
  SELECT c_custkey, anchor,
         contains(anchor, 'http') AS is_http,
         replace(string_split(anchor, '#')[1], '_', ' ') AS n0
  FROM anchors
),
capd AS (
  SELECT *, CASE WHEN is_http OR n0 = '' THEN NULL
                 ELSE upper(substring(n0, 1, 1)) || substring(n0, 2)
            END AS ck
  FROM norm
),
chased AS (
  SELECT capd.c_custkey, capd.anchor, capd.is_http, capd.n0,
         coalesce(rd.dst, capd.ck) AS ct
  FROM capd LEFT JOIN rd ON capd.ck = rd.src
),
wiki AS (
  SELECT ch.c_custkey, ch.anchor, ch.is_http, ch.n0, ch.ct,
         max(CAST(substring(tm.qid, 2) AS BIGINT)) AS wq,
         count(tm.qid) AS wn
  FROM chased ch LEFT JOIN tm ON tm.title = ch.ct
  GROUP BY ALL
),
ali AS (
  SELECT w.*, max(CAST(substring(am.qid, 2) AS BIGINT)) AS aq,
         count(am.qid) AS an
  FROM wiki w LEFT JOIN am ON am.alias_lc = lower(w.ct)
  GROUP BY ALL
)
SELECT c_custkey, anchor,
  CASE WHEN is_http OR n0 = '' THEN NULL
       WHEN wn > 0 THEN 'Q' || CAST(wq AS VARCHAR)
       WHEN an > 0 THEN 'Q' || CAST(aq AS VARCHAR)
       ELSE NULL END AS resolved_qid,
  CASE WHEN is_http OR n0 = '' THEN 'simple'
       WHEN wn > 0 THEN 'wikipedia'
       ELSE 'wikidata' END AS provenance,
  CAST(CASE WHEN is_http OR n0 = '' THEN 0
            WHEN wn > 0 THEN wn ELSE an END AS BIGINT) AS n_qids
FROM ali
"""


def q_lang_priority(spark, sf_dir):
    """A4 per-QID language priority (cnt desc, global total desc, lang
    asc) — langs joined to one string to keep the compared schema flat."""
    from kgpipe.kb import build_lang_priority

    rows = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("qid"),
        F.col("event_type").alias("lang"),
    )
    return build_lang_priority(rows).select(
        "qid", F.concat_ws("|", "langs").alias("langs")
    )


Q_LANG_PRIORITY_SQL = """
WITH pq AS (SELECT CAST(user_id AS VARCHAR) AS qid, event_type AS lang,
                   count(*) AS cnt
            FROM events GROUP BY 1, 2),
g AS (SELECT lang, sum(cnt) AS total FROM pq GROUP BY lang)
SELECT qid, string_agg(lang, '|' ORDER BY cnt DESC, total DESC, lang ASC)
         AS langs
FROM pq JOIN g USING (lang) GROUP BY qid
"""


def q_recall_at_k(spark, sf_dir):
    """A10 R@1/R@10: per-user ranked event-type list (count desc, type
    asc, capped 10), gold = 'purchase'."""
    from kgpipe.metrics import recall_at_k

    counted = t(spark, sf_dir, "events").groupBy("user_id", "event_type") \
        .agg(F.count("*").alias("cnt"))
    preds = counted.groupBy("user_id").agg(
        F.expr(
            "slice(transform(array_sort(collect_list("
            "struct(-cnt as neg, event_type as et))), x -> x.et), 1, 10)"
        ).alias("genre_prediction")
    ).withColumn("gold_qid", F.lit("purchase"))
    return recall_at_k(preds, ks=(1, 10))


Q_RECALL_AT_K_SQL = """
WITH counted AS (SELECT user_id, event_type, count(*) AS cnt
                 FROM events GROUP BY 1, 2),
ranked AS (SELECT user_id, event_type,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY cnt DESC, event_type ASC) AS rn
           FROM counted),
pr AS (SELECT user_id,
              min(CASE WHEN event_type = 'purchase' THEN rn END) AS prank
       FROM ranked GROUP BY user_id)
SELECT CAST(round(avg(CASE WHEN prank IS NOT NULL AND prank <= 1
                           THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS r_at_1,
       CAST(round(avg(CASE WHEN prank IS NOT NULL AND prank <= 10
                           THEN 1.0 ELSE 0.0 END), 6) AS DOUBLE) AS r_at_10
FROM pr
"""


def q_el_overlap(spark, sf_dir):
    """A9 EL running accuracy: hit = gold∩pred nonempty per user
    (arrays_overlap on collected sets)."""
    from kgpipe.metrics import el_running_metrics

    g = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.collect_set(F.when(F.col("event_id") % 2 == 0,
                             F.col("event_type"))).alias("gold_qids"),
        F.collect_set(F.when(F.col("value") > 500,
                             F.col("event_type"))).alias("genre_prediction"),
    )
    return el_running_metrics(g)


Q_EL_OVERLAP_SQL = """
WITH gold AS (SELECT DISTINCT user_id, event_type FROM events
              WHERE event_id % 2 = 0),
pred AS (SELECT DISTINCT user_id, event_type FROM events WHERE value > 500),
users AS (SELECT DISTINCT user_id FROM events),
hits AS (SELECT DISTINCT g.user_id
         FROM gold g JOIN pred p USING (user_id, event_type))
SELECT CAST(round(avg(CASE WHEN h.user_id IS NOT NULL THEN 1.0 ELSE 0.0 END),
                  6) AS DOUBLE) AS accuracy,
       count(*) AS n
FROM users u LEFT JOIN hits h ON u.user_id = h.user_id
"""


def q_multi_seed(spark, sf_dir):
    """A11 multi-seed mean/stdev table with the f1 < 5 outlier drop."""
    from kgpipe.metrics import multi_seed_table

    runs = t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("dataset"),
        (F.col("o_orderkey") % 100).cast("double").alias("f1"),
        (F.col("o_orderkey") % 50).cast("double").alias("precision"),
        (F.col("o_orderkey") % 25).cast("double").alias("recall"),
    )
    return multi_seed_table(runs)


Q_MULTI_SEED_SQL = """
SELECT o_orderstatus AS dataset,
       CAST(round(avg(f1), 6) AS DOUBLE) AS f1_mean,
       CAST(round(coalesce(stddev_samp(f1), 0.0), 6) AS DOUBLE) AS f1_std,
       CAST(round(avg(p), 6) AS DOUBLE) AS p_mean,
       CAST(round(avg(r), 6) AS DOUBLE) AS r_mean,
       count(*) AS n_runs
FROM (
  SELECT o_orderstatus,
         CAST(o_orderkey % 100 AS DOUBLE) AS f1,
         CAST(o_orderkey % 50 AS DOUBLE) AS p,
         CAST(o_orderkey % 25 AS DOUBLE) AS r
  FROM orders
) WHERE f1 >= 5 GROUP BY o_orderstatus
"""


def q_relaxed_overlap(spark, sf_dir):
    """A12 relaxed token-overlap matrix: gold spans of length 2, pred
    spans of length 1, deliberate class confusions (q31's splits)."""
    from kgpipe.metrics import relaxed_overlap_matrix

    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")

    gold = toks.filter(F.col("token").isin(LEXICON)).select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 2).alias("end"),
        F.when(F.col("token").isin(_CLS_GOLD_A), F.lit("TYPE_A"))
        .otherwise(F.lit("TYPE_B")).alias("label"),
    )
    pred = toks.filter(F.col("token").isin(_CLS_PRED_LEX)).select(
        "doc_id", F.col("pos").alias("start"), (F.col("pos") + 1).alias("end"),
        F.when(F.col("token").isin(_CLS_PRED_A), F.lit("TYPE_A"))
        .otherwise(F.lit("TYPE_B")).alias("label"),
    )
    return relaxed_overlap_matrix(pred, gold)


def _relaxed_overlap_sql() -> str:
    def inlist(ws):
        return ", ".join(f"'{w}'" for w in ws)

    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
),
gold AS (
  SELECT doc_id, pos AS g_s, pos + 2 AS g_e,
         CASE WHEN token IN ({inlist(_CLS_GOLD_A)}) THEN 'TYPE_A'
              ELSE 'TYPE_B' END AS gold_type
  FROM toks WHERE token IN ({inlist(LEXICON)})
),
pred AS (
  SELECT doc_id, pos AS p_s, pos + 1 AS p_e,
         CASE WHEN token IN ({inlist(_CLS_PRED_A)}) THEN 'TYPE_A'
              ELSE 'TYPE_B' END AS pred_type
  FROM toks WHERE token IN ({inlist(_CLS_PRED_LEX)})
)
SELECT gold_type, pred_type, count(*) AS n
FROM gold g JOIN pred p ON g.doc_id = p.doc_id
  AND p.p_s < g.g_e AND g.g_s < p.p_e
GROUP BY gold_type, pred_type
"""


Q_RELAXED_OVERLAP_SQL = _relaxed_overlap_sql()


def q_anchors_solved(spark, sf_dir):
    """A13 anchors-solved ratio over synthetic qid sets of size
    event_id % 3."""
    from kgpipe.metrics import anchors_solved_ratio

    df = t(spark, sf_dir, "events").select(
        F.expr("transform(sequence(1, cast(event_id % 3 as int)),"
               " i -> cast(i as string))").alias("qids")
    )
    return anchors_solved_ratio(df)


Q_ANCHORS_SOLVED_SQL = """
SELECT CAST(round(sum(CASE WHEN event_id % 3 = 1 THEN 1 ELSE 0 END) * 1.0
                  / count(*), 6) AS DOUBLE) AS solved_ratio,
       count(*) AS n_anchors
FROM events
"""


QUERIES["q24_span_mentions"] = (q_span_mentions, Q_SPAN_MENTIONS_SQL)
QUERIES["q25_kg_triples"] = (q_kg_triples, Q_KG_TRIPLES_SQL)


# ---------------------------------------------- round-2 coverage batch
# Hash-verify the per-row tag state machines (P1 IOB/IOB2/BILOU, Q8
# gap merge — pandas UDFs on the Spark side) against pure window-SQL
# twins: both encoders are functions of (tag, previous original tag)
# and BILOU of (iob2, next iob2), so lag/lead replicate them exactly.
# merge_gap_tags' in-place forward pass is provably equivalent to the
# original-neighbor formulation (a modified position is always followed
# by I-, never O, so no filled gap can feed a later gap's left side).

_TAG_CASE = ("CASE length({t}) % 6 WHEN 0 THEN 'O' WHEN 1 THEN 'B-X'"
             " WHEN 2 THEN 'I-X' WHEN 3 THEN 'I-Y' WHEN 4 THEN 'U-X'"
             " ELSE 'L-Y' END")


def q_tag_rewrite(spark, sf_dir):
    from kgpipe.tags import (
        merge_gap_tags_udf, rewrite_bilou_udf, rewrite_iob2_udf,
        rewrite_iob_udf,
    )

    tagged = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("transform(split(text, ' '), t -> "
               + _TAG_CASE.format(t="t") + ")").alias("tags"),
    )
    out = (
        tagged
        .withColumn("iob", rewrite_iob_udf("tags"))
        .withColumn("iob2", rewrite_iob2_udf("tags"))
        .withColumn("bilou", rewrite_bilou_udf("tags"))
        .withColumn("merged", merge_gap_tags_udf("tags"))
        .select("doc_id", F.posexplode(
            F.arrays_zip("tags", "iob", "iob2", "bilou", "merged")
        ).alias("pos0", "z"))
        .select(
            "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"),
            F.col("z.tags").alias("tag"), F.col("z.iob").alias("iob"),
            F.col("z.iob2").alias("iob2"), F.col("z.bilou").alias("bilou"),
            F.col("z.merged").alias("merged"),
        )
    )
    return out


Q_TAG_REWRITE_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
  FROM documents
),
tagged AS (SELECT doc_id, pos, {_TAG_CASE.format(t='token')} AS tag FROM toks),
w AS (
  SELECT doc_id, pos, tag,
         lag(tag) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
         lead(tag) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM tagged
),
base AS (
  SELECT doc_id, pos, tag, prev, nxt,
         substring(tag, 1, 1) AS b, substring(tag, 3) AS t,
         CASE WHEN prev IS NULL OR prev = 'O' THEN NULL
              ELSE substring(prev, 1, 1) END AS pb,
         CASE WHEN prev IS NULL OR prev = 'O' THEN NULL
              ELSE substring(prev, 3) END AS pt
  FROM w
),
enc AS (
  SELECT doc_id, pos, tag, prev, nxt,
         CASE WHEN tag = 'O' THEN 'O'
              WHEN b IN ('B','U') AND pb IS NOT NULL AND pt = t
                THEN 'B-' || t
              ELSE 'I-' || t END AS iob,
         CASE WHEN tag = 'O' THEN 'O'
              WHEN b IN ('B','U') OR pb IS NULL OR pt != t THEN 'B-' || t
              ELSE 'I-' || t END AS iob2,
         CASE WHEN tag = 'O' AND prev IS NOT NULL AND nxt IS NOT NULL
               AND substring(prev, 1, 1) IN ('B','I')
               AND substring(nxt, 1, 1) = 'I'
               AND substring(prev, 3) = substring(nxt, 3)
              THEN nxt ELSE tag END AS merged
  FROM base
),
bil AS (
  SELECT *, lead(iob2) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt2
  FROM enc
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos, tag, iob, iob2,
       CASE WHEN iob2 = 'O' THEN 'O'
            WHEN substring(iob2, 1, 1) = 'B' THEN
              CASE WHEN nxt2 = 'I-' || substring(iob2, 3) THEN iob2
                   ELSE 'U-' || substring(iob2, 3) END
            ELSE
              CASE WHEN nxt2 = iob2 THEN iob2
                   ELSE 'L-' || substring(iob2, 3) END
       END AS bilou,
       merged
FROM bil
"""


def q_truncate_context(spark, sf_dir):
    """Q3 context-window truncation (create_input 4-case logic) over
    variable split points so every branch fires."""
    from kgpipe.ingest import truncate_context

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    ).withColumn("n", F.size("tk")).filter(F.col("n") >= 3)
    # mention = 2 tokens starting at n//3 (1-based slice start);
    # floor() explicitly — DuckDB CAST(x AS INT) rounds, Spark truncates
    d = d.withColumn("ms", F.floor(F.col("n") / 3).cast("int") + 1)
    d = d.select(
        "doc_id",
        F.expr("slice(tk, 1, ms - 1)").alias("left"),
        F.expr("slice(tk, ms, least(2, n - ms + 1))").alias("mention"),
        F.expr("slice(tk, ms + 2, greatest(n - ms - 1, 0))").alias("right"),
    )
    return d.select(
        "doc_id",
        truncate_context(F.col("left"), F.col("mention"), F.col("right"),
                         max_length=12).alias("marked"),
    )


Q_TRUNCATE_CONTEXT_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS n
  FROM documents WHERE len(string_split(text, ' ')) >= 3
),
parts AS (
  SELECT doc_id,
         tk[1 : ms - 1] AS l,
         tk[ms : ms + least(2, n - ms + 1) - 1] AS m,
         tk[ms + 2 : ms + 2 + greatest(n - ms - 1, 0) - 1] AS r
  FROM (SELECT doc_id, tk, n, CAST(n // 3 AS INT) + 1 AS ms FROM d)
),
sized AS (
  SELECT doc_id, l, m, r, len(l) AS ls, len(r) AS rs,
         len(l) + len(r) + len(m) AS total
  FROM parts
)
SELECT doc_id,
  CASE
    WHEN total <= 12 THEN
      array_to_string(l || ['[START]'] || m || ['[END]'] || r, ' ')
    WHEN ls <= 6 THEN
      array_to_string(l || ['[START]'] || m || ['[END]']
        || r[1 : greatest(12 - ls, 0)], ' ')
    WHEN rs <= 6 THEN
      array_to_string(
        list_slice(l, greatest(ls - (12 - rs) + 1, 1),
                   greatest(ls - (12 - rs) + 1, 1) + greatest(12 - rs, 0) - 1)
        || ['[START]'] || m || ['[END]'] || r, ' ')
    ELSE
      array_to_string(
        list_slice(l, greatest(ls - 6 + 1, 1),
                   greatest(ls - 6 + 1, 1) + least(ls, 6) - 1)
        || ['[START]'] || m || ['[END]'] || r[1:6], ' ')
  END AS marked
FROM sized
"""

_Q41_TAG = ("CASE length({t}) % 5 WHEN 0 THEN 'O' WHEN 1 THEN 'B-X'"
            " WHEN 2 THEN 'I-X' WHEN 3 THEN 'B-Y' ELSE 'I-Y' END")


def q_subword_align(spark, sf_dir):
    """Q6 subword label alignment (run_ner.py:454-487) with the
    deterministic chunk tokenizer and label_all_tokens=True (exercises
    the B→I conversion) — pandas-UDF vs SQL-flatten twin."""
    from kgpipe.seq_compat import align_subword_labels_udf

    tagged = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words")
    ).withColumn(
        "tags",
        F.expr("transform(words, t -> " + _Q41_TAG.format(t="t") + ")"),
    )
    aligned = tagged.withColumn(
        "a", align_subword_labels_udf(label_all_tokens=True)("words", "tags")
    )
    return aligned.select(
        "doc_id",
        F.posexplode(F.arrays_zip("a.subtokens", "a.aligned_labels"))
        .alias("spos0", "z"),
    ).select(
        "doc_id", (F.col("spos0")).cast("long").alias("spos"),
        F.col("z.subtokens").alias("subtoken"),
        F.col("z.aligned_labels").alias("label"),
    )


Q_SUBWORD_ALIGN_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token,
         unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
         len(string_split(text, ' ')) AS n
  FROM documents
),
tagged AS (SELECT doc_id, pos, n, token,
                  {_Q41_TAG.format(t='token')} AS tag FROM toks),
pieces AS (
  SELECT doc_id, pos, j,
         substring(token, (j - 1) * 4 + 1, 4) AS subtoken,
         CASE WHEN j = 1 THEN tag
              WHEN substring(tag, 1, 1) = 'B' THEN 'I-' || substring(tag, 3)
              ELSE tag END AS label
  FROM tagged, LATERAL (
    SELECT unnest(range(1,
      greatest(CAST(ceil(length(token) / 4.0) AS INT), 1) + 1)) AS j)
),
specials AS (
  SELECT DISTINCT doc_id, 0 AS pos, 1 AS j, '[CLS]' AS subtoken,
         '-100' AS label FROM toks
  UNION ALL
  SELECT DISTINCT doc_id, n + 1, 1, '[SEP]', '-100' FROM toks
),
allrows AS (SELECT * FROM pieces UNION ALL SELECT * FROM specials)
SELECT doc_id,
       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos, j) - 1
            AS BIGINT) AS spos,
       subtoken, label
FROM allrows
"""


# ---------------------------------------------- q42 multi-table LSH ANN

def q_lsh_multitable_verify(spark, sf_dir):
    """Banded multi-table cosine LSH (4 tables × 4 planes — the recall
    fix over the single 8-plane table, mirroring MinHash banding) →
    exact-cosine verification of the union of per-table candidates.
    The production ANN composition: N bucket equi-joins, exact re-rank
    only inside buckets."""
    from kgpipe.similarity import lsh_multitable_cosine_verify

    emb = t(spark, sf_dir, "embeddings")
    # r7: per-table bucket joins carry vectors+norms and emit each pair
    # at its FIRST colliding table (no pair-stream distinct, no pair×
    # array re-join shuffles); pair set and cosines bit-identical
    return lsh_multitable_cosine_verify(
        emb, n_tables=4, planes_per_table=4, threshold=0.2,
        dim=_emb_dim(sf_dir))


def _lsh_multitable_sql(n_tables: int, planes_per_table: int) -> str:
    n_planes = n_tables * planes_per_table
    projs, _ = _lsh_proj_sql(n_planes)
    buckets = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN proj_{t_ * planes_per_table + k} > 0"
            f" THEN {2 ** k} ELSE 0 END)"
            for k in range(planes_per_table)
        )
        + f" AS BIGINT) AS bucket_{t_}"
        for t_ in range(n_tables)
    )
    tbl_union = " UNION ALL ".join(
        f"SELECT vec_id, {t_} AS tbl, bucket_{t_} AS bucket FROM b"
        for t_ in range(n_tables)
    )
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (
  SELECT vec_id, {buckets} FROM (SELECT vec_id, {projs} FROM v)
),
tb AS ({tbl_union}),
pairs AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM tb l JOIN tb r
    ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT p.a, p.b,
       CAST(round(list_dot_product(va.v, vb.v)
            / (sqrt(list_dot_product(va.v, va.v))
               * sqrt(list_dot_product(vb.v, vb.v))), 6) AS DOUBLE) AS cosine
FROM pairs p JOIN v va ON va.vec_id = p.a JOIN v vb ON vb.vec_id = p.b
WHERE round(list_dot_product(va.v, vb.v)
      / (sqrt(list_dot_product(va.v, va.v))
         * sqrt(list_dot_product(vb.v, vb.v))), 6) >= 0.2
"""


Q_LSH_MULTITABLE_SQL = _lsh_multitable_sql(4, 4)


# ---------------------------------------------- q43 W4 context window

def q_context_window(spark, sf_dir):
    """W4 cross-turn context (±2 turns of text per turn) over the
    transcript stand-in — the windowed collect_list that feeds the
    reference's sentence-context marking (run_genre.py:206-212),
    serialized with a separator for cross-engine hashing."""
    from kgpipe.mentions import context_window

    out = context_window(doc_transcripts(spark, sf_dir), k=2)
    return out.select(
        "conv_id", "turn_idx",
        F.size("context_texts").cast("long").alias("n_ctx"),
        F.concat_ws(" • ", "context_texts").alias("context"),
    )


Q_CONTEXT_WINDOW_SQL = f"""
WITH tr AS ({TRANSCRIPTS_SQL})
SELECT conv_id, turn_idx,
       CAST(len(ctx) AS BIGINT) AS n_ctx,
       array_to_string(ctx, ' • ') AS context
FROM (
  SELECT conv_id, turn_idx,
         list(text) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ctx
  FROM tr
)
"""


# ---------------------------------------------- q44 dedup clusters

def q_dedup_clusters(spark, sf_dir):
    """Cluster-based near-dup dedup (the full 100 TB composition):
    MinHash-LSH candidate pairs → connected components over the pair
    graph → min-doc_id representative per cluster, on the doc_id%20
    subset (same pair graph q13 verifies)."""
    from kgpipe.dedup import dedup_clusters

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    return dedup_clusters(docs, _token_ids(spark, sf_dir))


Q_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE sig AS ({_minhash_sql('doc_id % 20 = 0').strip()}),
bands AS (
  SELECT doc_id, band_0 AS bk FROM sig UNION ALL
  SELECT doc_id, band_1 FROM sig UNION ALL
  SELECT doc_id, band_2 FROM sig UNION ALL
  SELECT doc_id, band_3 FROM sig
),
pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.bk = r.bk AND l.doc_id < r.doc_id
),
sym AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
reach(src, node) AS (
  SELECT a, a FROM sym
  UNION
  SELECT r.src, s.b FROM reach r JOIN sym s ON r.node = s.a
)
SELECT src AS doc_id, min(node) AS keep_id FROM reach GROUP BY src
"""


def q_stream_progress(spark, sf_dir):
    """Batch-equivalence verification for the custom stateful streaming
    operator (streaming.conversation_progress, §2.10): drain the
    documents table as a file-source stream through
    applyInPandasWithState with an idle timeout under
    trigger(availableNow=True) — the final no-data batch fires every
    pending processing-time timeout, so each conversation emits exactly
    one complete=true row carrying its cross-batch accumulated state.
    Those final states MUST equal the plain batch aggregate over the
    same input (the DuckDB oracle) — pinning the stateful operator to
    the same hash-verified standard as every batch operator."""
    import shutil
    import tempfile

    from kgpipe.streaming import conversation_progress

    # the file stream source lists a DIRECTORY; the test table is a
    # single parquet file — stage it into a temp dir (tiny at sf0.01)
    src_dir = tempfile.mkdtemp(prefix="kgpipe-q45-src-")
    shutil.copy(f"{sf_dir}/documents.parquet",
                f"{src_dir}/documents.parquet")
    stream = (
        spark.readStream
        .schema("doc_id long, text string, lang string, source string,"
                " n_chars long")
        .parquet(src_dir)
        .select(
            F.col("source").alias("conv_id"),
            F.col("doc_id").cast("int").alias("turn_idx"),
            "text",
        )
    )
    prog = conversation_progress(stream, idle_timeout_ms=1_000)
    ck = tempfile.mkdtemp(prefix="kgpipe-q45-ck-")
    sink = "q45_progress_sink"
    try:  # same session may have run q45 before (fresh run = fresh table)
        spark.catalog.dropTempView(sink)
    except Exception:
        pass
    q = (
        prog.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    # a drained availableNow query with pending processing-time
    # timeouts keeps scheduling no-data batches — it never terminates
    # on its own (the measured quirk that delivers the timeout flush).
    # Every conversation that appeared in any batch must finalize
    # exactly once; poll the SINK TABLE's aggregate for that condition
    # (one count row per poll — no per-row driver collect anywhere)
    # and stop the query as soon as it holds.
    import time as _time

    def drain_state():
        # count DISTINCT finalized conversations: a conversation that
        # finalizes twice (possible with multi-batch sources where data
        # arrives after a timeout fired) must not mask another
        # conversation that never finalized
        return spark.table(sink).agg(
            F.count_distinct(F.col("conv_id")).alias("seen"),
            F.count_distinct(
                F.when(F.col("complete"), F.col("conv_id"))).alias("final"),
        ).first()

    deadline = _time.time() + 240
    while q.isActive and _time.time() < deadline:
        s = drain_state()
        if s["seen"] > 0 and s["final"] >= s["seen"]:
            break
        _time.sleep(0.25)
    # stop() interrupts whatever no-data batch is in flight, which can
    # log a CANNOT_COMMIT state-store ERROR — benign: the break
    # condition was observed on the already-committed sink table, and
    # with a single staged input file every conv_id is seen from batch
    # 0, so the interrupted batch carries no rows the check needs (the
    # post-stop drain_state() re-check below guards it regardless).
    q.stop()
    q.awaitTermination(60)
    s = drain_state()
    if s["seen"] == 0 or s["final"] < s["seen"]:
        raise RuntimeError(
            f"stream drain incomplete: {s['final']}/{s['seen']}")
    # the memory sink table outlives the stopped query. Normally each
    # conversation holds exactly one complete=true row (state removed on
    # timeout), but a re-finalized conversation (data after a timeout in
    # a multi-batch source) would hold two — collapse by conv_id taking
    # the max of each accumulated (monotone) field so the result is
    # deterministic and single-row-per-conversation regardless
    return (
        spark.table(sink).filter(F.col("complete"))
        .groupBy("conv_id")
        .agg(F.max("n_turns").alias("n_turns"),
             F.max("max_turn_idx").alias("max_turn_idx"),
             F.max("n_tokens").alias("n_tokens"))
    )


Q_STREAM_PROGRESS_SQL = """
SELECT source AS conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(max(doc_id) AS INT) AS max_turn_idx,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
FROM documents GROUP BY source
"""


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (third scale path next to q28/q29 LSH and q42 banded
    LSH): coarse-quantize into 8 cells (deterministic lowest-id seeds),
    probe each query's 2 nearest cells, exact-cosine top-3 re-rank
    inside the probed candidates."""
    from kgpipe.similarity import ivf_topk

    emb = t(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") % 50 == 0),
                   k=3, n_cells=8, nprobe=2)
    return out.select(
        "query_id", "neighbor_id",
        F.col("rank").cast("long").alias("rank"), "cosine",
    )


Q_IVF_TOPK_SQL = """
WITH cent AS (
  SELECT vec_id AS cell, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             CAST(round(list_dot_product(e.v, e.v)
                        + list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(e.v, c.cv), 6) AS DOUBLE) ASC,
             c.cell ASC) AS rn
    FROM emb e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id % 50 = 0),
qc AS (
  SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             CAST(round(list_dot_product(q.qv, q.qv)
                        + list_dot_product(c.cv, c.cv)
                        - 2 * list_dot_product(q.qv, c.cv), 6) AS DOUBLE) ASC,
             c.cell ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT qc.query_id, e.vec_id AS neighbor_id,
         CAST(round(list_dot_product(qc.qv, e.v)
              / (sqrt(list_dot_product(qc.qv, qc.qv))
                 * sqrt(list_dot_product(e.v, e.v))), 6) AS DOUBLE) AS cosine
  FROM qc JOIN assigned a ON qc.cell = a.cell
  JOIN emb e ON e.vec_id = a.vec_id
  WHERE e.vec_id != qc.query_id
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 3
"""


QUERIES["q32_tag_rewrite"] = (q_tag_rewrite, Q_TAG_REWRITE_SQL)
QUERIES["q33_truncate_context"] = (q_truncate_context, Q_TRUNCATE_CONTEXT_SQL)
QUERIES["q34_resolution_cascade"] = (q_resolution_cascade,
                                     Q_RESOLUTION_CASCADE_SQL)
QUERIES["q35_lang_priority"] = (q_lang_priority, Q_LANG_PRIORITY_SQL)
QUERIES["q36_recall_at_k"] = (q_recall_at_k, Q_RECALL_AT_K_SQL)
QUERIES["q37_el_overlap"] = (q_el_overlap, Q_EL_OVERLAP_SQL)
QUERIES["q38_multi_seed"] = (q_multi_seed, Q_MULTI_SEED_SQL)
QUERIES["q39_relaxed_overlap"] = (q_relaxed_overlap, Q_RELAXED_OVERLAP_SQL)
QUERIES["q40_anchors_solved"] = (q_anchors_solved, Q_ANCHORS_SOLVED_SQL)
QUERIES["q41_subword_align"] = (q_subword_align, Q_SUBWORD_ALIGN_SQL)
QUERIES["q42_lsh_multitable"] = (q_lsh_multitable_verify, Q_LSH_MULTITABLE_SQL)
QUERIES["q43_context_window"] = (q_context_window, Q_CONTEXT_WINDOW_SQL)
QUERIES["q44_dedup_clusters"] = (q_dedup_clusters, Q_DEDUP_CLUSTERS_SQL)
QUERIES["q45_stream_progress"] = (q_stream_progress, Q_STREAM_PROGRESS_SQL)
QUERIES["q46_ivf_topk"] = (q_ivf_topk, Q_IVF_TOPK_SQL)


def q_simhash_pairs(spark, sf_dir):
    """Banded SimHash near-dup pairs (4 bands × 4 bits over the 16-bit
    fingerprint → one equi-join per band → exact hamming verify):
    completes SimHash from fingerprint (q14) to dedup operator, with
    the pigeonhole recall guarantee bands > max_hamming."""
    from kgpipe.dedup import simhash_pairs

    return simhash_pairs(t(spark, sf_dir, "documents"),
                         _token_ids(spark, sf_dir),
                         bands=4, max_hamming=3)


_SIMHASH_BANDS_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band,"
    f" CAST((simhash // {1 << (b * 4)}) % 16 AS BIGINT) AS bk FROM sim"
    for b in range(4)
)

Q_SIMHASH_PAIRS_SQL = f"""
WITH sim AS ({_simhash_sql().strip()}),
bands AS ({_SIMHASH_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.bk = r.bk AND l.doc_id < r.doc_id
)
SELECT c.a, c.b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c JOIN sim sa ON sa.doc_id = c.a JOIN sim sb ON sb.doc_id = c.b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
"""

QUERIES["q47_simhash_pairs"] = (q_simhash_pairs, Q_SIMHASH_PAIRS_SQL)

# rows-only queries (no SQL oracle; currently none — every driver query
# is DuckDB-verified)
ROWS_ONLY_QUERIES: dict = {}
