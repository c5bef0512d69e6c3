"""Deduplication operators for training-data pipelines: exact,
shingle-Jaccard, MinHash+LSH, SimHash.

All hash functions are explicit integer arithmetic over a deterministic
token-id dictionary (build_token_ids) — no engine-specific hash builtins
— so every operator is reproducible bit-for-bit in any SQL engine (the
DuckDB oracle runs the same formulas).

Scale notes: exact dedup is two-pass — a groupBy on a 64-bit digest
(16 bytes/row shuffled) then raw-text verification of only the
digest-repeating rows; MinHash signatures are one explode+groupBy per
doc (map-side combinable); LSH banding turns the quadratic pair search
into an equi-join on band keys; dedup_clusters closes the loop with
connected components over the pair graph. Shingle-Jaccard prunes
candidate pairs through rare shingles (document frequency cap,
optionally corpus-relative) before the exact pair join.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def unpersist_after(df: DataFrame):
    """Scope the caller-owns-unpersist contract of the eager pair
    functions (jaccard_pairs / minhash_lsh_pairs / simhash_pairs, which
    return a CACHED frame):

        with unpersist_after(minhash_lsh_pairs(df, ids)) as pairs:
            ... consume pairs ...

    guarantees the cached frame is released on exit (also on error), so
    repeated calls across a long session / bench pass can't accumulate
    pinned storage. Consumers that must outlive the block (rare) should
    copy out (e.g. collect or write) before exit."""
    try:
        yield df
    finally:
        # blocking: the release is part of the contract — callers (and
        # the hygiene tests) may rely on the storage being gone when the
        # block exits, not eventually
        df.unpersist(blocking=True)

# (a, b) parameters for the 8 universal hashes h_j(x) = (a·x + b) mod P
MINHASH_P = 8191
MINHASH_PARAMS = [
    (2971, 433), (1583, 1223), (3319, 2741), (4219, 761),
    (5431, 3571), (6247, 89), (7001, 4999), (911, 6151),
]
SIMHASH_BITS = 16
SIMHASH_A = 1103515245
SIMHASH_B = 12345
SIMHASH_M = 2147483648


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     digest=None,
                     include_singletons: bool = False) -> DataFrame:
    """Exact dedup groups: (text, keep_id = min doc_id, n_dups);
    with include_singletons=True every document appears (unique texts
    as their own n_dups=1 group — the q11 full-inventory contract).

    Two-pass digest shape for 100 TB corpora: pass 1 groups by a 64-bit
    digest of the text, so the big shuffle carries (digest, doc_id) —
    ~8+8 bytes/row instead of full document bodies (~50× less shuffle
    IO on web documents). Only rows whose digest repeats (the duplicate
    candidates, a tiny fraction of a deduplicated crawl) proceed to
    pass 2, which verifies with an exact group-by on the raw text —
    so a digest COLLISION can never merge two different documents; it
    only costs a few extra rows in the small verified pass.

    `digest` is a pluggable Column fn (default xxhash64 — safe because
    the verification pass makes the result digest-independent; tests
    inject a deliberately-colliding digest to prove it)."""
    digest = digest or (lambda c: F.xxhash64(c))
    d = df.select(F.col("doc_id"), F.col(text_col),
                  digest(F.col(text_col)).alias("_digest"))
    dup_digests = (
        d.groupBy("_digest").agg(F.count("*").alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_digest")
    )
    candidates = d.join(dup_digests, "_digest", "left_semi")
    grouped = (
        candidates.groupBy(text_col)
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_dups"))
    )
    if include_singletons:
        # digest-unique rows are provably text-unique (equal text ⇒
        # equal digest), so they join the output without ever being
        # shuffled by text; collision-split candidates (n_dups == 1
        # after verification) come back through `grouped` unfiltered
        singles = d.join(dup_digests, "_digest", "left_anti").select(
            F.col(text_col),
            F.col("doc_id").alias("keep_id"),
            F.lit(1).cast("long").alias("n_dups"),
        )
        return (
            grouped.select(text_col, "keep_id", "n_dups")
            .unionByName(singles)
        )
    return grouped.filter(F.col("n_dups") > 1)


def shingles(df: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) distinct word n-gram shingles via sequence+
    transform — JVM-side, no UDF."""
    t = df.withColumn("tokens", F.split("text", " "))
    sh = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("tokens") >= n,
                F.expr(
                    f"transform(sequence(0, size(tokens) - {n}),"
                    f" i -> concat_ws(' ', slice(tokens, i + 1, {n})))"
                ),
            ).otherwise(F.array(F.col("text"))),
        ).alias("shingle"),
    )
    return sh.distinct()


def jaccard_pairs(df: DataFrame, n: int = 3, threshold: float = 0.5,
                  max_df: int | None = 3,
                  max_df_frac: float | None = None,
                  eager: bool = True) -> DataFrame:
    """Near-dup pairs by exact shingle Jaccard, with candidate pruning
    through rare shingles (document frequency ≤ max_df) — the join-side
    guard that keeps the pair space linear under a tiny vocabulary.
    Both docs of a reported pair satisfy |A∩B| / |A∪B| ≥ threshold.

    max_df sizing: an ABSOLUTE cap silently empties the candidate set
    on large corpora (boilerplate shingles shared by thousands of pages
    all exceed it, and near-dup pairs whose shared shingles are merely
    "uncommon" — df 4..50 on a 10⁹-doc crawl — are never joined: a
    recall cliff, not a crash). Pass `max_df_frac` to make the cap
    corpus-RELATIVE: max_df = max(2, ceil(frac · n_docs)), computed
    with one count job. Trade-off: a larger cap admits more candidate
    pairs through the equi-join (cost grows ~quadratically inside a
    shingle bucket), but every admitted pair is still exactly verified;
    frac ≈ a few percent keeps buckets bounded while tracking corpus
    growth. max_df_frac overrides max_df when both are given; BOTH None
    means explicitly uncapped (every shingle joins — the caller opted
    out of pruning; never a silent NULL predicate that would empty the
    candidate set).

    eager=True (default) materializes the pair set and unpersists the
    shingle cache before returning, so no intermediate stays pinned in
    executor memory (the returned frame itself is cached; the caller
    owns its unpersist). eager=False returns the lazy plan and the
    caller owns the shingle cache lifecycle."""
    if max_df_frac is not None:
        import math

        n_docs = df.count()
        max_df = max(2, math.ceil(max_df_frac * n_docs))
    sh = shingles(df, n).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    if max_df is None:
        rare = sh  # explicitly uncapped
    else:
        rare = sh.join(
            sh.groupBy("shingle").agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df),
            "shingle",
        )
    cand = (
        rare.alias("l")
        .join(rare.alias("r"), "shingle")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )
    inter = (
        cand.join(sh.alias("sa"), F.col("a") == F.col("sa.doc_id"))
        .join(
            sh.alias("sb"),
            (F.col("b") == F.col("sb.doc_id"))
            & (F.col("sa.shingle") == F.col("sb.shingle")),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "a")
                   .withColumnRenamed("sz", "sz_a"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b")
              .withColumnRenamed("sz", "sz_b"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    if eager:
        out = out.cache()
        out.count()
        sh.unpersist()
    return out


def minhash_signatures(df: DataFrame, token_ids: DataFrame) -> DataFrame:
    """Per-doc MinHash signature over distinct token ids:
    minh_j = min_j (a_j·id + b_j) mod P. Returns doc_id + minh_0..minh_7
    + 4 band keys (bands of 2 → LSH buckets)."""
    toks = (
        df.withColumn("tokens", F.split("text", " "))
        .select("doc_id", F.explode(F.array_distinct("tokens")).alias("token"))
        .join(F.broadcast(token_ids.select("token", "token_id")), "token")
    )
    # cast to long BEFORE multiplying: token_id is IntegerType and
    # a·token_id overflows int32 past ~307k vocabulary entries (ANSI
    # mode throws); the DuckDB oracle already computes in BIGINT
    aggs = [
        F.min((F.col("token_id").cast("long") * a + b) % MINHASH_P).alias(f"minh_{j}")
        for j, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    sig = toks.groupBy("doc_id").agg(*aggs)
    for band in range(4):
        sig = sig.withColumn(
            f"band_{band}",
            F.col(f"minh_{2 * band}") * MINHASH_P + F.col(f"minh_{2 * band + 1}"),
        )
    return sig


def minhash_lsh_pairs(df: DataFrame, token_ids: DataFrame,
                      eager: bool = True) -> DataFrame:
    """LSH candidate pairs: docs sharing any band key. The quadratic
    all-pairs search becomes 4 equi-joins on band buckets.

    eager=True (default) materializes the pair set and unpersists the
    signature cache before returning (cache hygiene for long-lived
    sessions: the O(corpus) signatures don't stay pinned; the small
    returned pair frame is cached and the caller owns its unpersist).
    eager=False returns the lazy plan; the caller owns the signature
    cache lifecycle."""
    sig = minhash_signatures(df, token_ids).cache()
    pairs = None
    for band in range(4):
        b = sig.select("doc_id", F.col(f"band_{band}").alias("bk"))
        p = (
            b.alias("l").join(b.alias("r"), "bk")
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    out = pairs.distinct()
    if eager:
        out = out.cache()
        out.count()
        sig.unpersist()
    return out


def dedup_clusters(df: DataFrame, token_ids: DataFrame) -> DataFrame:
    """Cluster-based near-dup deduplication — the composition a 100 TB
    dedup pipeline actually runs: MinHash-LSH candidate pairs (linear
    equi-joins) → connected components over the pair graph (near-dup is
    not transitive, but dedup policy treats chains as one cluster, cf.
    the MinHashLSH dedup in web-scale corpus pipelines) → keep the
    minimum doc_id as each cluster's representative.

    Returns (doc_id, keep_id) for every CLUSTERED doc; isolated docs
    (no candidate pair) implicitly keep themselves and are omitted,
    so the frame is also the drop-list: rows where doc_id != keep_id.

    doc_ids stay typed (long) through connected_components — the CC
    shuffle keys are 8-byte longs, never decimal strings (at 10⁹ docs
    the string form would roughly double the dominant shuffle stream)."""
    from kgpipe.canonical import connected_components

    # unpersist_after: minhash_lsh_pairs returns a CACHED pair frame and
    # this function is its only consumer — without the scope every
    # dedup_clusters call would pin one more cached frame for the life
    # of the session. Safe: connected_components returns an eagerly-
    # materialized frame (localCheckpointed per round), so nothing
    # downstream is lazy over `pairs`.
    with unpersist_after(minhash_lsh_pairs(df, token_ids)) as pairs:
        cc = connected_components(
            pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return cc.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("keep_id"),
    )


def simhash_pairs(df: DataFrame, token_ids: DataFrame,
                  bands: int = 4, max_hamming: int = 3,
                  bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs by banded SimHash — the composition that makes
    the fingerprint (q14) an actual dedup operator: split the B-bit
    simhash into `bands` contiguous chunks; docs sharing ANY chunk
    value are candidates (one equi-join per band, the same linear
    shape as MinHash banding), then verify the exact hamming distance
    with one xor+popcount per candidate. Pigeonhole guarantee: a pair
    within hamming distance d is ALWAYS caught when d < bands (some
    chunk is untouched) — so keep bands > max_hamming for exhaustive
    recall, the classic 64-bit/4-band/d≤3 web-dedup config. Returns
    (a, b, hamming) with hamming ≤ max_hamming."""
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    chunk = bits // bands
    mask = (1 << chunk) - 1
    sim = simhash(df, token_ids, bits=bits).cache()
    pairs = None
    for b in range(bands):
        keyed = sim.select(
            "doc_id",
            F.shiftright(F.col("simhash"), b * chunk)
            .bitwiseAND(F.lit(mask)).alias("bk"),
        )
        p = (
            keyed.alias("l").join(keyed.alias("r"), "bk")
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    cand = pairs.distinct()
    out = (
        cand.join(sim.select(F.col("doc_id").alias("a"),
                             F.col("simhash").alias("_sa")), "a")
        .join(sim.select(F.col("doc_id").alias("b"),
                         F.col("simhash").alias("_sb")), "b")
        .withColumn("hamming",
                    F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
                    .cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
    )
    out = out.cache()
    out.count()
    sim.unpersist()
    return out


def simhash(df: DataFrame, token_ids: DataFrame,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash over token multiset: bit_k = sign of
    Σ_tokens cnt·(2·bit_k(h(id)) − 1), h(id) = (A·id + B) mod M.
    Returns (doc_id, simhash bigint)."""
    toks = (
        df.withColumn("tokens", F.split("text", " "))
        .select("doc_id", F.explode("tokens").alias("token"))
        .join(F.broadcast(token_ids.select("token", "token_id")), "token")
        .withColumn(
            "h",
            (F.col("token_id").cast("long") * SIMHASH_A + SIMHASH_B) % SIMHASH_M,
        )
    )
    bit_sums = [
        F.sum(
            2 * ((F.col("h") / F.lit(2 ** k)).cast("long") % 2) - 1
        ).alias(f"s_{k}")
        for k in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for k in range(bits):
        term = F.when(F.col(f"s_{k}") > 0, F.lit(2 ** k)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.cast("long").alias("simhash"))
