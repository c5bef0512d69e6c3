"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exactness baseline and an LSH-bucketed
variant as the scale path. Dot products run as JVM-side `aggregate`/
`zip_with` expressions in double precision (order-stable left-to-right
fold → bit-reproducible across engines); no Python in the hot path.

Scale notes: brute-force is queries × corpus — fine for a broadcast
query set (re-ranking, eval); the LSH variant buckets by sign-random
projections so candidate generation is an equi-join on bucket keys,
the same shape as dedup.minhash_lsh_pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic pseudo-random hyperplanes: plane p, dim d weight =
# sin(1 + (p+1)*(d+1)) — reproducible in any engine with a sin()
N_PLANES = 8


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def _dot_u(a, b, dim: int):
    """Unrolled dot product for fixed-dimension vectors: the same
    left-to-right IEEE addition chain as `_dot` (accumulator starts at
    the literal 0.0, one fused a_i*b_i term per step), so the result is
    BIT-IDENTICAL to the fold (property-tested).

    Measured VERDICT at dim=64 (OPTIMIZATION_r07.md): the flat 64-term
    tree codegens into one >8 KB-bytecode method that HotSpot only runs
    well with -XX:-DontCompileHugeMethods, pays a multi-second JIT
    cold-start per generated class, and in non-WholeStageCodegen
    positions (BroadcastNestedLoopJoin projections, join conditions)
    still loses to the interpreted fold by 2-3×. The fold (`dim=None`,
    the default everywhere) won or tied every interleaved A/B, so this
    stays an opt-in for genuinely small dims.

    Only valid when every vector has exactly `dim` elements; an
    out-of-range `get` yields NULL which propagates to a NULL sum —
    the same poisoning `_dot` produces on ragged input, never a silent
    wrong number.

    When `a`/`b` are SQL fragments (strings), the whole chain is built
    as ONE parsed expression instead of ~4·dim chained Column calls:
    each Column operation is a py4j round-trip, and at dim=64 the
    chained form cost ~1 s of DRIVER time per query construction
    (measured: q29 DataFrame build 1.3 s → 0.2 s). The parsed tree is
    the same left-associative addition chain (`+` is left-assoc, `*`
    binds tighter; the leading literal constant-folds to the same
    double 0.0), so results stay bit-identical — property-tested.

    `dim` must be positive: infer_dim reads 0 off an empty vector, and
    an unrolled chain of no terms is not a dot product of `dim`-element
    vectors (the string form would not even parse)."""
    if dim <= 0:
        raise ValueError(f"unrolled dot product needs dim > 0, got {dim}")
    if isinstance(a, str) and isinstance(b, str):
        terms = " + ".join(
            f"CAST(get({a}, {i}) AS DOUBLE) * CAST(get({b}, {i}) AS DOUBLE)"
            for i in range(dim)
        )
        return F.expr(f"CAST(0.0 AS DOUBLE) + {terms}")
    acc = F.lit(0.0)
    for i in range(dim):
        acc = acc + F.get(a, i).cast("double") * F.get(b, i).cast("double")
    return acc


def dot_expr(a, b, dim: int | None = None):
    """`_dot` (the default, dim=None) or the unrolled fixed-dim form.
    Bit-identical either way; see _dot_u for why the fold is default.
    `a`/`b` may be Columns or SQL-name strings — strings let the
    unrolled form parse as one expression (see _dot_u)."""
    if dim is None:
        a = F.col(a) if isinstance(a, str) else a
        b = F.col(b) if isinstance(b, str) else b
        return _dot(a, b)
    return _dot_u(a, b, dim)


def norm_expr(a, dim: int | None = None):
    """`_norm` twin of dot_expr (sqrt of the same addition chain)."""
    if dim is None:
        return _norm(F.col(a) if isinstance(a, str) else a)
    return F.sqrt(_dot_u(a, a, dim))


def infer_dim(df: DataFrame, vec_col: str = "embedding") -> int | None:
    """Probe the vector dimension from one non-NULL vector (None when
    there is none; 0 for an empty vector, which the unrolled form
    rejects). One tiny Spark job; callers that know the dim (or can read
    it from storage metadata, as a production index would) pass it
    directly."""
    rows = (df.filter(F.col(vec_col).isNotNull())
            .select(F.size(F.col(vec_col)).alias("d")).limit(1).collect())
    return int(rows[0]["d"]) if rows else None


def _above_join(pred, df: DataFrame) -> DataFrame:
    """Filter with `pred` kept ABOVE the preceding join.

    A deterministic threshold filter over a join gets pushed into the
    join condition, where its conjunct is PREPENDED — so the expensive
    cosine would run for every probed bucket slot (both orientations,
    before the cheap vec_id</bucket-inequality guards; measured 2×+ on
    the pair-verify queries). OR-ing an always-false nondeterministic
    term (monotonically_increasing_id() < 0) makes the predicate
    unpushable without changing a single row: ids are non-negative by
    construction, so `cosine >= t OR false` ≡ `cosine >= t`."""
    return df.filter(pred | (F.monotonically_increasing_id() < F.lit(0)))


def _spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Round-robin repartition to factor × cluster parallelism.

    The compute-exploding joins below (bucket self-joins, broadcast
    candidate probes) do orders of magnitude more work per INPUT row
    than per-row scans, and their parallelism is inherited from the
    upstream scan — a corpus that fits one 128 MB scan split would run
    the entire quadratic re-rank in ONE task (measured: the one-pass
    q29 join pinned a single core for minutes at sf1.0 before this).
    AQE cannot help: its coalescing sizes partitions by INPUT bytes,
    which are tiny here. The partition count derives from
    sparkContext.defaultParallelism (cluster-sized, never a constant),
    and the extra exchange moves only O(corpus) slim rows."""
    sc = df.sparkSession.sparkContext
    return df.repartition(factor * sc.defaultParallelism)


def with_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn("l2_norm", F.round(_norm(F.col(vec_col)), 6))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query (brute force): broadcast the
    query set, rank by cosine desc with (rounded cosine, neighbor id)
    deterministic ordering. Self-pairs excluded. Assumes a fixed-dim
    corpus (every embedding table here); pass `dim` to skip the probe.
    """
    # norms are computed BELOW the join — once per vector row, never
    # per candidate pair (at 100 TB the corpus norm is a stored column;
    # unrounded, so the cosine value is bit-identical to the per-pair
    # _norm form)
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"),
            norm_expr(F.col(vec_col), dim).alias("_qn"),
        )
    )
    c = _spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("n_vec"),
        norm_expr(F.col(vec_col), dim).alias("_nn"),
    )
    # project to (query_id, neighbor_id, cosine) BEFORE the rank
    # window: the window's exchange+sort otherwise carries both
    # embedding arrays per scored row — at corpus scale that is the
    # dominant shuffle (guide §2.3 "project before the exchange")
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot_expr(F.col("q_vec"), F.col("n_vec"), dim)
                / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _bucket_arr_expr(vec_col: str, n_tables: int, planes_per_table: int,
                     p0: int = 0) -> "F.Column":
    """Array of `n_tables` bucket keys from ONE pass over the vector.

    A single aggregate keeps all n_tables·planes_per_table running
    projections: per vector element, a transform adds x_d·w_{p,d} to
    every plane's partial sum (w_{p,d} = sin(1 + (p0+p+1)(d+1)), the
    deterministic hyperplane family — reproducible in any engine with
    libm sin()). The per-plane fold order is exactly the r3 per-plane
    aggregate's left-to-right order, so projections — and therefore
    sign bits and bucket keys — are bit-for-bit identical to the old
    one-aggregate-per-plane form, which re-built the weight array and
    re-folded the whole vector once per plane (K× the per-row work;
    q28/q42 hashes unchanged by this rewrite, verified). The finish
    lambda folds sign bits into per-table integer keys inside the same
    expression, so the projection array is evaluated exactly once (no
    Catalyst re-inlining of the aggregate per consumer)."""
    k = n_tables * planes_per_table
    return F.expr(
        f"aggregate("
        f"zip_with({vec_col}, sequence(1, size({vec_col})),"
        f" (x, d) -> struct(cast(x as double) as x, d as d)),"
        f"array_repeat(cast(0.0 as double), {k}),"
        f"(acc, e) -> transform(acc, (a, p) ->"
        f" a + e.x * sin(cast(1 + ({p0} + p + 1) * (e.d + 1) as double))),"
        f"acc -> transform(sequence(0, {n_tables - 1}), t ->"
        f" cast(aggregate(sequence(0, {planes_per_table - 1}), 0, (s, j) ->"
        f"  s + if(element_at(acc, t * {planes_per_table} + j + 1) > 0D,"
        f"   shiftleft(1, j), 0)) as int)))"
    )


def lsh_bucket(embeddings: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", n_planes: int = N_PLANES) -> DataFrame:
    """Sign-random-projection bucket key per vector: bit_p =
    (Σ_d v_d · sin(1 + (p+1)(d+1))) > 0. Returns (id, bucket)."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.element_at(_bucket_arr_expr(vec_col, 1, n_planes), 1)
        .alias("bucket"),
    )


def lsh_candidate_pairs(embeddings: DataFrame, **kw) -> DataFrame:
    """ANN candidate pairs = same LSH bucket (equi-join, linear shape)."""
    b = lsh_bucket(embeddings, **kw)
    return (
        b.alias("l").join(b.alias("r"), "bucket")
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"),
                "bucket")
    )


def ivf_centroids(embeddings: DataFrame, n_cells: int = 8,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Deterministic coarse quantizer for IVF: the n_cells lowest-id
    vectors serve as cell centroids (cell id = the seed's vec_id). A
    production 100 TB index trains the quantizer offline (k-means /
    PQ); the SERVING shape downstream — assign, probe, re-rank — is
    identical, and a trained centroid table drops in for this one."""
    return embeddings.orderBy(F.col(id_col).asc()).limit(n_cells).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid"))


def ivf_train(embeddings: DataFrame, n_cells: int = 8, n_iter: int = 3,
              vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Lloyd's k-means as DataFrame ops — turns the deterministic seed
    pick (ivf_centroids) into TRAINED centroids, closing the cell-balance
    gap: lowest-id seeds give no balance guarantee, and at corpus scale
    one fat cell turns the IVF candidate equi-join into a hot partition.
    Each iteration is assign (the existing ivf_assign: broadcast
    centroids + argmin) then update (posexplode the assigned vectors →
    groupBy(cell, dimension) avg — map-side combinable, so the update
    shuffle carries (cell, dim, partial-sum) rows, never vectors →
    refold to centroid arrays via a deterministic pos-sorted collect).
    Cells that lose all members drop out (standard drop-empty policy),
    so the result may have < n_cells rows. Returns (cell, centroid) —
    drops straight into ivf_topk(centroids=...) / ivf_assign.

    Run-to-run determinism note: avg() is a parallel mean — its
    partial-sum order is partition-dependent, so trained centroids are
    deterministic in VALUE up to float summation order (~1 ulp), unlike
    the bit-pinned serving path. A production index trains once and
    persists the centroid table; tests pin behavior (balance, recall),
    not bits."""
    cent = ivf_centroids(embeddings, n_cells, vec_col, id_col)
    for _ in range(n_iter):
        assign = ivf_assign(embeddings, cent, vec_col, id_col)
        means = (
            embeddings.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).alias("_v"))
            .join(assign, "vec_id")
            .select("cell", F.posexplode("_v").alias("_pos", "_x"))
            .groupBy("cell", "_pos")
            .agg(F.avg(F.col("_x").cast("double")).alias("_m"))
        )
        cent = (
            means.groupBy("cell")
            .agg(F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_m")))
            ).alias("_pm"))
            .select("cell", F.expr("transform(_pm, e -> e._m)")
                    .alias("centroid"))
            # truncate the iterated plan per round (the CC lesson:
            # iterated self-referential plans otherwise grow until
            # Catalyst itself is the bottleneck) and materialize the
            # tiny centroid table each broadcast consumer reuses
            .localCheckpoint(eager=True)
        )
    return cent


def _sq_dist(a, b):
    """Squared L2 via the dot identity |a|²+|b|²−2a·b — three ordered
    folds, bit-reproducible cross-engine like _dot (q20/q29)."""
    return _dot(a, a) + _dot(b, b) - 2.0 * _dot(a, b)


def _centroid_row(centroids: DataFrame):
    """Fold the (tiny) centroid table into ONE broadcastable row:
    an array of (cell, centroid, c2=|c|²) structs. |c|² is computed
    here once per centroid — the argmin consumers below re-use it
    instead of re-folding the centroid array per corpus row."""
    return F.broadcast(centroids.agg(F.collect_list(F.struct(
        F.col("cell"), F.col("centroid"),
        _dot(F.col("centroid"), F.col("centroid")).alias("c2"),
    )).alias("cents")))


def _cell_dist_struct(vcol, v2col, c):
    """struct(round(|v|²+|c|²−2v·c, 6), cell) with the exact _sq_dist
    addition tree ((v2 + c2) − 2.0·dot), so distances — and the
    (dist, cell) argmin tiebreak — are bit-identical to the r1-r6
    crossJoin+groupBy form."""
    return F.struct(
        F.round((v2col + c["c2"]) - 2.0 * _dot(vcol, c["centroid"]), 6)
        .alias("_d"),
        c["cell"].alias("cell"),
    )


def ivf_assign(embeddings: DataFrame, centroids: DataFrame,
               vec_col: str = "embedding",
               id_col: str = "vec_id",
               dim: int | None = None) -> DataFrame:
    """(vec_id, cell): nearest centroid by squared L2, with the
    deterministic (rounded dist, cell) tiebreak.

    Shuffle-free since r7: the centroid table collapses to a one-row
    broadcast array and the argmin is `array_min(transform(...))` per
    corpus row — the old shape exploded corpus×cells rows through a
    groupBy exchange and recomputed the |v|²/|c|² folds per (row,
    centroid). |v|² is now one fold per row, |c|² one per centroid,
    and no exchange remains (distances/tiebreaks bit-identical —
    _cell_dist_struct)."""
    return (
        _spread(embeddings).select(F.col(id_col).alias("vec_id"),
                                   F.col(vec_col).alias("_v"))
        .crossJoin(_centroid_row(centroids))
        .withColumn("_v2", dot_expr(F.col("_v"), F.col("_v"), dim))
        .select(
            "vec_id",
            F.array_min(F.transform(
                F.col("cents"),
                lambda c: _cell_dist_struct(F.col("_v"), F.col("_v2"), c),
            ))["cell"].alias("cell"),
        )
        .filter(F.col("cell").isNotNull())  # empty-centroid edge: match
        # the old shape's empty output instead of NULL-cell rows
    )


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 3,
             n_cells: int = 8, nprobe: int = 2,
             vec_col: str = "embedding", id_col: str = "vec_id",
             centroids: DataFrame | None = None,
             dim: int | None = None) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into cells, probe each
    query's nprobe nearest cells, exact-cosine re-rank inside the
    probed candidates — the third ANN scale path next to single-table
    LSH (q28/q29) and banded multi-table LSH (q42). Candidate
    generation is an equi-join on cell (linear); nprobe/n_cells trade
    recall against probe cost exactly as in a production IVF index.
    Pass `centroids` (e.g. from ivf_train) to serve against a trained
    quantizer — n_cells is then ignored. Returns (query_id, neighbor_id,
    rank, cosine), rank ≤ k."""
    cent = (centroids if centroids is not None
            else ivf_centroids(embeddings, n_cells, vec_col, id_col))
    cents1 = _centroid_row(cent)

    # Corpus side: assignment is computed INLINE on the scan (one-row
    # centroid broadcast + per-row argmin — see ivf_assign) instead of
    # materializing an (assign ⋈ embeddings) join, so the corpus is
    # never shuffled at all. |v|² feeds both the assignment distances
    # and the cosine norm (sqrt), exactly as _norm would compute it.
    corpus = (
        _spread(embeddings).select(F.col(id_col).alias("neighbor_id"),
                                   F.col(vec_col).alias("n_vec"))
        .crossJoin(cents1)
        .withColumn("_n2", dot_expr(F.col("n_vec"), F.col("n_vec"), dim))
        .select(
            "neighbor_id", "n_vec",
            F.sqrt(F.col("_n2")).alias("_nn"),
            F.array_min(F.transform(
                F.col("cents"),
                lambda c: _cell_dist_struct(F.col("n_vec"), F.col("_n2"), c),
            ))["cell"].alias("cell"),
        )
    )
    # Query side: the nprobe nearest cells come from sorting the same
    # per-row (dist, cell) struct array — array_sort's (d asc, cell
    # asc) order IS the old probe window's orderBy, so the probed set
    # is identical. One row per (query, probed cell).
    q_cells = (
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("q_vec"))
        .crossJoin(cents1)
        .withColumn("_q2", dot_expr(F.col("q_vec"), F.col("q_vec"), dim))
        .select(
            "query_id", "q_vec",
            F.sqrt(F.col("_q2")).alias("_qn"),
            F.explode(F.slice(F.array_sort(F.transform(
                F.col("cents"),
                lambda c: _cell_dist_struct(F.col("q_vec"), F.col("_q2"), c),
            ))["cell"], 1, nprobe)).alias("cell"),
        )
    )
    # Candidate generation: broadcast the (queries × nprobe) probe rows
    # against the assigned corpus — the corpus side stays map-only. The
    # only exchange in the whole query is the final rank window, and it
    # carries slim (query_id, neighbor_id, cosine) rows: the arrays are
    # projected away before the exchange (guide §2.3).
    scored = (
        corpus.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                dot_expr(F.col("q_vec"), F.col("n_vec"), dim)
                / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def lsh_bucket_tables(embeddings: DataFrame, vec_col: str = "embedding",
                      id_col: str = "vec_id", n_tables: int = 4,
                      planes_per_table: int = 4) -> DataFrame:
    """Banded multi-table LSH: N independent hash tables of fewer planes
    each — the cosine-side analog of MinHash banding (dedup.py). A
    single K-plane table's recall decays sharply at corpus scale (a
    near-neighbor pair must agree on ALL K sign bits, P = (1−θ/π)^K);
    with N tables of K/N planes a pair is a candidate if it agrees on
    any one table, P = 1 − (1 − (1−θ/π)^(K/N))^N — far higher recall
    for the same total plane budget, at the cost of N bucket joins
    (still linear shape, same as the MinHash band joins).

    Global plane index p = table·planes_per_table + plane, weight
    sin(1 + (p+1)(d+1)) — table 0 with planes_per_table = N_PLANES
    reproduces lsh_bucket exactly. All n_tables·planes_per_table
    projections come from ONE pass over the vector (_bucket_arr_expr).
    Returns (vec_id, table, bucket)."""
    wide = embeddings.select(
        F.col(id_col).alias("vec_id"),
        _bucket_arr_expr(vec_col, n_tables, planes_per_table)
        .alias("_buckets"),
    )
    return wide.select(
        "vec_id",
        F.posexplode("_buckets").alias("table", "bucket"),
    )


def lsh_cosine_verify(embeddings: DataFrame, n_planes: int = N_PLANES,
                      threshold: float = 0.2, vec_col: str = "embedding",
                      id_col: str = "vec_id",
                      dim: int | None = None) -> DataFrame:
    """Single-table LSH candidates + exact-cosine verify in ONE bucket
    self-join: (a, b, bucket, cosine) for every same-bucket pair with
    cosine ≥ threshold.

    Optimization over pairs→join-arrays→join-arrays (the r1-r6 q29
    shape): the candidate pair stream is quadratic in bucket occupancy,
    so joining IT back against the corpus shuffles two full embedding
    arrays PER PAIR (O(pairs)·dim bytes, two sort-merge joins). Here
    each vector instead carries (embedding, norm) into the bucket
    shuffle once — O(corpus)·dim bytes — and the exact re-rank is a
    projection on the join output, which never crosses another
    exchange (guide §8: every shuffle but the last moves lightweight
    proxies; the payload moves once). Norms are still computed below
    the join, once per vector; cosine = round(dot(a,b)/(n_a·n_b), 6)
    with the identical fold order, so values are bit-identical."""
    # dim=None -> dimension-agnostic fold (the default and the measured
    # winner at dim 64: see dot_expr note). _spread: the join below emits ~bucket_size rows per input row;
    # without it the whole re-rank inherits the scan's partition count
    # (1 task on a single-file corpus). Both aliases read the spread
    # frame, so whichever side the planner builds, the streamed side
    # has cluster-wide parallelism.
    ev = _spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm_expr(vec_col, dim).alias("n"),
        F.element_at(_bucket_arr_expr(vec_col, 1, n_planes), 1)
        .alias("bucket"),
    )
    return (
        ev.alias("l").join(ev.alias("r"), "bucket")
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .withColumn(
            "cosine",
            F.round(dot_expr("l.v", "r.v", dim)
                    / (F.col("l.n") * F.col("r.n")), 6),
        )
        .transform(lambda j: _above_join(F.col("cosine") >= threshold, j))
        .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"),
                "bucket", "cosine")
    )


def lsh_multitable_cosine_verify(embeddings: DataFrame, n_tables: int = 4,
                                 planes_per_table: int = 4,
                                 threshold: float = 0.2,
                                 vec_col: str = "embedding",
                                 id_col: str = "vec_id",
                                 dim: int | None = None) -> DataFrame:
    """Banded multi-table LSH + exact-cosine verify: (a, b, cosine) for
    every pair sharing a bucket in ANY table, cosine ≥ threshold — the
    q42 composition, restructured like lsh_cosine_verify.

    Two structural changes vs pairs→distinct→join-arrays→join-arrays:

    1. Vectors + norms ride the per-table bucket join (O(corpus·tables)
       array bytes) instead of being re-attached to the pair stream
       (O(pairs) array bytes across two more shuffles).
    2. The cross-table `.distinct()` on the pair stream is replaced by
       FIRST-COLLISION emission: table t's join keeps a pair only when
       no earlier table t' < t also collided (each side carries its
       earlier bucket keys, so the guard is a codegen'd column
       comparison). Every colliding pair is emitted exactly once — the
       same set, same multiplicity (one row per pair) as the distinct,
       with no pair-stream exchange at all."""
    # localCheckpoint: the K-plane bucket array is an interpreted HOF
    # fold per vector, and the n_tables join branches would otherwise
    # recompute it 2·n_tables× (plus once more inside each pushed
    # isnotnull join-key filter). One tiny eager job materializes the
    # (id, vector, norm, buckets) index — exactly what a production
    # LSH index stores — and _spread (see lsh_cosine_verify) gives the
    # quadratic join branches cluster-wide parallelism.
    wide = _spread(embeddings).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        norm_expr(vec_col, dim).alias("n"),
        _bucket_arr_expr(vec_col, n_tables, planes_per_table).alias("bks"),
    ).localCheckpoint(eager=True)
    out = None
    for t_ in range(n_tables):
        side = wide.select(
            "vec_id", "v", "n",
            *[F.get("bks", i).alias(f"b{i}") for i in range(t_ + 1)],
        )
        cond = (
            (F.col(f"l.b{t_}") == F.col(f"r.b{t_}"))
            & (F.col("l.vec_id") < F.col("r.vec_id"))
        )
        for i in range(t_):  # first-collision guard
            cond = cond & (F.col(f"l.b{i}") != F.col(f"r.b{i}"))
        p = (
            side.alias("l").join(side.alias("r"), cond)
            .withColumn(
                "cosine",
                F.round(dot_expr("l.v", "r.v", dim)
                        / (F.col("l.n") * F.col("r.n")), 6),
            )
            .transform(lambda j: _above_join(F.col("cosine") >= threshold, j))
            .select(F.col("l.vec_id").alias("a"),
                    F.col("r.vec_id").alias("b"), "cosine")
        )
        out = p if out is None else out.unionByName(p)
    return out


def lsh_multitable_pairs(embeddings: DataFrame, vec_col: str = "embedding",
                         id_col: str = "vec_id", n_tables: int = 4,
                         planes_per_table: int = 4) -> DataFrame:
    """ANN candidate pairs from the multi-table index: same (table,
    bucket) in ANY table — one equi-join on the exploded index, distinct
    over tables. Feed to an exact-cosine re-rank (cf. q42) exactly like
    the single-table verify composition (q29)."""
    b = lsh_bucket_tables(embeddings, vec_col=vec_col, id_col=id_col,
                          n_tables=n_tables,
                          planes_per_table=planes_per_table)
    return (
        b.alias("l").join(b.alias("r"), ["table", "bucket"])
        .filter(F.col("l.vec_id") < F.col("r.vec_id"))
        .select(F.col("l.vec_id").alias("a"), F.col("r.vec_id").alias("b"))
        .distinct()
    )
