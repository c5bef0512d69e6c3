"""Round-7 optimization equivalence tests: the restructured similarity
plans (unrolled codegen dot/norm, one-pass LSH verify joins,
first-collision multi-table emission, shuffle-free IVF assignment) must
produce BIT-IDENTICAL values and IDENTICAL row sets to the r6 shapes
they replaced. Each test reconstructs the old composition inline from
the primitives that still exist (lsh_candidate_pairs,
lsh_multitable_pairs, crossJoin+groupBy argmin) and compares exactly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kgpipe.similarity import (
    _dot, _norm, _sq_dist, cosine_topk, dot_expr, infer_dim, ivf_assign,
    ivf_centroids, lsh_candidate_pairs, lsh_cosine_verify,
    lsh_multitable_cosine_verify, lsh_multitable_pairs, norm_expr,
)


def _emb(spark, n=60, dim=7, seed=11):
    rng = np.random.RandomState(seed)
    rows = [(i, [float(x) for x in rng.randn(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_unrolled_dot_norm_bit_identical(spark):
    """dot_expr/norm_expr with a known dim are the same IEEE addition
    chain as the aggregate fold — equality must be exact (==), not
    approximate."""
    emb = _emb(spark, n=40, dim=9)
    dim = infer_dim(emb)
    assert dim == 9
    pairs = (emb.alias("l").crossJoin(emb.alias("r"))
             .select(F.col("l.embedding").alias("a"),
                     F.col("r.embedding").alias("b")))
    rows = pairs.select(
        _dot(F.col("a"), F.col("b")).alias("fold"),
        dot_expr(F.col("a"), F.col("b"), dim).alias("unrolled"),
        _norm(F.col("a")).alias("nfold"),
        norm_expr(F.col("a"), dim).alias("nunrolled"),
    ).collect()
    assert rows
    for r in rows:
        assert r["fold"] == r["unrolled"]
        assert r["nfold"] == r["nunrolled"]


def test_lsh_cosine_verify_matches_pair_join_shape(spark):
    """One-pass bucket-join verify == candidate-pairs → re-join-arrays
    composition (the r6 q29 shape), row for row including the rounded
    cosine."""
    emb = _emb(spark)
    pairs = lsh_candidate_pairs(emb, n_planes=4)
    va = emb.select(F.col("vec_id").alias("a"),
                    F.col("embedding").alias("va"),
                    _norm(F.col("embedding")).alias("na"))
    vb = emb.select(F.col("vec_id").alias("b"),
                    F.col("embedding").alias("vb"),
                    _norm(F.col("embedding")).alias("nb"))
    old = (pairs.join(va, "a").join(vb, "b")
           .withColumn("cosine", F.round(
               _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
               6))
           .filter(F.col("cosine") >= 0.2)
           .select("a", "b", "bucket", "cosine"))
    new = lsh_cosine_verify(emb, n_planes=4, threshold=0.2)
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n
    assert len(n) > 0


def test_multitable_first_collision_equivalence(spark):
    """First-collision emission == distinct-over-tables emission: same
    (a, b, cosine) set, one row per pair, no duplicates."""
    emb = _emb(spark, n=80, dim=6, seed=3)
    pairs = lsh_multitable_pairs(emb, n_tables=4, planes_per_table=3)
    va = emb.select(F.col("vec_id").alias("a"),
                    F.col("embedding").alias("va"),
                    _norm(F.col("embedding")).alias("na"))
    vb = emb.select(F.col("vec_id").alias("b"),
                    F.col("embedding").alias("vb"),
                    _norm(F.col("embedding")).alias("nb"))
    old = (pairs.join(va, "a").join(vb, "b")
           .withColumn("cosine", F.round(
               _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
               6))
           .filter(F.col("cosine") >= 0.2)
           .select("a", "b", "cosine"))
    new = lsh_multitable_cosine_verify(
        emb, n_tables=4, planes_per_table=3, threshold=0.2)
    o = sorted(tuple(r) for r in old.collect())
    n = sorted(tuple(r) for r in new.collect())
    assert o == n
    assert len(n) == len({(a, b) for a, b, _ in n})  # exactly once each
    assert len(n) > 0


def test_ivf_assign_matches_crossjoin_groupby(spark):
    """Inline per-row argmin assignment == the r6 crossJoin+groupBy
    argmin, including the (rounded dist, cell) tiebreak."""
    emb = _emb(spark, n=50, dim=5, seed=23)
    cent = ivf_centroids(emb, n_cells=6)
    old = (emb.select(F.col("vec_id"), F.col("embedding").alias("_v"))
           .crossJoin(F.broadcast(cent))
           .withColumn("_d", F.round(
               _sq_dist(F.col("_v"), F.col("centroid")), 6))
           .groupBy("vec_id")
           .agg(F.min(F.struct(F.col("_d"), F.col("cell"))).alias("_m"))
           .select("vec_id", F.col("_m.cell").alias("cell")))
    new = ivf_assign(emb, cent)
    assert sorted(tuple(r) for r in old.collect()) == \
        sorted(tuple(r) for r in new.collect())


def test_cosine_topk_dim_param_identical(spark):
    """cosine_topk with explicit dim == probed dim == fold (dim for a
    mismatched probe would poison, so also assert non-empty)."""
    emb = _emb(spark, n=30, dim=8, seed=5)
    q = emb.filter(F.col("vec_id") < 5)
    with_dim = sorted(tuple(r) for r in cosine_topk(emb, q, k=3, dim=8)
                      .collect())
    probed = sorted(tuple(r) for r in cosine_topk(emb, q, k=3).collect())
    assert with_dim == probed
    assert len(with_dim) == 5 * 3


def test_infer_dim_empty_frame(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert infer_dim(empty) is None
    # and the verify composition on an empty frame is empty, not an error
    assert lsh_cosine_verify(empty, n_planes=4).count() == 0


def test_unrolled_dot_rejects_nonpositive_dim(spark):
    """The unrolled form must refuse dim 0 (what infer_dim reads off an
    empty vector) and negative dims with a ValueError on both the
    SQL-string and the Column path (the string path used to build a
    chain of no terms, a SQL parse error). infer_dim skips NULL vectors
    (size(NULL) is NULL under ANSI mode, which it used to pass to
    int())."""
    schema = "vec_id long, embedding array<float>"
    assert infer_dim(spark.createDataFrame([(0, [])], schema)) == 0
    assert infer_dim(spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0])], schema).coalesce(1)) == 2
    assert infer_dim(spark.createDataFrame([(0, None)], schema)) is None
    for dim in (0, -1):
        with pytest.raises(ValueError, match="dim > 0"):
            dot_expr("l.v", "r.v", dim)
        with pytest.raises(ValueError, match="dim > 0"):
            dot_expr(F.col("a"), F.col("b"), dim)
        with pytest.raises(ValueError, match="dim > 0"):
            norm_expr("v", dim)
