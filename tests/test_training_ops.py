"""Training-data ops: dedup, similarity, text stats."""

import math

from pyspark.sql import functions as F

from kgpipe.dedup import (
    MINHASH_P, MINHASH_PARAMS, exact_duplicates, jaccard_pairs,
    minhash_lsh_pairs, minhash_signatures, shingles, simhash,
)
from kgpipe.similarity import cosine_topk, lsh_bucket, with_norm
from kgpipe.textstats import (
    build_token_ids, fingerprint, predict_language, quality_score,
    sessionize, token_stats,
)


def _docs(spark):
    rows = [
        (0, "a b c d e"),
        (1, "a b c d e"),          # exact dup of 0
        (2, "a b c d x"),          # near dup of 0
        (3, "z y x w v u t"),
        (4, "a b"),                # shorter than shingle width
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = exact_duplicates(_docs(spark)).collect()
    assert len(out) == 1
    assert out[0]["keep_id"] == 0 and out[0]["n_dups"] == 2


def test_shingles_and_jaccard(spark):
    sh = shingles(_docs(spark), n=3)
    by_doc = {r["doc_id"] for r in sh.collect()}
    assert by_doc == {0, 1, 2, 3, 4}
    # doc0: shingles {abc, bcd, cde}; doc2: {abc, bcd, cdx} → J = 2/4
    pairs = {(r["a"], r["b"]): r["jaccard"]
             for r in jaccard_pairs(_docs(spark), n=3, threshold=0.1,
                                    max_df=10).collect()}
    assert pairs[(0, 1)] == 1.0
    assert abs(pairs[(0, 2)] - 0.5) < 1e-9


def test_minhash_identical_docs_share_all_bands(spark):
    docs = _docs(spark)
    ids = build_token_ids(docs).select("token", "token_id")
    sig = {r["doc_id"]: r for r in minhash_signatures(docs, ids).collect()}
    for b in range(4):
        assert sig[0][f"band_{b}"] == sig[1][f"band_{b}"]
    # hand-check minh_0 for doc 3 tokens
    tok_ids = {r["token"]: r["token_id"]
               for r in build_token_ids(docs).collect()}
    a, b0 = MINHASH_PARAMS[0]
    expect = min((tok_ids[t] * a + b0) % MINHASH_P for t in "zyxwvut")
    assert sig[3]["minh_0"] == expect
    pairs = {(r["a"], r["b"]) for r in minhash_lsh_pairs(docs, ids).collect()}
    assert (0, 1) in pairs


def test_simhash_identical_and_distinct(spark):
    docs = _docs(spark)
    ids = build_token_ids(docs).select("token", "token_id")
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, ids).collect()}
    assert s[0] == s[1]
    assert s[0] != s[3]
    assert all(0 <= v < 2 ** 16 for v in s.values())


def test_token_stats_and_quality(spark):
    st = {r["doc_id"]: r for r in token_stats(_docs(spark)).collect()}
    assert st[0]["n_tokens"] == 5 and st[0]["n_distinct"] == 5
    assert st[0]["avg_token_len"] == 1.0
    q = {r["doc_id"]: r for r in quality_score(_docs(spark)).collect()}
    assert q[0]["stopword_ratio"] == 0.2  # only "a"
    assert q[3]["stopword_ratio"] == 0.0


def test_predict_language_deterministic_tiebreak(spark):
    docs = spark.createDataFrame(
        [(0, "the cat sat", "en"), (1, "der hund und katze", "de"),
         (2, "nohit words only", "zh")],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r["pred_lang"]
           for r in predict_language(docs).collect()}
    assert out[0] == "en" and out[1] == "de"
    assert out[2] == "de"  # zero hits everywhere → lexicographically first


def test_fingerprint_order_sensitive(spark):
    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b a")], "doc_id long, text string"
    )
    ids = build_token_ids(docs).select("token", "token_id")
    fp = {r["doc_id"]: r["fingerprint"]
          for r in fingerprint(docs, ids).collect()}
    assert fp[0] != fp[1]


def test_cosine_topk_exact(spark):
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [1.0, 0.01]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [(1, 3), (2, 1)]
    norms = {r["vec_id"]: r["l2_norm"] for r in with_norm(emb).collect()}
    assert norms[0] == 1.0
    # embeddings are float32 on disk → compare at float32 precision
    assert abs(norms[1] - math.hypot(0.9, 0.1)) < 1e-5


def test_lsh_bucket_shape(spark):
    rows = [(i, [float(i % 3) - 1.0, float(i % 5) - 2.0, 0.5]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = lsh_bucket(emb, n_planes=4).collect()
    assert len(b) == 20
    assert all(0 <= r["bucket"] < 16 for r in b)


def test_sessionize(spark):
    from datetime import datetime, timedelta

    base = datetime(2026, 1, 1)
    rows = [
        (1, 100, base), (2, 100, base + timedelta(minutes=5)),
        (3, 100, base + timedelta(minutes=90)),  # gap > 30m → new session
        (4, 200, base),
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["user_id"]: r["n_sessions"] for r in sessionize(ev).collect()}
    assert out[100] == 2 and out[200] == 1


def test_exact_duplicates_forced_collision(spark):
    """A deliberately-colliding digest (text length) cannot merge
    different documents: the pass-2 raw-text verification splits the
    colliding digest group back apart."""
    rows = [
        (0, "a b c"),
        (1, "a b c"),   # true dup of 0
        (2, "x y z"),   # same LENGTH as 0/1 → digest collision
        (3, "p q r"),   # same LENGTH too
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = exact_duplicates(docs, digest=lambda c: F.length(c)).collect()
    assert len(out) == 1
    assert out[0]["keep_id"] == 0 and out[0]["n_dups"] == 2
    # full-inventory mode: every doc appears exactly once, collision
    # victims as their own n_dups=1 groups
    full = exact_duplicates(docs, digest=lambda c: F.length(c),
                            include_singletons=True).collect()
    assert sorted((r["keep_id"], r["n_dups"]) for r in full) == \
        [(0, 2), (2, 1), (3, 1)]
    # default digest (xxhash64) agrees with the plain group-by plan
    d1 = exact_duplicates(docs).collect()
    assert [(r["keep_id"], r["n_dups"]) for r in d1] == [(0, 2)]


def test_exact_duplicates_include_singletons_counts(spark):
    docs = _docs(spark)
    full = exact_duplicates(docs, include_singletons=True)
    rows = full.collect()
    # every doc accounted for exactly once across groups
    assert sum(r["n_dups"] for r in rows) == docs.count()
    assert {r["keep_id"] for r in rows} == {0, 2, 3, 4}


def test_jaccard_max_df_corpus_relative(spark):
    """An absolute max_df cap silently empties the candidate set when
    every shared shingle is 'too common'; the corpus-relative cap
    (max_df_frac) tracks corpus size and keeps recall."""
    rows = [(i, "a b c d e") for i in range(8)]  # 8 identical docs
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # shared shingles have df=8 > 3 → absolute cap finds NOTHING
    assert jaccard_pairs(docs, n=3, threshold=0.5, max_df=3).count() == 0
    # relative cap: max_df = ceil(1.0 * 8) = 8 → all 28 pairs, J = 1.0
    rel = jaccard_pairs(docs, n=3, threshold=0.5, max_df_frac=1.0).collect()
    assert len(rel) == 28
    assert all(r["jaccard"] == 1.0 for r in rel)


def _clustered_embeddings(spark, n_pairs=30, dim=8, noise=0.55):
    """Deterministic near-duplicate pairs: base vector + perturbed copy
    (cosine ≈ 0.85-0.95) — each vector's true nearest neighbor is its
    partner."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(n_pairs):
        base = rng.randn(dim)
        base /= np.linalg.norm(base)
        pert = base + noise * rng.randn(dim) * 0.35
        rows.append((2 * i, [float(x) for x in base]))
        rows.append((2 * i + 1, [float(x) for x in pert]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_lsh_multitable_recall_beats_single_table(spark):
    """Banded multi-table LSH (4 tables × 2 planes) must recover a
    larger fraction of true nearest-neighbor pairs than one 8-plane
    table at the SAME total plane budget — the recall fix the single
    table lacks (a near pair must agree on all 8 bits vs any table's 2)."""
    from kgpipe.similarity import (
        lsh_bucket, lsh_bucket_tables, lsh_candidate_pairs,
        lsh_multitable_pairs,
    )

    emb = _clustered_embeddings(spark)
    # ground truth: each vector's exact top-1 neighbor
    gt = cosine_topk(emb, emb, k=1)
    gt_pairs = {frozenset((r["query_id"], r["neighbor_id"]))
                for r in gt.collect()}
    single = {frozenset((r["a"], r["b"]))
              for r in lsh_candidate_pairs(emb, n_planes=8).collect()}
    multi = {frozenset((r["a"], r["b"]))
             for r in lsh_multitable_pairs(
                 emb, n_tables=4, planes_per_table=2).collect()}
    recall_single = len(gt_pairs & single) / len(gt_pairs)
    recall_multi = len(gt_pairs & multi) / len(gt_pairs)
    assert recall_multi > recall_single
    assert recall_multi >= 0.7
    # consistency: one table of N_PLANES planes IS lsh_bucket
    t0 = {(r["vec_id"], r["bucket"])
          for r in lsh_bucket_tables(emb, n_tables=1,
                                     planes_per_table=8).collect()}
    b0 = {(r["vec_id"], r["bucket"]) for r in lsh_bucket(emb).collect()}
    assert t0 == b0


def test_simhash_pairs_banded(spark):
    """Banded SimHash pairs: identical docs pair at hamming 0; the
    pigeonhole guarantee (bands > max_hamming) means every pair within
    the hamming cap that exists among the brute-force fingerprints is
    found by the banded join."""
    from kgpipe.dedup import simhash_pairs

    docs = _docs(spark)
    ids = build_token_ids(docs).select("token", "token_id")
    got = {(r["a"], r["b"]): r["hamming"]
           for r in simhash_pairs(docs, ids, bands=4, max_hamming=3)
           .collect()}
    assert got.get((0, 1)) == 0  # identical docs
    # brute-force ground truth over the fingerprints
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, ids).collect()}
    expect = {(a, b): bin(s[a] ^ s[b]).count("1")
              for a in s for b in s if a < b
              and bin(s[a] ^ s[b]).count("1") <= 3}
    assert got == expect


def test_ivf_topk_probe_and_recall(spark):
    """IVF ANN: every returned neighbor must lie in one of the query's
    nprobe nearest cells, ranks are exact cosine inside the candidate
    set, and with nprobe = n_cells (probe everything) IVF must equal
    the brute-force top-k exactly."""
    from kgpipe.similarity import ivf_assign, ivf_centroids, ivf_topk

    emb = _clustered_embeddings(spark)
    cent = ivf_centroids(emb, n_cells=4)
    assert cent.count() == 4
    assign = {r["vec_id"]: r["cell"] for r in
              ivf_assign(emb, cent).collect()}
    assert set(assign) == {r["vec_id"] for r in emb.collect()}

    out = ivf_topk(emb, emb, k=1, n_cells=4, nprobe=4)
    brute = cosine_topk(emb, emb, k=1)
    assert {(r["query_id"], r["neighbor_id"]) for r in out.collect()} == \
        {(r["query_id"], r["neighbor_id"]) for r in brute.collect()}

    # partial probe: candidates restricted to probed cells
    narrow = ivf_topk(emb, emb, k=3, n_cells=4, nprobe=1)
    # the query's single probed cell is its own argmin cell (it is a
    # corpus vector), so every neighbor must share the query's cell
    for r in narrow.collect():
        assert assign[r["neighbor_id"]] == assign[r["query_id"]]


def test_ivf_train_balances_cells_and_lifts_recall(spark):
    """Trained IVF centroids (DataFrame-native Lloyd iterations) must
    beat the deterministic lowest-id seeds on BOTH axes that matter at
    scale: cell balance (a fat cell = a hot partition in the candidate
    equi-join) and recall at fixed probe cost. On the fixture the seed
    quantizer packs 30/60 vectors into one cell with nprobe=1 recall
    0.73; training rebalances (max cell < seed max) and lifts recall
    ≥ 0.9 — the trained table drops into ivf_topk(centroids=...)."""
    from kgpipe.similarity import (
        ivf_assign, ivf_centroids, ivf_topk, ivf_train,
    )

    emb = _clustered_embeddings(spark)
    seed = ivf_centroids(emb, n_cells=4)
    trained = ivf_train(emb, n_cells=4, n_iter=3)
    assert trained.count() <= 4  # empty cells drop (Lloyd drop-empty)
    assert trained.schema["centroid"].dataType.simpleString() == \
        "array<double>"

    def cell_sizes(cent):
        return [r["c"] for r in ivf_assign(emb, cent)
                .groupBy("cell").agg(F.count("*").alias("c")).collect()]

    assert max(cell_sizes(trained)) < max(cell_sizes(seed))

    gt = {(r["query_id"], r["neighbor_id"])
          for r in cosine_topk(emb, emb, k=1).collect()}

    def recall(cent):
        got = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(emb, emb, k=1, nprobe=1,
                                 centroids=cent).collect()}
        return len(gt & got) / len(gt)

    r_seed, r_trained = recall(seed), recall(trained)
    assert r_trained >= r_seed
    assert r_trained >= 0.9
    # every served neighbor still honors the probe contract
    assign = {r["vec_id"]: r["cell"]
              for r in ivf_assign(emb, trained).collect()}
    for r in ivf_topk(emb, emb, k=3, nprobe=1, centroids=trained).collect():
        assert assign[r["neighbor_id"]] == assign[r["query_id"]]


def test_jaccard_max_df_none_uncapped(spark):
    """max_df=None with no frac means explicitly UNCAPPED — every
    shingle joins — not a silent NULL predicate that empties the
    candidate set (the recall cliff the docstring warns about)."""
    rows = [(i, "a b c d e") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = jaccard_pairs(docs, n=3, threshold=0.5,
                        max_df=None, max_df_frac=None)
    assert out.count() == 15  # all C(6,2) identical pairs


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_dedup_cache_hygiene(spark):
    """Eager dedup ops must not leave their O(corpus) intermediates
    (shingles / signatures) pinned: after a call only the RETURNED
    frame is cached, and unpersisting it restores the baseline."""
    docs = _docs(spark)
    ids = build_token_ids(docs).select("token", "token_id")

    n0 = _n_cached(spark)
    pairs = minhash_lsh_pairs(docs, ids)
    assert _n_cached(spark) == n0 + 1  # result only; signatures freed
    pairs.unpersist(blocking=True)
    assert _n_cached(spark) == n0

    n0 = _n_cached(spark)
    jp = jaccard_pairs(docs, n=3, threshold=0.1, max_df=10)
    assert _n_cached(spark) == n0 + 1  # result only; shingles freed
    jp.unpersist(blocking=True)
    assert _n_cached(spark) == n0


def _cached_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_unpersist_after_scopes_all_eager_pair_paths(spark):
    """The caller-owns-unpersist contract is enforceable through ONE
    shared scope: each eager pair function (jaccard / minhash / simhash)
    routed through unpersist_after leaves zero cached RDDs behind —
    including when the consuming block raises. Tracked by RDD id (the
    async ContextCleaner may concurrently drop OTHER tests' checkpoint
    RDDs, so absolute counts are not stable — new ids are)."""
    from kgpipe.dedup import simhash_pairs, unpersist_after

    docs = _docs(spark)
    ids = build_token_ids(docs).select("token", "token_id")
    makers = [
        lambda: jaccard_pairs(docs, n=3, threshold=0.1, max_df=10),
        lambda: minhash_lsh_pairs(docs, ids),
        lambda: simhash_pairs(docs, ids),
    ]
    for make in makers:
        before = _cached_ids(spark)
        with unpersist_after(make()) as pairs:
            assert pairs.count() >= 1
            added = _cached_ids(spark) - before
            assert added                        # pair frame cached inside
        assert not (_cached_ids(spark) & added)  # released on exit

    before = _cached_ids(spark)
    try:
        with unpersist_after(minhash_lsh_pairs(docs, ids)) as pairs:
            added = _cached_ids(spark) - before
            raise RuntimeError("consumer failed")
    except RuntimeError:
        pass
    assert not (_cached_ids(spark) & added)      # released on error too


def test_dedup_clusters_representatives(spark):
    """LSH pairs → connected components → min-doc_id representative:
    chained near-dups collapse into one cluster."""
    from kgpipe.dedup import dedup_clusters

    rows = [
        (10, "a b c d e"),
        (11, "a b c d e"),          # dup of 10
        (12, "a b c d e"),          # dup of 10 → one cluster {10,11,12}
        (13, "z y x w v u t"),      # isolated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ids = build_token_ids(docs).select("token", "token_id")
    out = {r["doc_id"]: r["keep_id"]
           for r in dedup_clusters(docs, ids).collect()}
    assert out == {10: 10, 11: 10, 12: 10}   # 13 isolated → omitted
