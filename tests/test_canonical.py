"""Connected-components canonicalization (north_rule; canonical.py)."""

from pyspark.sql import functions as F

from kgpipe import schemas
from kgpipe.canonical import (
    apply_canonicalization,
    canonicalize_qids,
    connected_components,
    redirect_equivalence_edges,
)
from kgpipe.kb import build_title_map


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: find(n) for n in parent}


def test_cc_cycles_and_components(spark):
    # component A: chain + cycle (Q10-Q20-Q30-Q10); component B: pair;
    # component C: a 12-node chain (exercises pointer jumping past the
    # naive per-hop propagation); self-loop dropped
    edges = (
        [("Q20", "Q10"), ("Q30", "Q20"), ("Q10", "Q30")]
        + [("Q5", "Q100")]
        + [(f"Q{200 + i}", f"Q{201 + i}") for i in range(12)]
        + [("Q7", "Q7")]
    )
    df = spark.createDataFrame(edges, "src string, dst string")
    out = {r["qid"]: r["canonical_qid"]
           for r in canonicalize_qids(df).collect()}
    assert out["Q10"] == out["Q20"] == out["Q30"] == "Q10"
    assert out["Q5"] == out["Q100"] == "Q5"
    for i in range(13):
        assert out[f"Q{200 + i}"] == "Q200"
    assert "Q7" not in out  # self-loop only → no equivalence info

    # parity vs a union-find twin (same component partition)
    uf = _union_find([e for e in edges if e[0] != e[1]])
    for a in uf:
        for b in uf:
            assert (out[a] == out[b]) == (uf[a] == uf[b])

    # a graph that is one edge: both nodes map to the min node
    one = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert {(r["node"], r["component"])
            for r in connected_components(one).collect()} == {
        ("a", "a"), ("b", "a")}


def test_cc_generic_key_lexicographic(spark):
    df = spark.createDataFrame([("b", "c"), ("c", "a")], "src string, dst string")
    out = {r["node"]: r["component"]
           for r in connected_components(df).collect()}
    assert out == {"a": "a", "b": "a", "c": "a"}


def test_redirect_equivalence_and_apply(spark):
    kb = spark.createDataFrame(
        [
            ("Q1", {"en": "New"}, {"en": "d"}, {"en": "New"}, {}),
            ("Q9", {"en": "Old"}, {"en": "d"}, {"en": "Old"}, {}),
            ("Q4", {"en": "Other"}, {"en": "d"}, {"en": "Other"}, {}),
        ],
        schema=schemas.ENTITY_KB,
    )
    tm = build_title_map(kb)
    redirects = spark.createDataFrame(
        [("en", "Old", "New"), ("en", "Missing", "New")],
        schema=schemas.REDIRECTS,
    )
    edges = redirect_equivalence_edges(redirects, tm)
    assert [tuple(r) for r in edges.collect()] == [("Q9", "Q1")]

    mapping = canonicalize_qids(edges)
    facts = spark.createDataFrame(
        [("m1", "Q9"), ("m2", "Q1"), ("m3", "Q4"), ("m4", "Q0")],
        "mention_id string, link_qid string",
    )
    out = {r["mention_id"]: r["link_qid"]
           for r in apply_canonicalization(facts, mapping, ["link_qid"]).collect()}
    # Q9 collapses onto Q1 (min numeric); unmapped ids pass through
    assert out == {"m1": "Q1", "m2": "Q1", "m3": "Q4", "m4": "Q0"}


def test_pipeline_canonicalization_applied(spark, fixture_set):
    """north_rule: canonical QIDs applied before triple emission — a
    mapped entity's links_to objects and QID-fact subjects are rewritten
    to the component representative; unmapped QIDs pass through."""
    from pyspark.sql import functions as F

    from kgpipe.pipeline import run_pipeline

    base = run_pipeline(
        spark, fixture_set["transcripts"], fixture_set["entity_kb"],
        fixture_set["kb_args"], fixture_set["mention_counts"],
        fixture_set["wiki_summaries"], language="en",
    )
    linked_qids = [r["obj"] for r in base["triples"]
                   .filter((F.col("pred") == "links_to") & (F.col("obj") != "Q0"))
                   .select("obj").distinct().collect()]
    victim = sorted(linked_qids)[-1]
    cmap = spark.createDataFrame([(victim, "Q1")],
                                 "qid string, canonical_qid string")

    res = run_pipeline(
        spark, fixture_set["transcripts"], fixture_set["entity_kb"],
        fixture_set["kb_args"], fixture_set["mention_counts"],
        fixture_set["wiki_summaries"], language="en", canonical_map=cmap,
    )
    links = {r["obj"] for r in res["triples"]
             .filter(F.col("pred") == "links_to").collect()}
    subjs = {r["subj"] for r in res["triples"]
             .filter(F.col("pred") == "described_as").collect()}
    assert victim not in links and "Q1" in links
    assert victim not in subjs and "Q1" in subjs
    # unmapped qids untouched
    assert links - {"Q1", "Q0"} <= set(linked_qids)


def test_connected_components_typed_long_keys(spark):
    """Nodes keep their INPUT type end-to-end: long edges → long
    (node, component) — the CC shuffle carries 8-byte longs, never
    decimal strings (the dedup→CC path's dominant byte stream)."""
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (100, 99)], "src long, dst long")
    out = connected_components(edges)
    assert [f.dataType.simpleString() for f in out.schema.fields] == \
        ["bigint", "bigint"]
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {10: 10, 11: 10, 12: 10, 99: 99, 100: 99}


def test_cc_star_graph_skewed_hub(spark):
    """Skewed super-component guard: a star graph (one hub, 10⁴ spokes)
    is the worst-case skew for the min-label aggregation — the hub's
    groupBy("a") group holds every edge. It must still converge in O(1)
    rounds with the right answer: the per-round min() is map-side
    combinable (partial aggregation shrinks the hub group to one row
    per shuffle partition BEFORE the shuffle), so the hot key costs no
    hot partition — the property that makes the loop safe at
    billion-edge scale without salting."""
    from kgpipe import canonical

    n = 10_000
    edges = spark.range(1, n + 1).select(
        F.lit(0).alias("src"), F.col("id").alias("dst"))
    out = canonical.connected_components(edges)
    assert out.count() == n + 1
    assert out.filter(F.col("component") != 0).count() == 0
    # round 1 labels every spoke 0; round 2 observes no change
    assert canonical.last_cc_rounds <= 3


def test_cc_path_graph_log_rounds(spark):
    """Convergence bound: hash-to-min with the per-round pointer jump
    is O(log n) rounds, NOT O(diameter) — a 256-node path (diameter
    255) must converge in ≤ 2·log₂(n)+2 rounds. Plain propagation
    would need 255; a regression here multiplies the serial job count
    at scale."""
    import math

    from kgpipe import canonical

    n = 256
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    out = canonical.connected_components(edges)
    got = {r["node"]: r["component"] for r in out.collect()}
    assert got == {i: 0 for i in range(n)}
    assert canonical.last_cc_rounds <= 2 * math.ceil(math.log2(n)) + 2
