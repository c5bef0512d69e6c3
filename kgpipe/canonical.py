"""Canonicalization via connected components over alias/redirect
equivalence edges (north_rule: "canonicalization via connected-components
over alias/redirect broadcast maps"; SURVEY.md §7.1, §7.3.7).

Two complementary operators:

- kb.resolve_redirect_closure (J2) reproduces the reference's bounded
  pointer chase exactly (GENRE/genre/utils.py:454-464) — per-anchor
  parity semantics, directed, ≤10 hops.
- connected_components here is the KB-construction-side canonicalizer:
  treat redirect pairs / alias-identity pairs as UNDIRECTED equivalence
  edges, compute components, and assign one deterministic canonical
  representative per component (min sort key — for QIDs, the minimum
  numeric id). Applied to subjects/objects before triple emission, it
  collapses duplicate entities that the bounded chase cannot (cycles,
  diamonds, alias-merged ids).

Algorithm: iterative min-label propagation + one pointer-jump (label ←
label of label) per round — the classic "hash-to-min" scheme, O(log n)
rounds on typical graphs instead of O(diameter) for plain propagation.
Each round is two broadcast-joinable equi-joins + a groupBy; labels are
localCheckpoint'ed per round — that truncates the LOGICAL plan (plain
persist does not), which otherwise grows exponentially across iterated
self-joins.
At 100 TB the same loop runs with the edge list partitioned by `a` and
AQE handling the (rare) skewed super-component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kgpipe.kb import qid_num

# label-propagation rounds the last connected_components call took to converge
# (incl. the final no-change round). Exposed for the skew/convergence
# tests: hash-to-min is O(log n) rounds, and a regression here turns
# directly into serial loop jobs at billion-edge scale.
last_cc_rounds: int | None = None


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    key=None,
    max_iter: int = 50,
) -> DataFrame:
    """(src, dst) undirected edges → (node, component); component is the
    member node minimizing `key(node)` (default: min in the node's own
    type ordering). Nodes keep their INPUT type end-to-end — long doc_ids
    shuffle as 8-byte longs, never as decimal strings (the CC shuffle key
    is the dominant byte stream at billion-edge scale).
    Isolated nodes don't appear in edges and map to themselves — union
    them in downstream (canonicalize_qids leaves unmapped ids as-is).
    kgpipe.canonical.last_cc_rounds records the rounds to convergence.
    """
    global last_cc_rounds
    keyf = key or (lambda c: c)

    e = edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    sym = (
        e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )

    def lab_struct(node_col):
        return F.struct(keyf(node_col).alias("k"), node_col.alias("n"))

    # localCheckpoint per round: truncates the LOGICAL plan, not just
    # execution — without it the iterated self-joins grow the plan
    # exponentially and Catalyst itself becomes the bottleneck
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .select("node", lab_struct(F.col("node")).alias("comp"))
        .localCheckpoint(eager=True)
    )

    last_cc_rounds = 0
    for _ in range(max_iter):
        last_cc_rounds += 1
        # (1) adopt the min label among self + neighbors
        nbr = (
            sym.join(
                labels.select(F.col("node").alias("b"),
                              F.col("comp").alias("b_comp")),
                "b",
            )
            .groupBy("a")
            .agg(F.min("b_comp").alias("nbr_comp"))
            .withColumnRenamed("a", "node")
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node",
            F.col("comp").alias("old_comp"),
            F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # (2) pointer jump: comp ← comp(comp.n) — path compression
        mapping = stepped.select(
            F.col("node").alias("m_node"), F.col("comp").alias("m_comp")
        )
        new_comp = F.least("comp", F.coalesce("m_comp", "comp"))
        # the convergence check rides the SAME job as the per-round
        # localCheckpoint via a Dataset observation (changed-label count
        # as an accumulator metric) — 1 job per round instead of the
        # 3 (checkpoint + join + count) a driver-side recount costs;
        # at billion-edge scale the loop's serial job floor halves
        obs = Observation()
        jumped = (
            stepped.join(mapping, stepped["comp.n"] == mapping["m_node"], "left")
            .select(
                "node",
                new_comp.alias("comp"),
                (new_comp.getField("n") != F.col("old_comp").getField("n"))
                .cast("long").alias("_chg"),
            )
            .observe(obs, F.sum("_chg").alias("changed"))
            .select("node", "comp")
            .localCheckpoint(eager=True)
        )
        labels = jumped
        if (obs.get["changed"] or 0) == 0:
            break

    out = labels.select("node", F.col("comp.n").alias("component"))
    return out


def canonicalize_qids(equiv_edges: DataFrame, src_col: str = "src",
                      dst_col: str = "dst", max_iter: int = 50) -> DataFrame:
    """QID equivalence edges → (qid, canonical_qid) with the minimum
    NUMERIC QID as the canonical representative (deterministic; the
    J1 max-QID tiebreak is a per-lookup rule, canonical ids follow the
    min-id convention so merged entities keep their oldest id)."""
    cc = connected_components(
        equiv_edges, src_col, dst_col, key=qid_num, max_iter=max_iter
    )
    return cc.select(F.col("node").alias("qid"),
                     F.col("component").alias("canonical_qid"))


def redirect_equivalence_edges(redirects: DataFrame,
                               title_map: DataFrame) -> DataFrame:
    """Redirect pairs lifted to QID space: (lang, src_title → dst_title)
    where BOTH titles independently resolve to QIDs yield an equivalence
    edge between those QIDs — the 'same page under two ids' signal that
    the bounded chase can't merge. Broadcast joins only."""
    tm = F.broadcast(title_map)
    src_q = redirects.join(
        tm.select("lang", F.col("title").alias("src_title"),
                  F.col("qid").alias("src_qid")),
        ["lang", "src_title"],
    )
    return src_q.join(
        F.broadcast(title_map.select(
            "lang", F.col("title").alias("dst_title"),
            F.col("qid").alias("dst_qid"))),
        ["lang", "dst_title"],
    ).select(F.col("src_qid").alias("src"), F.col("dst_qid").alias("dst")) \
     .distinct()


def apply_canonicalization(df: DataFrame, mapping: DataFrame,
                           cols: list[str]) -> DataFrame:
    """Rewrite QID columns through the (qid, canonical_qid) mapping;
    ids outside any component pass through unchanged. One broadcast
    join per column — zero shuffles on the fact stream."""
    out = df
    for c in cols:
        m = F.broadcast(mapping.select(
            F.col("qid").alias(f"_{c}_qid"),
            F.col("canonical_qid").alias(f"_{c}_canon")))
        out = (
            out.join(m, out[c] == F.col(f"_{c}_qid"), "left")
            .withColumn(c, F.coalesce(F.col(f"_{c}_canon"), F.col(c)))
            .drop(f"_{c}_qid", f"_{c}_canon")
        )
    return out
