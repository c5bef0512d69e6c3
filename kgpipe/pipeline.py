"""End-to-end KG construction pipeline (SURVEY.md §3 lifecycles recast).

transcripts → W1 order/dedup → tokenize (+text-equality invariant) →
gazetteer tag → Q1 spans → Q2 marking → J5 candidates → scoring +
A1 marginalization → J7 acceptance + J6 enrichment → classification →
(subj, pred, obj) triples.

Every stage takes/returns DataFrames. `run_pipeline` is ONE stage
graph; only the materialization of its cut points varies: local
checkpoint, parquet, or — with a checkpoint_dir — resumable commits of
the `mentions`, `linked` and `enriched` stages (checkpoints.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe import checkpoints
from kgpipe.candidates import generate_candidates
from kgpipe.classify import classify
from kgpipe.kb import build_alias_map, build_kb_context, build_title_map
from kgpipe.mentions import (
    assert_text_equality, detect_mentions_join, tokenize, with_turn_order,
)
from kgpipe.triples import emit_triples


# Stage cuts skipped by default: each of these frames has exactly ONE
# downstream consumer, so cutting it buys no re-execution protection —
# it only adds a write+read (or checkpoint) job and a stage barrier.
# Measured (60k turns, identical triple counts): fused runs 22.6 s vs
# 31.9 s at local[8] and 14.6 s vs 19.1 s at local[32], with the
# per-run job count down 61 → 51 (the serial job floor is ~0.3 s of
# driver latency per job — the largest engine-side term in the N→4N
# scaling gap, BENCH/BASELINE.md). The multi-consumer cuts (mentions,
# linked, decisions, classified) stay: `decisions` fused measured
# SLOWER (25.1 s vs 22.6 at local[8]; ~3× degradation at 32 cores in
# r2) because the aggregation feeds a fold-back join. Pass
# skip_cuts=() to restore a cut table at every sub-step.
# "enriched" joined the list in r7: the map-only classifier
# (classify._with_scores) removed the scorer fold-back join, so
# classify is now enriched's single consumer and the cut only cost a
# ~190 MB checkpoint write+read per run.
SINGLE_CONSUMER_CUTS = ("candidates", "hypotheses", "ranked", "enriched")

# Dictionary fan-out (max QIDs per surface) above which the linking
# stage uses the join/groupBy/window candidate path instead of the
# in-row merge: the in-row higher-order expressions are interpreted and
# their per-mention cost grows with fan-out (see the decision comment
# in run_pipeline); the join path is fan-out-insensitive (codegen'd).
# 4 is conservative — at fan-out 4 the two probes give ≤8 in-row
# entries, still a few interpreted evals per mention.
IN_ROW_MAX_FANOUT = 4


def surfaces_df_from_dims(alias_map: DataFrame,
                          mention_counts: DataFrame) -> DataFrame:
    """Gazetteer surface universe = known mention surface forms (the
    stand-in tagger's 'training data'): alias map ∪ mention_counts keys.
    Stays a DataFrame — the tagger consumes it via broadcast JOIN, so
    no KB-sized set is ever collected to the driver (a 10⁷–10⁸-surface
    alias map would OOM a collected list)."""
    a = alias_map.select(F.col("alias_lc").alias("surface"))
    b = mention_counts.select(F.col("mention").alias("surface"))
    return a.unionByName(b).distinct()


def build_dims(spark: SparkSession, entity_kb: DataFrame, kb_args: DataFrame,
               mention_counts: DataFrame, materialize: bool = True,
               wiki_summaries: DataFrame | None = None,
               deferred: bool = False) -> dict:
    """KB-construction sub-pipeline (the reference's preprocess_wikidata/
    preprocess_mention_dicts stage): derive and return the broadcastable
    lookup dims + the gazetteer surface dim. Separate from the per-turn
    pipeline because it is KB-sized constant work, amortized over the
    corpus — benchmark the two independently.

    materialize=True localCheckpoints each dim: without it every
    consuming job re-derives AND re-broadcasts the dim from entity_kb
    (measured: a visible slice of the per-job fixed cost across the
    ~40-job pipeline). The surfaces dim rides an Observation on its
    materialization job to derive `surfaces_broadcastable` (the
    detect_mentions_join broadcast decision) for FREE — zero extra
    jobs, vs one probe job per tagger call otherwise."""
    dims = {
        "title_map": build_title_map(entity_kb),
        "alias_map": (am := build_alias_map(entity_kb)),
        "kb_context": build_kb_context(entity_kb, kb_args),
        "surfaces_df": surfaces_df_from_dims(am, mention_counts),
    }
    if wiki_summaries is not None:
        # dedup summaries HERE (amortized, materialized with the other
        # dims) so the decisions stage's broadcast build collects a
        # finished table instead of running the groupBy serially inside
        # the build — a measured driver-side window in the scaling logs
        from kgpipe.enrich import summary_dim

        dims["summaries_dim"] = summary_dim(wiki_summaries)
    if materialize:
        from pyspark.sql import Observation

        from kgpipe.mentions import BROADCAST_MAX_SURFACES

        obs = Observation()
        dims["surfaces_df"] = dims["surfaces_df"].observe(
            obs, F.count(F.lit(1)).alias("n"))
        # The dims are mutually independent, so their eager-checkpoint
        # jobs can run concurrently: serially each job pays the full
        # driver schedule/plan latency (~0.3 s/job — the dominant term
        # of the pipeline's constant serial gap, BENCH/LOCAL_sf1_r6),
        # measured 3.8 s → ~1.3 s at sf0.1. Spark job submission is
        # thread-safe; local scheduler interleaves the tiny dim stages.
        from concurrent.futures import ThreadPoolExecutor

        def _ck(name, df):
            sc = spark.sparkContext
            sc.setJobDescription(f"kgpipe dim:{name}")  # thread-local
            try:
                return df.localCheckpoint(eager=True)
            finally:
                sc.setJobDescription(None)

        pool = ThreadPoolExecutor(max_workers=len(dims))
        futures = {k: pool.submit(_ck, k, v) for k, v in dims.items()}
        if deferred:
            # resolve only the dim the FIRST pipeline stage consumes
            # (the tagger's surface universe); the other checkpoint
            # jobs stay in flight so the caller's mention stage
            # overlaps them (guide §2.6 "overlap independent jobs") —
            # run_pipeline resolves the futures before linking.
            dims = {**futures}
            dims["surfaces_df"] = futures["surfaces_df"].result()
            pool.shutdown(wait=False)
        else:
            dims = {k: f.result() for k, f in futures.items()}
            pool.shutdown()
        dims["surfaces_broadcastable"] = (
            (obs.get["n"] or 0) <= BROADCAST_MAX_SURFACES)
    return dims


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    entity_kb: DataFrame,
    kb_args: DataFrame,
    mention_counts: DataFrame,
    wiki_summaries: DataFrame,
    language: str = "en",
    checkpoint_dir: str | None = None,
    check_invariants: bool = True,
    beam: int = 8,
    max_candidates: int = 8,
    ensemble_seeds: int = 1,
    work_dir: str | None = None,
    dims: dict | None = None,
    cut_mode: str = "local",
    skip_cuts: tuple = SINGLE_CONSUMER_CUTS,
    canonical_map: DataFrame | None = None,
) -> dict:
    """Returns dict of stage DataFrames: turns, mentions, linked (the
    slim (mention_id, genre_prediction) frame), enriched, classified,
    triples. Pass `dims` (from build_dims) to reuse prebuilt KB lookups
    across runs.

    checkpoint_dir: commit the three durable cut points — mentions,
    linked, enriched — as append-only segments under
    <checkpoint_dir>/<stage> and compute only what is pending: the
    conversations no earlier run processed, and the upstream segments a
    stage has not consumed (checkpoints.resume_stage). Everything after
    the enriched commit stays lazy, so a caller that only wants the
    commits pays nothing for classification.
    cut_mode: how the other stage boundaries (and, without a
    checkpoint_dir, the durable ones) are materialized — "local"
    (default: localCheckpoint truncates lineage without a parquet
    roundtrip; measured ~25% faster), "parquet" (write+read under
    work_dir), "none" (fully fused — measurement baseline only).
    skip_cuts: non-durable stage names to fuse through regardless of
    mode.
    canonical_map: optional (qid, canonical_qid) frame (e.g. from
    canonical.canonicalize_qids over redirect_equivalence_edges) —
    applied to the accepted/link QIDs after enrichment, BEFORE
    classification features are consumed and triples are emitted
    (north_rule canonicalization step). Broadcast joins, no shuffle."""
    # deferred dims: build_dims resolves only the surface dim and leaves
    # the other checkpoint jobs in flight, so the mention stage below
    # overlaps them; _dim() blocks on a still-running future only when
    # a later stage actually needs that dim.
    dims = dims or build_dims(spark, entity_kb, kb_args, mention_counts,
                              wiki_summaries=wiki_summaries, deferred=True)

    def _dim(name):
        v = dims.get(name)
        return v.result() if hasattr(v, "result") else v

    surfaces_df = _dim("surfaces_df")

    turns = tokenize(with_turn_order(transcripts))
    if check_invariants:
        assert_text_equality(turns)

    from kgpipe.io import read_table, write_table

    def cut(df: DataFrame, name: str) -> DataFrame:
        # Materialize a stage boundary. Measured far faster than any
        # lazy/persist variant: most stage outputs have 2-3 downstream
        # consumers (candidate probe, hypothesis context, fold-back
        # join, triple branches) and Catalyst's project collapsing
        # otherwise re-inlines the expensive candidate/hypothesis
        # expressions per consumer; a fused linking mega-stage also
        # degrades at high parallelism (per-task memory shrinks with
        # concurrency at fixed heap).
        nonlocal work_dir
        if name in skip_cuts or cut_mode == "none":
            return df
        # label the cut's job so UI/eventlog time attributes to the
        # stage by name (guide §1.5); thread-local, reset after
        spark.sparkContext.setJobDescription(f"kgpipe cut:{name}")
        try:
            if cut_mode == "local":
                return df.localCheckpoint(eager=True)
            if work_dir is None:
                import tempfile

                work_dir = tempfile.mkdtemp(prefix="kgpipe-stages-")
            path = os.path.join(work_dir, name)
            write_table(df, path)
            return read_table(spark, path)
        finally:
            spark.sparkContext.setJobDescription(None)

    def stage_path(name: str) -> str:
        return os.path.join(checkpoint_dir, name)

    stages = {}

    def durable(name: str, compute, source, key: str | None = None):
        """The three durable cut points. `source` is the input frame,
        resumed against `key`, or the name of the upstream durable
        stage. With a checkpoint_dir: a resumable commit — pending =
        source anti-joined on `key`, or the upstream stage's unconsumed
        segments. Otherwise: a plain cut of compute(source)."""
        upstream = isinstance(source, str)
        if checkpoint_dir:
            work = stage_path(source) if upstream else source
            stages[name] = checkpoints.resume_stage(
                work, stage_path(name), name, compute, key=key)
        else:
            stages[name] = cut(compute(stages[source] if upstream
                                       else source), name)
        return stages[name]

    # fan-out statistic for the candidate-path choice in link(),
    # computed CONCURRENTLY with the turn/mention cuts (one tiny dim
    # aggregation; the thread overlaps its job with the stage jobs
    # exactly like build_dims' deferred checkpoints)
    from concurrent.futures import ThreadPoolExecutor

    def _max_fanout():
        row = (mention_counts.groupBy("mention")
               .agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).collect())
        return (row[0][0] if row else 0) or 0

    _fanout_pool = ThreadPoolExecutor(max_workers=1)
    fanout_future = _fanout_pool.submit(_max_fanout)
    _fanout_pool.shutdown(wait=False)

    turns_cut = None

    def tag(t: DataFrame) -> DataFrame:
        # raw transcripts → token-free mention rows. Tokens stay on a
        # turn-level cut (one array per turn, r7): the mention rows
        # drop them and link() re-attaches them with one narrow join on
        # (conv_id, turn_idx). The cut also dedupes the tagger's two
        # internal scans of the turn frame. The tagger and that join
        # consume ONLY (conv_id, turn_idx, tokens): mention text and
        # marked_text are token-slice reconstructions. The broadcast-
        # JOIN tagger keeps the surface dim off the driver; its
        # broadcast decision comes from build_dims' Observation.
        nonlocal turns_cut
        turns_cut = cut(tokenize(with_turn_order(t))
                        .select("conv_id", "turn_idx", "tokens"), "turns")
        return detect_mentions_join(
            turns_cut, surfaces_df,
            broadcast_dim=dims.get("surfaces_broadcastable")).drop("tokens")

    # Mention segments a crashed run committed without their linked
    # segment: their tokens are not in this run's turn cut, so link()
    # re-tokenizes from all turns — the only case that pays extra.
    leftover = bool(checkpoint_dir) and bool(checkpoints.pending_segments(
        stage_path("linked"), stage_path("mentions")))
    # the unit of resume is the conversation, anti-joined ONCE on the
    # raw transcripts (below with_turn_order)
    mentions = durable("mentions", tag, transcripts, key="conv_id")
    tokens = (turns.select("conv_id", "turn_idx", "tokens") if leftover
              else turns_cut)

    from kgpipe.linking import (
        marginalize, predictions_frame, score_hypotheses,
        score_hypotheses_inrow,
    )

    def link(m: DataFrame) -> DataFrame:
        # planner-default join (SMJ at scale) — NO shuffle_hash hint:
        # hash-building a partition's worth of turn TOKEN ARRAYS
        # re-creates the tight-heap pathology the score_hypotheses
        # join-strategy note documents (measured: with the hint a
        # 2g/2-core standalone leg ground >30 min inside this stage).
        m_tok = m.join(tokens, ["conv_id", "turn_idx"])
        # Candidate-path choice is DATA-ADAPTIVE on the dictionary's
        # fan-out (max QIDs per surface):
        # - small fan-out (≤ IN_ROW_MAX_FANOUT): the in-row path
        #   (attach_candidates merge + on-row scoring) — zero exchanges
        #   before the beam window; measured ~1.5 s faster per sf1.0
        #   run at the bench lexicon's fan-out of 1.
        # - larger fan-out: the JOIN/groupBy/window composition (every
        #   operator codegen'd). The in-row higher-order expressions
        #   are INTERPRETED and their cost scales with fan-out: at 84
        #   qids/surface even the linear merge blew past a 10-minute
        #   local[8] budget on 1.2M turns where this join shape
        #   finishes the whole pipeline in 232 s (guide §2.5, §4).
        # candidates/hypotheses/ranked are single-consumer and fuse by
        # default (SINGLE_CONSUMER_CUTS).
        if fanout_future.result() <= IN_ROW_MAX_FANOUT:
            hyps = score_hypotheses_inrow(
                m_tok, mention_counts, _dim("title_map"),
                beam=beam, max_candidates=max_candidates)
        else:
            cands = generate_candidates(m, mention_counts,
                                        max_candidates=max_candidates)
            hyps = score_hypotheses(cands, m_tok, _dim("title_map"),
                                    beam=beam)
        # details=False: texts/scores are per-QID diagnostics nothing
        # here reads; slim rows through the marginalize agg, the rank
        # window and the fold
        ranked = cut(marginalize(cut(hyps, "hypotheses"), details=False),
                     "ranked")
        # r7 slim fold: the durable cut is (mention_id, genre_prediction),
        # not the wide mention rows — the decision stage reads only
        # these two columns, so the wide rows cross ONE exchange, in
        # the terminal attach (guide §2.3 "project before the exchange")
        return predictions_frame(ranked)

    linked = durable("linked", link, "mentions")

    from kgpipe.enrich import (
        acceptance_decisions, attach_predictions_and_decisions,
    )

    def enrich(preds: DataFrame) -> DataFrame:
        # the mention rows the pending predictions were computed from:
        # on resume, the mention segments behind the unconsumed linked
        # segments (manifest lineage, no Spark job)
        m = (checkpoints.lineage_rows(spark, stage_path("enriched"),
                                      stage_path("linked"),
                                      stage_path("mentions"))
             if checkpoint_dir else mentions)
        # decision aggregation cut before the terminal attach (fused,
        # it degrades ~3× at 32 cores)
        decisions = cut(
            acceptance_decisions(preds, _dim("kb_context"), wiki_summaries,
                                 language=language,
                                 summaries_dim=_dim("summaries_dim")),
            "decisions")
        return attach_predictions_and_decisions(m, preds, decisions)

    enriched = durable("enriched", enrich, "linked")

    if canonical_map is not None:
        from kgpipe.canonical import apply_canonicalization

        enriched = apply_canonicalization(
            enriched, canonical_map, ["accepted_qid", "link_qid"])

    if ensemble_seeds > 1:
        from kgpipe.classify import classify_ensemble

        classified = classify_ensemble(enriched, n_variants=ensemble_seeds)
    else:
        classified = classify(enriched)
    # if the classified frame is materialized (parquet/localCheckpoint)
    # the two triple branches read it cheaply; otherwise let
    # emit_triples persist its slim projection. With a checkpoint_dir
    # nothing after the enriched commit runs until the caller asks.
    was_cut = not (checkpoint_dir or cut_mode == "none"
                   or "classified" in skip_cuts)
    if was_cut:
        classified = cut(classified, "classified")
    triples = emit_triples(classified, materialize=not was_cut)
    return {
        "turns": turns,
        "mentions": mentions,
        "linked": linked,
        "enriched": enriched,
        "classified": classified,
        "triples": triples,
        "dims": {
            "title_map": _dim("title_map"),
            "alias_map": _dim("alias_map"),
            "kb_context": _dim("kb_context"),
        },
    }
