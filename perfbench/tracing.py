"""The traced run: layer spans around calls into each kgpipe module,
and per-layer figures attributed from the Spark event log.

A span names a layer (a kgpipe module). Inside it every Spark job
runs under the job group `perfbench:<layer>:<op>`, and each layer's
output is forced with an eager localCheckpoint that carries an
Observation, so row counts and data-quality counters cost no extra
job. After the session stops, `layer_metrics` reads the event log
and attributes each job, and the tasks of its stages, to a span: by
job group, or, for jobs submitted from threads the benchmark does
not control (the streaming query's), to the innermost span open at
submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F

LAYERS = ("kb", "mentions", "candidates", "linking", "enrich", "classify",
          "triples", "checkpoints", "streaming")
# (metric, unit, better) recorded for every layer
LAYER_METRICS = (
    ("wall_s", "s", "lower"),        # span self time
    ("driver_s", "s", "lower"),      # self time covered by no Spark job
    ("jobs", "count", "lower"),
    ("executor_s", "s", "lower"),    # task run time
    ("gc_s", "s", "lower"),          # task JVM GC time
    ("shuffle_mb", "MB", "lower"),   # shuffle bytes written
    ("spill_mb", "MB", "lower"),     # bytes spilled to disk
    ("rows_out", "count", "higher"),
)
# Ratios, each over the base named in perfbench/README.md, and the
# tracing figures.
EXTRA_METRICS = (
    ("mentions.per_turn", "ratio", "higher"),
    ("candidates.per_mention", "ratio", "lower"),
    ("linking.q0_ratio", "ratio", "lower"),
    ("enrich.accept_ratio", "ratio", "higher"),
    ("enrich.en_fallback_ratio", "ratio", "lower"),
    ("enrich.sentinel_ratio", "ratio", "lower"),
    ("classify.fallback_ratio", "ratio", "lower"),
    ("triples.per_mention", "ratio", "higher"),
    ("checkpoints.recompute_ratio", "ratio", "lower"),
    ("checkpoints.write_amp", "ratio", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_ms", "ms", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.unattributed_s", "s", "lower"),
)
PER_LAYER = tuple((f"{layer}.{m}", unit, better) for layer in LAYERS
                  for m, unit, better in LAYER_METRICS) + EXTRA_METRICS
# The result line's metrics (BENCHMARK.json's per_layer list). Task GC
# time and spill go to the detail line only: at these input sizes they
# read 0 for most layers on every run.
HEADLINE = tuple(m for m in PER_LAYER
                 if not m[0].endswith((".gc_s", ".spill_mb")))
GROUP_PREFIX = "perfbench:"
# run_pipeline's resumable stage names → the layer computing them
RESUME_LAYER = {"mentions": "mentions", "linked": "linking",
                "enriched": "enrich"}


def event_log_conf(log_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


class Tracer:
    """Spans and counters of the traced ops in one session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op = 0
        self.counts: dict = defaultdict(float)   # (op, counter) → value
        self.batch_ms: dict = defaultdict(list)  # op → trigger times

    def start_op(self) -> int:
        self.op += 1
        return self.op

    def _set_group(self) -> None:
        if self.stack:
            layer = self.spans[self.stack[-1]]["layer"]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{layer}:{self.op}", layer)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer}")
        sid = len(self.spans)
        self.spans.append({"op": self.op, "layer": layer,
                           "parent": self.stack[-1] if self.stack else None,
                           "t0": time.time(), "t1": None})
        self.stack.append(sid)
        self._set_group()
        try:
            yield
        finally:
            self.spans[sid]["t1"] = time.time()
            self.stack.pop()
            self._set_group()

    def count(self, name: str, value) -> None:
        self.counts[(self.op, name)] += value or 0

    def cut(self, df, rows: str | None = None, **counters):
        """Force `df` (eager localCheckpoint) inside the open span. Its
        row count adds to the counter `rows` (default `<layer>.rows`,
        the layer's output) and each named aggregate column to the
        counter of that name, through an Observation on the same job."""
        layer = self.spans[self.stack[-1]]["layer"]
        obs = Observation()
        exprs = [F.count(F.lit(1)).alias("_rows")] + [
            c.alias(k) for k, c in counters.items()]
        out = df.observe(obs, *exprs).localCheckpoint(eager=True)
        vals = obs.get
        self.count(rows or f"{layer}.rows", vals["_rows"])
        for k in counters:
            self.count(k, vals[k])
        return out

    # ------------------------------------------------------ the stages

    def dims(self, entity_kb, kb_args, mention_counts, wiki_summaries) -> dict:
        """build_dims(materialize=True), one dim after another so every
        job runs in this thread, under the kb group."""
        from kgpipe.enrich import summary_dim
        from kgpipe.kb import build_alias_map, build_kb_context, build_title_map
        from kgpipe.mentions import BROADCAST_MAX_SURFACES
        from kgpipe.pipeline import surfaces_df_from_dims

        with self.span("kb"):
            alias_map = build_alias_map(entity_kb)
            dims = {
                "title_map": self.cut(build_title_map(entity_kb)),
                "alias_map": self.cut(alias_map),
                "kb_context": self.cut(build_kb_context(entity_kb, kb_args)),
                "surfaces_df": self.cut(
                    surfaces_df_from_dims(alias_map, mention_counts),
                    surfaces=F.count(F.lit(1))),
                "summaries_dim": self.cut(summary_dim(wiki_summaries)),
            }
        dims["surfaces_broadcastable"] = (
            self.counts[(self.op, "surfaces")] <= BROADCAST_MAX_SURFACES)
        return dims

    def pipeline(self, spark, transcripts, entity_kb, kb_args, mention_counts,
                 wiki_summaries, language: str = "en",
                 check_invariants: bool = True) -> dict:
        """run_pipeline's default path (cut_mode="local"), stage by stage,
        taking the same linking branch. Extra cuts: candidates (join
        branch) and enriched, so each layer's output is forced on its
        own."""
        from kgpipe.candidates import generate_candidates
        from kgpipe.classify import classify
        from kgpipe.enrich import (
            acceptance_decisions, attach_predictions_and_decisions,
        )
        from kgpipe.linking import (
            marginalize, predictions_frame, score_hypotheses,
            score_hypotheses_inrow,
        )
        from kgpipe.mentions import (
            assert_text_equality, detect_mentions_join, tokenize,
            with_turn_order,
        )
        from kgpipe.pipeline import IN_ROW_MAX_FANOUT
        from kgpipe.triples import emit_triples

        dims = self.dims(entity_kb, kb_args, mention_counts, wiki_summaries)
        with self.span("mentions"):
            turns = tokenize(with_turn_order(transcripts))
            if check_invariants:
                assert_text_equality(turns)
            turns_cut = self.cut(
                turns.select("conv_id", "turn_idx", "tokens"), rows="turns")
            mentions = self.cut(detect_mentions_join(
                turns_cut, dims["surfaces_df"],
                broadcast_dim=dims["surfaces_broadcastable"]).drop("tokens"))
        with self.span("linking"):
            m_tok = mentions.join(
                turns_cut.select("conv_id", "turn_idx", "tokens"),
                ["conv_id", "turn_idx"])
            row = (mention_counts.groupBy("mention")
                   .agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).collect())
            fanout = (row[0][0] if row else 0) or 0
        if fanout <= IN_ROW_MAX_FANOUT:
            with self.span("linking"):
                hyps = score_hypotheses_inrow(m_tok, mention_counts,
                                              dims["title_map"])
        else:
            with self.span("candidates"):
                cands = self.cut(generate_candidates(mentions, mention_counts))
            with self.span("linking"):
                hyps = score_hypotheses(cands, m_tok, dims["title_map"])
        with self.span("linking"):
            preds = self.cut(predictions_frame(marginalize(hyps, details=False)))
        # mentions without a surviving candidate are absent from preds
        # and get the Q0 sentinel at the terminal attach
        self.count("q0", self.counts[(self.op, "mentions.rows")]
                   - self.counts[(self.op, "linking.rows")])
        with self.span("enrich"):
            decisions = self.cut(
                acceptance_decisions(preds, dims["kb_context"], wiki_summaries,
                                     language=language,
                                     summaries_dim=dims["summaries_dim"]),
                rows="decisions")
            enriched = self.cut(
                attach_predictions_and_decisions(mentions, preds, decisions),
                **self._enrich_counters(language))
        classified = self.classify(classify(enriched))
        with self.span("triples"):
            return {"triples": emit_triples(classified, materialize=False)}

    def classify(self, classified):
        from kgpipe.classify import FALLBACK_LABEL

        with self.span("classify"):
            return self.cut(classified, fallback=F.sum(
                (F.col("pred_label") == FALLBACK_LABEL).cast("long")))

    @staticmethod
    def _enrich_counters(language: str) -> dict:
        accepted = F.col("accepted_qid").isNotNull()
        fallback = accepted & (F.col("accepted_lang") != language)
        return {"accepted": F.sum(accepted.cast("long")),
                "en_fallback": F.sum(fallback.cast("long")),
                "sentinel": F.sum((~accepted).cast("long"))}

    def resume_pipeline(self, spark, transcripts, entity_kb, kb_args,
                        mention_counts, wiki_summaries, language: str,
                        checkpoint_dir: str, base_rows: dict):
        """run_pipeline(checkpoint_dir=…) itself, with its eager
        checkpoints.resume_stage / commit_stage calls wrapped in
        checkpoints spans and each stage's compute (and the linking
        stage's candidate generation) forced in its own layer span.
        `base_rows` maps stage → rows committed in the base."""
        import kgpipe.pipeline
        from kgpipe import checkpoints
        from kgpipe.schemas import Q0
        from kgpipe.triples import emit_triples

        real_resume = checkpoints.resume_stage
        real_commit = checkpoints.commit_stage
        real_candidates = kgpipe.pipeline.generate_candidates
        dims = self.dims(entity_kb, kb_args, mention_counts, wiki_summaries)

        def resume_stage(work, path, stage, compute, key="mention_id"):
            layer = RESUME_LAYER[stage]
            extra = {}
            if layer == "enrich":
                extra = self._enrich_counters(language)
            elif layer == "linking":
                extra = {"q0": F.sum(
                    (F.col("genre_prediction")[0] == Q0).cast("long"))}

            def traced_compute(pending):
                with self.span(layer):
                    if layer == "mentions":
                        # the pending turns: the base of mentions.per_turn
                        pending = self.cut(pending, rows="turns")
                    n0 = self.counts[(self.op, f"{layer}.rows")]
                    out = self.cut(compute(pending), **extra)
                    self.count("recomputed",
                               self.counts[(self.op, f"{layer}.rows")] - n0)
                    return out

            with self.span("checkpoints"):
                return real_resume(work, path, stage, traced_compute, key=key)

        def commit_stage(df, path, stage, *args, **kwargs):
            manifest = real_commit(df, path, stage, *args, **kwargs)
            written = _dir_bytes(manifest["data_dir"])
            new_rows = manifest["rows"] - base_rows[stage]
            self.count("written_bytes", written)
            self.count("new_rows", new_rows)
            self.count("new_bytes", written * new_rows / max(manifest["rows"], 1))
            return manifest

        def generate_candidates(*args, **kwargs):
            with self.span("candidates"):
                return self.cut(real_candidates(*args, **kwargs))

        checkpoints.resume_stage = resume_stage
        checkpoints.commit_stage = commit_stage
        kgpipe.pipeline.generate_candidates = generate_candidates
        try:
            res = kgpipe.pipeline.run_pipeline(
                spark, transcripts, entity_kb, kb_args, mention_counts,
                wiki_summaries, language=language,
                checkpoint_dir=checkpoint_dir, dims=dims)
        finally:
            checkpoints.resume_stage = real_resume
            checkpoints.commit_stage = real_commit
            kgpipe.pipeline.generate_candidates = real_candidates
        classified = self.classify(res["classified"])
        with self.span("triples"):
            return emit_triples(classified, materialize=False)

    def write_triples(self, triples, sink: str) -> None:
        obs = Observation()
        with self.span("triples"):
            triples.observe(obs, F.count(F.lit(1)).alias("n")).write.parquet(sink)
        self.count("triples.rows", obs.get["n"])

    def stream_progress(self, batch_ms: list, rows_out: int) -> None:
        self.batch_ms[self.op].extend(batch_ms)
        self.count("streaming.rows", rows_out)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ----------------------------------------------------------- event log

def _read_event_log(log_dir: str):
    jobs: dict = {}
    stage_job: dict = {}
    stage_sums: dict = defaultdict(lambda: defaultdict(float))
    (path,) = glob.glob(os.path.join(log_dir, "*"))
    with open(path, encoding="utf8", errors="replace") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"t0": ev["Submission Time"] / 1000.0,
                             "t1": None,
                             "group": props.get("spark.jobGroup.id")}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics") or {}
                s = stage_sums[ev["Stage ID"]]
                s["executor_s"] += tm.get("Executor Run Time", 0) / 1000.0
                s["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                s["shuffle_mb"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0) / 1e6
                s["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return jobs, stage_job, stage_sums


def _subtract(intervals: list, cut: list) -> list:
    """Parts of `intervals` not covered by any interval in `cut`."""
    out = intervals
    for c0, c1 in cut:
        nxt = []
        for a, b in out:
            if c1 <= a or c0 >= b:
                nxt.append((a, b))
                continue
            if a < c0:
                nxt.append((a, c0))
            if c1 < b:
                nxt.append((c1, b))
        out = nxt
    return out


def _length(intervals: list) -> float:
    return sum(b - a for a, b in intervals)


def layer_metrics(tracer: Tracer, log_dir: str, op_times: dict) -> tuple:
    """Per traced op: {metric: value} over every layer, and the op's
    self-time sanity figures. `op_times` maps op → measured op wall
    time. Call after the session has stopped (the log is complete)."""
    jobs, stage_job, stage_sums = _read_event_log(log_dir)
    spans = tracer.spans
    children = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            children[s["parent"]].append(i)
    job_ivals = [(j["t0"], j["t1"]) for j in jobs.values() if j["t1"]]

    def owner(job) -> tuple | None:
        """(op, layer) a job belongs to, or None (an untraced op's job)."""
        group = job["group"] or ""
        if group.startswith(GROUP_PREFIX):
            layer, op = group[len(GROUP_PREFIX):].rsplit(":", 1)
            return int(op), layer
        open_spans = [s for s in spans if s["t0"] <= job["t0"] <= s["t1"]]
        if not open_spans:
            return None
        s = max(open_spans, key=lambda s: s["t0"])
        return s["op"], s["layer"]

    per_op: dict = {op: defaultdict(float) for op in op_times}
    for jid, job in jobs.items():
        key = owner(job)
        if key is None or key[0] not in per_op:
            continue
        op, layer = key
        m = per_op[op]
        m[f"{layer}.jobs"] += 1
        for st, j in stage_job.items():
            if j == jid:
                for k, v in stage_sums[st].items():
                    m[f"{layer}.{k}"] += v
    sanity = {}
    for i, s in enumerate(spans):
        if s["op"] not in per_op:
            continue
        own = _subtract([(s["t0"], s["t1"])],
                        [(spans[c]["t0"], spans[c]["t1"]) for c in children[i]])
        m = per_op[s["op"]]
        m[f"{s['layer']}.wall_s"] += _length(own)
        m[f"{s['layer']}.driver_s"] += _length(_subtract(own, job_ivals))
    for op, m in per_op.items():
        attributed = sum(m[f"{layer}.wall_s"] for layer in LAYERS)
        m["trace.unattributed_s"] = op_times[op] - attributed
        sanity[op] = {"op_s": op_times[op], "layers_s": attributed}
        _ratios(m, lambda name, op=op: tracer.counts[(op, name)],
                tracer.batch_ms.get(op, []))
    return per_op, sanity


def _ratios(m: dict, c, batch_ms: list) -> None:
    def ratio(a, b):
        return a / b if b else 0.0

    for layer in LAYERS:
        m[f"{layer}.rows_out"] = c(f"{layer}.rows")
    mentions = c("mentions.rows")
    m["mentions.per_turn"] = ratio(mentions, c("turns"))
    m["candidates.per_mention"] = ratio(c("candidates.rows"), mentions)
    m["linking.q0_ratio"] = ratio(c("q0"), mentions)
    m["enrich.accept_ratio"] = ratio(c("accepted"), c("enrich.rows"))
    m["enrich.en_fallback_ratio"] = ratio(c("en_fallback"), c("enrich.rows"))
    m["enrich.sentinel_ratio"] = ratio(c("sentinel"), c("enrich.rows"))
    m["classify.fallback_ratio"] = ratio(c("fallback"), c("classify.rows"))
    m["triples.per_mention"] = ratio(c("triples.rows"), c("classify.rows"))
    m["checkpoints.recompute_ratio"] = ratio(c("recomputed"), c("new_rows"))
    m["checkpoints.write_amp"] = ratio(c("written_bytes"), c("new_bytes"))
    m["checkpoints.rows_out"] = c("new_rows")
    m["streaming.batches"] = len(batch_ms)
    m["streaming.batch_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
