"""KG-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload kg_resume --seed 1 --seconds 10 --trace 0

Run from the repository root. The command starts a local[nproc] Spark
session, generates the workload's inputs from --seed into parquet,
computes the oracle, then runs pipeline ops one after another (one
closed-loop client): a cold first op, then warm ops for --seconds.
Every op's output is checked against the oracle.

--trace 0 prints the end-to-end metrics; --trace 1 runs traced and
untraced ops alternately in a session with the Spark event log on and
prints the per-layer metrics. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; the line before it
holds the samples, input sizes and host load behind the figures.
Exit code 0 only if every op matched its oracle.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# (metric, unit) printed with --trace 0
END_TO_END = (("setup_s", "s"), ("cold_run_s", "s"), ("run_s", "s"),
              ("turns_per_s", "1/s"), ("out_rows", "count"),
              ("peak_rss_mb", "MB"))
# Seeded input generation, with the oracle where it needs no Spark
# job, runs this many times per process; setup_s takes their median.
# Session start, KB tables, stream_mentions' oracle and the kg_resume
# base commit happen once (a session cannot restart in-process, and
# the others are needed once).
SETUP_REPEATS = 3
# Warm ops per run at the least, whatever --seconds allows. The first
# warm op still pays JIT compilation that lands at varying times; the
# median of two halves the run-to-run spread of kg_resume's run_s.
MIN_WARM = 2
# JVM heap cap. get_spark's 8g default lets the heap grow as far as GC
# timing happens to allow, which makes peak_rss_mb swing by a fifth
# between runs; the workloads' working sets fit well inside 2g.
DRIVER_MEMORY = "2g"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def set_environment(work: Path) -> None:
    """Keep every file the run writes inside `work`, and let Spark's
    Python workers import kgpipe (pandas UDFs fail with
    ModuleNotFoundError otherwise)."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    paths = [str(ROOT), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
    sys.path[:0] = [str(HERE), str(ROOT)]


class RssMonitor:
    """Peak resident memory of a process tree (the Spark JVM and its
    Python workers), sampled from /proc. Each process counts its
    proportional set size (Pss): Python workers are forked from one
    daemon and share most pages, which plain RSS would count once per
    worker. Reading a 2 GB JVM's smaps_rollup costs 10-30 ms of kernel
    time under the JVM's memory-map lock, so samples are a second
    apart; the heap and the workers outlive any shorter peak."""

    PERIOD_S = 1.0

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree(self) -> list:
        children: dict = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(name))
        tree, todo = [], [self.pid]
        while todo:
            pid = todo.pop()
            tree.append(pid)
            todo.extend(children.get(pid, []))
        return tree

    def sample(self) -> None:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def tail(samples: list) -> dict:
    """Median and the highest percentile with at least ten samples
    beyond it, with the sample count."""
    out = {"n": len(samples),
           "median": statistics.median(samples) if samples else None}
    for p in (99.9, 99, 90):
        if len(samples) * (1 - p / 100) >= 10:
            out[f"p{p:g}"] = statistics.quantiles(samples, n=1000)[
                round(p * 10) - 1]
            break
    return out


class Runner:
    """One process: session, workload set-up, and the op loop."""

    def __init__(self, args, work: Path):
        from kgpipe.session import get_spark
        from workloads import WORKLOADS

        import tracing

        self.args = args
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": DRIVER_MEMORY}
        if args.trace:
            (work / "eventlog").mkdir()
            conf.update(tracing.event_log_conf(str(work / "eventlog")))
        self.spark = get_spark(f"perfbench-{args.workload}",
                               master=self.master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.time() - T_START
        self.w = WORKLOADS[args.workload](str(work), args.seed)
        self.ops: list[dict] = []
        self.tracer = tracing.Tracer(self.spark) if args.trace else None

    def setup(self) -> None:
        t0 = time.time()
        self.w.write_kb(self.spark)
        self.kb_s = time.time() - t0
        self.prepare_s = []
        for _ in range(SETUP_REPEATS):
            t0 = time.time()
            self.w.prepare(self.spark)
            self.prepare_s.append(time.time() - t0)
        t0 = time.time()
        self.w.prepare_once(self.spark)
        self.once_s = time.time() - t0
        self.setup_s = (self.session_s + self.kb_s
                        + statistics.median(self.prepare_s) + self.once_s)
        self.first_op_at_s = time.time() - T_START

    def op(self, kind: str) -> dict:
        """Run, time and check one op; kind is cold, warm or traced."""
        sink = str(self.work / f"sink{len(self.ops)}")
        self.w.before_op()
        rec = {"kind": kind, "ok": False, "rows": 0}
        t0 = time.time()
        try:
            if kind == "traced":
                rec["op"] = self.tracer.start_op()
                self.w.traced_op(self.spark, sink, self.tracer)
            else:
                self.w.op(self.spark, sink)
            rec["s"] = time.time() - t0
            rec["batch_ms"] = self.w.batch_ms()
            rec["ok"], rec["rows"] = self.w.check(sink)
        except Exception:  # an op that raises is a failed op; keep going
            rec["s"] = time.time() - t0
            traceback.print_exc()
        rec["sink"] = sink
        self.ops.append(rec)
        print(json.dumps({k: v for k, v in rec.items() if k != "sink"}),
              file=sys.stderr, flush=True)
        return rec

    def drop_sink(self, rec: dict) -> None:
        shutil.rmtree(rec["sink"], ignore_errors=True)

    def measure(self) -> dict:
        from kgpipe.hostload import cpu_jiffies, load_probe_gbps

        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle \
            .current().pid()
        probe = [load_probe_gbps()]
        steal0, total0 = cpu_jiffies()
        with RssMonitor(jvm_pid) as rss:
            self.drop_sink(self.op("cold"))
            t_window = time.time()
            if self.args.trace:
                metrics = self._traced_window(t_window)
            else:
                # warm ops while the next one (as long as the last)
                # still ends inside the window; at least MIN_WARM
                while (len(self.ops) <= MIN_WARM
                       or time.time() - t_window + self.ops[-1]["s"]
                       <= self.args.seconds):
                    self.drop_sink(self.op("warm"))
                metrics = self._end_to_end(rss)
        steal1, total1 = cpu_jiffies()
        probe.append(load_probe_gbps())
        self.host = {"nproc": self.nproc, "master": self.master,
                     "membw_probe_gbps": probe,
                     "steal_pct": 100.0 * (steal1 - steal0)
                     / max(total1 - total0, 1)}
        return metrics

    def _end_to_end(self, rss: RssMonitor) -> dict:
        cold = self.ops[0]
        warm = [r["s"] for r in self.ops[1:]]
        run_s = statistics.median(warm)
        rss.sample()
        return {
            "setup_s": self.setup_s,
            "cold_run_s": cold["s"],
            "run_s": run_s,
            "turns_per_s": self.w.turns / run_s,
            "out_rows": statistics.median(r["rows"] for r in self.ops),
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }

    def _traced_window(self, t_window: float) -> dict:
        """Untraced and traced ops alternately; each traced op's output
        must equal the untraced op's before it."""
        from workloads import same_output

        while True:
            plain = self.op("warm")
            traced = self.op("traced")
            if plain["ok"] and traced["ok"] and not same_output(
                    self.w.sink_glob(plain["sink"]),
                    self.w.sink_glob(traced["sink"]), self.w.OUT_COLS):
                traced["ok"] = False
            self.drop_sink(plain)
            self.drop_sink(traced)
            if time.time() - t_window >= self.args.seconds:
                return {}

    def per_layer(self) -> dict:
        """Per-layer medians over the traced ops. The session must have
        stopped (the event log is complete)."""
        import tracing

        traced = [r for r in self.ops if r["kind"] == "traced" and r["ok"]]
        plain = [r["s"] for r in self.ops if r["kind"] == "warm"]
        per_op, self.sanity = tracing.layer_metrics(
            self.tracer, str(self.work / "eventlog"),
            {r["op"]: r["s"] for r in traced})
        for r in traced:
            # the layers' self times and trace.unattributed_s add up to
            # the op time by construction; a negative remainder means
            # spans overlapped or ran outside the op
            if per_op[r["op"]]["trace.unattributed_s"] < 0:
                r["ok"] = False
        metrics = {}
        for name, _unit, _better in tracing.PER_LAYER:
            vals = [per_op[r["op"]].get(name, 0.0) for r in traced]
            metrics[name] = statistics.median(vals) if vals else 0.0
        if traced and plain:
            metrics["trace.overhead_s"] = (
                statistics.median(r["s"] for r in traced)
                - statistics.median(plain))
        return metrics


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit. The JVM ends when its stdin closes."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, work: Path) -> int:
    import tracing

    runner = Runner(args, work)
    try:
        runner.setup()
        metrics = runner.measure()
    finally:
        stop_session(runner.spark)
    if args.trace:
        per_layer = runner.per_layer()
        metrics = {n: per_layer[n] for n, _, _ in tracing.HEADLINE}
        units = {n: u for n, u, _ in tracing.HEADLINE}
    else:
        units = dict(END_TO_END)
    ops = runner.ops
    failed = sum(not r["ok"] for r in ops)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "inputs": runner.w.sizes,
        "setup": {"session_s": runner.session_s, "kb_s": runner.kb_s,
                  "prepare_s": runner.prepare_s, "once_s": runner.once_s,
                  "first_op_at_s": runner.first_op_at_s},
        "ops": [{k: r[k] for k in ("kind", "s", "ok", "rows")} for r in ops],
        "run_s": tail([r["s"] for r in ops if r["kind"] == "warm"]),
        "batch_ms": tail([b for r in ops if r["kind"] == "warm"
                          for b in r.get("batch_ms", [])]),
        "fail_ratio": failed / len(ops),
        "host": runner.host,
    }
    if args.trace:
        detail["trace_sanity"] = runner.sanity
        detail["per_layer"] = per_layer
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]}
                    for n, v in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    set_environment(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
