"""Durable stage tables as append-only segments with manifest lineage
(SURVEY.md §2.4 J9, §2.1 S10; reference resume semantics at
run_genre.py:201-214 and get_wikidata.py:303-321).

A resumable stage never rewrites what it committed. Each commit writes
only its fresh rows, once, into a new segment directory; the stage's
manifest lists the live segments. A rerun therefore pays for the delta
only — the reference's "skip rows whose field is already filled".

Layout of one stage directory:

  <path>/v<N>/                  one segment: the rows ONE commit added
  <path>/v<N>/_keys/            (key-resumed stages) the keys that commit
                                processed, including keys that produced
                                no rows; written by the executors,
                                hidden from the data scan
  <path>/_kgpipe_manifest.json  {stage, version, rows (stage total),
                                data_dir (absolute path this commit
                                wrote), schema, segments: [{dir, rows,
                                bytes, format, keys (count), consumed,
                                files}]}

Segments are named relative to the stage directory, so a moved or
copied checkpoint directory reads its own segments; a listed segment
that is missing raises instead of silently recomputing.

Two ways to find the pending work (`resume_stage`):
- against a key: the work frame is anti-joined ONCE with the committed
  keys (the union of the segments' `_keys`) — broadcast while the
  manifests count at most BROADCAST_MAX_KEYS of them, a shuffled
  anti-join above that, so a larger key set never passes through the
  driver;
- against an upstream stage: pending = the upstream segments this stage
  has not yet consumed, read from the two manifests — zero Spark jobs.
  Each segment records the upstream segments it `consumed`, so a run
  killed between two stage commits resumes exactly: the next run finds
  the upstream segment unconsumed and picks it up. A commit that
  consumed something always writes its segment, even with zero rows
  (e.g. every pending mention lost all its candidates): the lineage is
  what carries those upstream rows to the next stage.

Commit protocol (crash-atomic): the segment (and its keys) is written
first, then the manifest is swapped with os.replace (atomic on POSIX).
A crash before the swap leaves an orphan v-dir that the next commit
garbage-collects. Row counts come from an Observation on the write
job; the per-file lineage metrics from the parquet footers. A key-
resumed commit runs one more query, the executors' write of its keys
(a scan of the key column and a distinct). A commit that observed zero rows, zero
keys and consumed nothing writes no segment and leaves the manifest
untouched.

Segments are never compacted: a stage resumed N times reads N segment
directories. Compaction (rewrite the live segments into one, carrying
their keys and lineage) is out of scope here.

Iceberg note: set KGPIPE_TABLE_FORMAT=iceberg (kgpipe.io) to route the
segment writes through `format("iceberg")` when the runtime jar is
present; the format used is recorded per segment (SURVEY.md §7.5.3).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kgpipe.io import read_table, write_table

KEYS_DIR = "_keys"

# committed-key count above which the resume anti-join is shuffled
# instead of broadcast (the broadcast is built on the driver); the
# same bound as the tagger's surface-dim broadcast
BROADCAST_MAX_KEYS = 2_000_000


def _manifest_path(path: str) -> str:
    return os.path.join(path, "_kgpipe_manifest.json")


def _read_manifest(path: str) -> dict | None:
    try:
        with open(_manifest_path(path), "r", encoding="utf8") as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    if "segments" not in manifest:
        raise ValueError(
            f"checkpoint stage {path!r} predates segment manifests (one "
            "rewritten table per commit); remove it to recompute the stage.")
    return manifest


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _footer_metrics(data_dir: str) -> list:
    """Per-file rows from parquet footers — driver-side metadata reads,
    no Spark job. Each output file is one write task, so per-file counts
    are the per-partition lineage metric."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover
        return []
    return [{"file": name,
             "rows": pq.ParquetFile(os.path.join(data_dir, name)).metadata.num_rows}
            for name in sorted(os.listdir(data_dir))
            if name.endswith(".parquet") and not name.startswith((".", "_"))]


def _segment_dir(path: str, seg: dict) -> str:
    d = os.path.join(path, seg["dir"])
    if not os.path.isdir(d):
        raise FileNotFoundError(
            f"checkpoint stage {path!r}: its manifest lists segment "
            f"{seg['dir']!r}, which does not exist. The stage directory "
            "was copied or moved without all of its v* segments, or one "
            "was deleted; restore it or remove the stage directory to "
            "recompute the stage.")
    return d


def _read_segments(spark: SparkSession, path: str, manifest: dict,
                   segments: list) -> DataFrame:
    """The rows of `segments`, read with the manifest's schema (no
    inference job). Every listed segment must exist."""
    schema = StructType.fromJson(json.loads(manifest["schema"]))
    dirs = [_segment_dir(path, s) for s in segments]
    if not dirs:
        return spark.createDataFrame([], schema)
    if all(s["format"] == "parquet" for s in segments):
        return spark.read.schema(schema).parquet(*dirs)
    return reduce(DataFrame.unionByName, (read_table(spark, d) for d in dirs))


def commit_stage(df: DataFrame, path: str, stage: str, *,
                 append: bool = False, consumed: list | None = None,
                 keys: DataFrame | None = None) -> dict:
    """Write df ONCE to a fresh segment dir, then atomically swap the
    manifest. Returns the manifest.

    append=False (default) replaces the stage: the new segment is the
    only live one. append=True adds it to the live segments. `consumed`
    names the upstream segments df was computed from; `keys` is the
    frame of keys df was computed for, written by the executors next to
    the segment (resume_stage's anti-join side). With append=True, a
    commit with zero rows, zero keys and nothing consumed writes no
    segment."""
    os.makedirs(path, exist_ok=True)
    prev = _read_manifest(path)
    version = (prev["version"] + 1) if prev else 1
    name = f"v{version:06d}"
    data_dir = os.path.join(path, name)

    obs = Observation()
    fmt = write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")),
                      data_dir)
    rows = obs.get["rows"]
    n_keys = 0
    if keys is not None:
        kobs = Observation()
        keys.observe(kobs, F.count(F.lit(1)).alias("n")).write.parquet(
            os.path.join(data_dir, KEYS_DIR))
        n_keys = kobs.get["n"]

    if append and not (rows or n_keys or consumed):
        shutil.rmtree(data_dir, ignore_errors=True)
        if prev is not None:
            return prev
        segments = []  # first commit of an empty stage: schema only
    else:
        seg = {"dir": name, "rows": rows, "bytes": _dir_bytes(data_dir),
               "format": fmt, "keys": n_keys,
               "consumed": consumed or [], "files": _footer_metrics(data_dir)}
        segments = (prev["segments"] if append and prev else []) + [seg]

    manifest = {
        "stage": stage,
        "version": version,
        "rows": sum(s["rows"] for s in segments),
        "data_dir": os.path.abspath(data_dir),
        "committed_at": time.time(),
        "schema": df.schema.json(),
        "parent_version": prev["version"] if prev else None,
        "segments": segments,
    }
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w", encoding="utf8") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(path))  # atomic swap

    # GC orphaned segment dirs (crashed writes, replaced versions). The
    # PARENT's segments are retained: a DataFrame obtained from
    # load_stage before this commit still reads its files lazily, so
    # deleting a just-replaced segment would fail that reader at its
    # next action. Replaced segments go one commit later.
    keep = {s["dir"] for s in segments + (prev["segments"] if prev else [])}
    for entry in os.listdir(path):
        if entry.startswith("v") and entry not in keep:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
    return manifest


def load_stage(spark: SparkSession, path: str) -> DataFrame | None:
    """All live rows of a committed stage (None if never committed).
    Raises FileNotFoundError if a listed segment is missing."""
    manifest = _read_manifest(path)
    if manifest is None:
        return None
    return _read_segments(spark, path, manifest, manifest["segments"])


def pending_segments(path: str, upstream: str) -> list:
    """The upstream stage's segments that stage `path` has not consumed
    — from the two manifests alone, no Spark job. A segment counts if
    it has rows or consumed upstream rows: a zero-row segment that
    consumed something still carries those rows' lineage downstream."""
    up = _read_manifest(upstream)
    done = _read_manifest(path)
    seen = {c for s in (done["segments"] if done else [])
            for c in s["consumed"]}
    return [s for s in (up["segments"] if up else [])
            if (s["rows"] or s["consumed"]) and s["dir"] not in seen]


def lineage_rows(spark: SparkSession, path: str, upstream: str,
                 source: str) -> DataFrame:
    """Rows of stage `source` that the pending upstream segments of
    stage `path` were computed from: for the upstream segments `path`
    has not consumed, the `source` segments each of them consumed."""
    names = {c for s in pending_segments(path, upstream) for c in s["consumed"]}
    manifest = _read_manifest(source)
    return _read_segments(spark, source, manifest,
                          [s for s in manifest["segments"] if s["dir"] in names])


def resume_stage(
    work: DataFrame | str,
    checkpoint_path: str,
    stage: str,
    compute,
    key: str | None,
) -> DataFrame:
    """Idempotent stage execution: commit compute(pending) as a new
    segment and return all live rows (done ∪ the new segment, read with
    the manifest's schema).

    `work` is either
    - a DataFrame: pending = work anti-joined on `key` with the
      committed keys. The distinct keys of pending are recorded with
      the segment, so a key whose work produced no rows is not
      recomputed either; or
    - an upstream stage path (`key` unused): pending = the rows of its
      segments this stage has not consumed (pending_segments). Nothing
      pending → no compute, no commit, no Spark job."""
    done = _read_manifest(checkpoint_path)
    if isinstance(work, str):
        spark = SparkSession.getActiveSession()
        todo = pending_segments(checkpoint_path, work)
        if done is None or todo:
            pending = _read_segments(spark, work, _read_manifest(work), todo)
            commit_stage(compute(pending), checkpoint_path, stage,
                         append=True, consumed=[s["dir"] for s in todo])
        return load_stage(spark, checkpoint_path)

    spark = work.sparkSession
    segs = [s for s in (done["segments"] if done else []) if s["keys"]]
    pending = work
    if segs:
        committed = spark.read.schema(StructType([work.schema[key]])).parquet(
            *(os.path.join(_segment_dir(checkpoint_path, s), KEYS_DIR)
              for s in segs))
        if sum(s["keys"] for s in segs) <= BROADCAST_MAX_KEYS:
            committed = F.broadcast(committed)
        pending = work.join(committed, key, "left_anti")
    commit_stage(compute(pending), checkpoint_path, stage, append=True,
                 keys=pending.select(key).distinct())
    return load_stage(spark, checkpoint_path)
