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

Layout of a run_pipeline checkpoint_dir (every entry is a stage
directory with a manifest that carries `rows`):

  <checkpoint_dir>/mentions/    append-only segments, key-resumed on
                                conv_id
  <checkpoint_dir>/linked/      append-only segments, consuming mentions
  <checkpoint_dir>/enriched/    append-only segments, consuming linked
  <checkpoint_dir>/{title_map,kb_context,surfaces_df,summaries_dim}/
                                the KB dims (DIMS) of a file-backed KB:
                                one segment each, whose manifests also
                                record `kb` (kb_fingerprint) and
                                `surfaces_broadcastable`

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
Every stage commit appends, so a DataFrame read from the live segments
before a commit stays readable after it. Only the KB dims are replaced
(commit_dims): dims built from other KB files are never appended to. A
crash before the swap leaves an orphan v-dir that the next commit
garbage-collects; a dims commit that dies between its four manifest
swaps leaves fingerprints that disagree, so the next run rebuilds.
Row counts come from an Observation on the write job; the per-file
lineage metrics from the parquet footers. A key-resumed commit runs one
more query, the executors' write of its keys (a scan of the key column
and a distinct). A stage commit that observed zero rows, zero keys and
consumed nothing writes no segment and leaves the manifest untouched.

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


def _write_segment(df: DataFrame, path: str,
                   keys: DataFrame | None = None) -> dict:
    """Write df ONCE to the stage's next segment dir (and `keys` next to
    it); returns the segment entry, not yet listed in any manifest."""
    os.makedirs(path, exist_ok=True)
    prev = _read_manifest(path)
    name = f"v{(prev['version'] + 1) if prev else 1:06d}"
    data_dir = os.path.join(path, name)

    obs = Observation()
    fmt = write_table(df.observe(obs, F.count(F.lit(1)).alias("rows")),
                      data_dir)
    n_keys = 0
    if keys is not None:
        kobs = Observation()
        keys.observe(kobs, F.count(F.lit(1)).alias("n")).write.parquet(
            os.path.join(data_dir, KEYS_DIR))
        n_keys = kobs.get["n"]
    return {"dir": name, "rows": obs.get["rows"], "bytes": _dir_bytes(data_dir),
            "format": fmt, "keys": n_keys, "files": _footer_metrics(data_dir)}


def _swap_manifest(path: str, stage: str, schema: StructType,
                   segments: list, **meta) -> dict:
    """Atomically make `segments` the stage's live segments, then GC
    every other segment dir. Returns the manifest."""
    prev = _read_manifest(path)
    version = (prev["version"] + 1) if prev else 1
    manifest = {
        "stage": stage,
        "version": version,
        "rows": sum(s["rows"] for s in segments),
        "data_dir": os.path.abspath(os.path.join(path, f"v{version:06d}")),
        "committed_at": time.time(),
        "schema": schema.json(),
        "parent_version": prev["version"] if prev else None,
        "segments": segments,
        **meta,
    }
    tmp = _manifest_path(path) + ".tmp"
    with open(tmp, "w", encoding="utf8") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, _manifest_path(path))  # atomic swap

    # GC orphaned segment dirs (crashed writes); live segments stay
    keep = {s["dir"] for s in segments}
    for entry in os.listdir(path):
        if entry.startswith("v") and entry not in keep:
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
    return manifest


def commit_stage(df: DataFrame, path: str, stage: str, *,
                 consumed: list | None = None,
                 keys: DataFrame | None = None) -> dict:
    """Write df ONCE to a fresh segment dir, append it to the stage's
    live segments and atomically swap the manifest. Returns the
    manifest.

    `consumed` names the upstream segments df was computed from; `keys`
    is the frame of keys df was computed for, written by the executors
    next to the segment (resume_stage's anti-join side). A commit with
    zero rows, zero keys and nothing consumed writes no segment."""
    seg = _write_segment(df, path, keys)
    prev = _read_manifest(path)
    if not (seg["rows"] or seg["keys"] or consumed):
        shutil.rmtree(os.path.join(path, seg["dir"]), ignore_errors=True)
        if prev is not None:
            return prev
        segments = []  # first commit of an empty stage: schema only
    else:
        segments = (prev["segments"] if prev else []) + [
            {**seg, "consumed": consumed or []}]
    return _swap_manifest(path, stage, df.schema, segments)


# The KB dims run_pipeline commits under its checkpoint_dir, one stage
# directory each (run_pipeline's dims dict keys).
DIMS = ("title_map", "kb_context", "surfaces_df", "summaries_dim")


def kb_fingerprint(frames: list) -> list | None:
    """What KB dims built from `frames` depend on: per frame, its file
    format, schema and input files with their size and modification
    time — the listing the read already made on the driver, no Spark
    job. None when a frame is not a bare file read (in-memory, filtered,
    joined, ...): no listing tells its rows apart."""
    out = []
    for df in frames:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRelation":
            return None
        rel = plan.relation()
        if rel.getClass().getSimpleName() != "HadoopFsRelation":
            return None
        files = rel.location().allFiles()
        out.append({
            "format": rel.fileFormat().toString(),
            "schema": df.schema.json(),
            "files": sorted(
                [f.getPath().toString(), f.getLen(), f.getModificationTime()]
                for f in (files.apply(i) for i in range(files.size()))),
        })
    return out


def load_dims(spark: SparkSession, checkpoint_dir: str,
              fingerprint: list) -> dict | None:
    """The committed KB dims (lazy reads, no Spark job) with the
    decisions their manifests record, or None unless every dim's
    manifest records `fingerprint`: a first run, a changed KB file and a
    dims commit that died before its last manifest all rebuild."""
    paths = {name: os.path.join(checkpoint_dir, name) for name in DIMS}
    manifests = {name: _read_manifest(path) for name, path in paths.items()}
    if any(m is None or m.get("kb") != fingerprint
           for m in manifests.values()):
        return None
    dims = {name: _read_segments(spark, paths[name], m, m["segments"])
            for name, m in manifests.items()}
    meta = manifests["surfaces_df"]
    return {**dims, "surfaces_broadcastable": meta["surfaces_broadcastable"]}


def write_dim(df: DataFrame, checkpoint_dir: str, name: str) -> tuple:
    """Write one KB dim as a new segment of its stage directory; no
    manifest lists it until commit_dims. Returns (schema, segment)."""
    return df.schema, _write_segment(df, os.path.join(checkpoint_dir, name))


def commit_dims(spark: SparkSession, checkpoint_dir: str, written: dict,
                **meta) -> dict:
    """Swap each dim's manifest to list only its new segment (`written`
    maps dim name → write_dim's result), recording `meta` (the KB
    fingerprint and the decisions derived from the dims). A dim built
    from another KB is replaced, never appended to; its old segment is
    garbage-collected. Returns the dims read back."""
    dims = {}
    for name, (schema, seg) in written.items():
        path = os.path.join(checkpoint_dir, name)
        manifest = _swap_manifest(path, name, schema, [seg], **meta)
        dims[name] = _read_segments(spark, path, manifest, [seg])
    return dims


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
                         consumed=[s["dir"] for s in todo])
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
    commit_stage(compute(pending), checkpoint_path, stage,
                 keys=pending.select(key).distinct())
    return load_stage(spark, checkpoint_path)
