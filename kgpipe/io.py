"""Table IO with a single format switch (SURVEY.md §7.5.3).

The production design targets Iceberg tables (north_rule: "partitioned
Iceberg graph table"); the sandbox has no Iceberg runtime jar, so the
default is parquet with the same layout. One knob switches every stage
write/read in the engine:

    KGPIPE_TABLE_FORMAT=iceberg   (env var), or
    kgpipe.io.set_table_format("iceberg")

When the configured format's data source is not loadable (e.g. the
iceberg-spark-runtime jar is absent) the write falls back to parquet.
The format ACTUALLY used is recorded per table in a sidecar marker file
(`<path>/_kgpipe_format`), and read_table dispatches on that marker —
never on process-global state — so a parquet-fallback write of one
table cannot misroute reads of a different table that really was
written as iceberg. `last_fallback` remains as a test/observability
flag for the most recent write only.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_FORMAT: str | None = None  # None → env var → default "parquet"
last_fallback: str | None = None

_MARKER = "_kgpipe_format"


def table_format() -> str:
    if _FORMAT is not None:
        return _FORMAT
    return os.environ.get("KGPIPE_TABLE_FORMAT", "parquet")


def set_table_format(fmt: str | None) -> None:
    global _FORMAT
    _FORMAT = fmt


# set when the most recent _write_marker could not write (observability:
# a markerless table degrades read_table to configured-format guessing)
last_marker_skip: str | None = None


def _hadoop_path_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/" + _MARKER)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def _write_marker(path: str, fmt: str,
                  spark: SparkSession | None = None) -> None:
    """Write the per-table format marker through the Hadoop FileSystem
    API — the SAME path resolution (scheme, defaultFS) the DataFrame
    writer used, so s3a://, hdfs:// and local paths all get markers
    (a plain open() silently skips every non-local scheme). Best-effort:
    a failure is recorded in `last_marker_skip`, never raised."""
    global last_marker_skip
    spark = spark or SparkSession.getActiveSession()
    try:
        if spark is not None:
            p, fs = _hadoop_path_fs(spark, path)
            out = fs.create(p, True)
            try:
                out.write(bytearray(fmt.encode("utf8")))
            finally:
                out.close()
        else:  # no session (unit contexts): local write
            with open(os.path.join(path, _MARKER), "w", encoding="utf8") as f:
                f.write(fmt)
        last_marker_skip = None
    except Exception as e:
        last_marker_skip = f"{path}: {type(e).__name__}: {e}"


def _read_marker(path: str, spark: SparkSession | None = None) -> str | None:
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        try:
            p, fs = _hadoop_path_fs(spark, path)
            if not fs.exists(p):
                return None
            stream = fs.open(p)
            try:
                data = bytearray()
                b = stream.read()
                while b != -1 and len(data) < 64:
                    data.append(b)
                    b = stream.read()
            finally:
                stream.close()
            return bytes(data).decode("utf8").strip() or None
        except Exception:
            return None
    try:
        with open(os.path.join(path, _MARKER), "r", encoding="utf8") as f:
            return f.read().strip() or None
    except OSError:
        return None


def write_table(df: DataFrame, path: str,
                partition_by: list[str] | None = None) -> str:
    """Write df via the configured format, overwriting path; parquet
    fallback when the format's data source is unavailable in this
    runtime. Returns the format actually used and records it in the
    per-table marker."""
    global last_fallback
    fmt = table_format()
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    used = fmt
    if fmt == "parquet":
        writer.parquet(path)
        last_fallback = None
    else:
        try:
            writer.format(fmt).save(path)
            last_fallback = None
        except Exception as e:  # data source missing → parquet fallback
            if "ClassNotFound" not in str(e) and "Failed to find" not in str(e):
                raise
            last_fallback = f"{fmt}: {type(e).__name__}"
            used = "parquet"
            writer.parquet(path)
    _write_marker(path, used, spark=df.sparkSession)
    return used


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table written by write_table, dispatching on the per-table
    format marker. A marker is authoritative: it names the format the
    write actually used, so read errors are surfaced, not masked. Only
    marker-less (legacy / externally-written) dirs get the configured-
    format try with a parquet fallback."""
    marked = _read_marker(path, spark=spark)
    if marked is not None:
        if marked == "parquet":
            return spark.read.parquet(path)
        return spark.read.format(marked).load(path)
    fmt = table_format()
    if fmt == "parquet":
        return spark.read.parquet(path)
    try:
        return spark.read.format(fmt).load(path)
    except Exception:
        return spark.read.parquet(path)
