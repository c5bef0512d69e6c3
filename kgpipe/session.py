"""SparkSession factory with scale-oriented defaults.

Single place that sets AQE, Arrow, shuffle sizing — every entry point
(tests, bench, driver contract) builds its session here so the physical
plans measured in BENCH are the plans shipped.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults target the sandbox (local[N]) but every knob is the one
    you would set on a 1000-executor cluster too:

    - AQE on: runtime coalescing of shuffle partitions + skew-join
      splitting (head entities in the QID aggregations are Zipfian —
      see SURVEY.md §4 skew row).
    - Arrow on: all pandas UDFs move data in columnar batches.
    - shuffle partitions default to 2x cores locally; on a real
      cluster this is overridden by AQE's coalescing anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or os.environ.get("KGPIPE_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 8
        except ValueError:
            n = int(cpus)
        shuffle_partitions = max(8, 2 * n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default minPartitionSize (1m) coalesces small-SF shuffles below
        # the core count (measured: 20 tasks on 32 cores for the hottest
        # stage). 256k keeps post-AQE parallelism ≥ cores at bench scale;
        # at production scale partitions are ≫ this floor either way.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("KGPIPE_DRIVER_MEM", "8g"))
        # Let HotSpot JIT large generated methods: the unrolled
        # fixed-dim dot/norm chains (similarity.dot_expr) codegen into
        # one >8 KB-bytecode method, which HotSpot's default
        # DontCompileHugeMethods leaves to the bytecode INTERPRETER —
        # measured 47 µs/dot vs ~0.1 µs JIT-compiled (r7 microbench).
        # Standard JVM tuning for wide-schema/wide-expression codegen;
        # on a cluster the same flag goes in executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions",
                "-XX:-DontCompileHugeMethods")
        # default 100 evicts mid-workload: a full bench pass generates
        # a few hundred codegen classes, so the LRU would drop (and
        # HotSpot would re-JIT) the expensive pair-verify methods on
        # every pass. 2000 keeps every live class warm; generated-class
        # retention is a few MB against the 8g driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
