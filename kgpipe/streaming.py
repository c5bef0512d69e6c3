"""Structured-streaming ingestion (SURVEY.md §2.10 — stretch beyond the
batch-only reference): stream transcript turns, deduplicate within a
watermark, run incremental mention detection per micro-batch, and keep
windowed arrival metrics. The reference's chunk-boundary cache
checkpointing (get_wikidata.py:422-428) maps to foreachBatch writes made
idempotent per batch_id (at-least-once delivery + idempotent effects =
exactly-once results); its filled-field skip (run_genre.py:201-214) maps
to processing only the new rows each micro-batch delivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from kgpipe import schemas


def read_transcript_stream(spark: SparkSession, path: str,
                           fmt: str = "parquet",
                           watermark: str = "10 minutes") -> DataFrame:
    """File-source stream of transcript turns with late-data handling:
    watermark on ts + dropDuplicatesWithinWatermark on the ordering key
    (FIXTURES.md edge case 10, streamed)."""
    stream = (
        spark.readStream.format(fmt)
        .schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 8)
        .load(path)
    )
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )


def turn_rate_metrics(turns: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Event-time windowed arrival metrics (turns + mention-bearing
    turns per window/role)."""
    return (
        turns.groupBy(F.window("ts", window), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )


def incremental_mentions(turns: DataFrame, surfaces, checkpoint_dir: str,
                         out_path: str):
    """Micro-batch incremental mention detection with the batch
    pipeline's tagger: each micro-batch's rows equal
    detect_mentions_join on the same deduplicated turns.

    `surfaces`: a list of surface strings, or a DataFrame with a
    `surface` column (keeps a KB-sized set off the driver). The surface
    dim is built and localCheckpointed once per query; an Observation
    on that job counts its distinct surfaces for the broadcast decision
    (BROADCAST_MAX_SURFACES), so there is no probe job and no batch
    re-derives the dim.

    Each micro-batch is tokenized and materialized once, like the
    pipeline's turns cut (the batch frame carries the dedup state and
    the tagger reads its turns twice); an Observation on that job counts
    its rows, and a batch with none (e.g. the final no-data batch)
    writes nothing. foreachBatch is at-least-once, so each non-empty
    batch overwrites its own `batch_id=N` directory: a retried batch
    replaces its partial write (exactly-once effects). Readers see
    batch_id as a partition column of out_path. Returns the
    StreamingQuery (caller awaits/stops)."""
    import os

    from kgpipe.mentions import (
        BROADCAST_MAX_SURFACES, surface_dim, tag_with_dim, tokenize,
    )

    if not isinstance(surfaces, DataFrame):
        surfaces = turns.sparkSession.createDataFrame(
            [(s,) for s in surfaces], "surface string")
    dim_obs = Observation()
    dim = (surface_dim(surfaces)
           .observe(dim_obs, F.count(F.lit(1)).alias("n"))
           .localCheckpoint(eager=True))
    if dim_obs.get["n"] <= BROADCAST_MAX_SURFACES:
        dim = F.broadcast(dim)

    def process(batch_df: DataFrame, batch_id: int):
        obs = Observation()
        batch_turns = (
            tokenize(batch_df).select("conv_id", "turn_idx", "tokens")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        if not obs.get["n"]:
            return
        tag_with_dim(batch_turns, dim).write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}"))

    return (
        turns.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -------------------------------------------- custom stateful operator

CONV_STATE_SCHEMA = (
    "n_turns long, max_turn_idx int, n_tokens long"
)
CONV_PROGRESS_SCHEMA = (
    "conv_id string, n_turns long, max_turn_idx int, n_tokens long,"
    " complete boolean"
)


def conversation_progress(turns: DataFrame,
                          idle_timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation running progress across micro-batches — turns seen,
    highest turn_idx, token volume. With `idle_timeout_ms` set, an idle
    conversation emits a final `complete=true` row and its state is
    dropped (the streaming analog of the reference's per-sentence
    completion bookkeeping, run_genre.py:201-214: a conversation is
    "done" once no new turns arrive). Measured quirk, relied on by the
    tests: under `trigger(availableNow=True)` Spark runs a final
    no-data batch in which pending processing-time timeouts fire — a
    drained stream therefore finalizes every live conversation.
    Default (None) keeps state forever: progress rows only, state
    survives query restarts from the same checkpoint.

    State is one tiny fixed-width row per LIVE conversation — the shape
    that scales: state size is O(open conversations), not O(turns), and
    Spark partitions it by conv_id with the state store handling
    persistence/recovery. Arrow-batched like every other UDF in this
    engine."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        (conv_id,) = key
        if idle_timeout_ms is not None and state.hasTimedOut:
            n_turns, max_idx, n_tokens = state.get
            state.remove()
            yield pd.DataFrame({
                "conv_id": [conv_id], "n_turns": [n_turns],
                "max_turn_idx": [max_idx], "n_tokens": [n_tokens],
                "complete": [True],
            })
            return
        n_turns, max_idx, n_tokens = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
            n_tokens += int(pdf["text"].str.split().str.len().sum())
        state.update((n_turns, max_idx, n_tokens))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "conv_id": [conv_id], "n_turns": [n_turns],
            "max_turn_idx": [max_idx], "n_tokens": [n_tokens],
            "complete": [False],
        })

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None
               else GroupStateTimeout.NoTimeout)
    return turns.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_PROGRESS_SCHEMA,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
