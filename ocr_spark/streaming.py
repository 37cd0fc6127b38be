"""Structured Streaming over a transcripts directory: stateful metrics.

SURVEY §2.10/§2.11: the reference is strictly batch, and the north rule's
resumability is batch-incremental: extraction output is committed only by
the checkpointed job (ocr_spark/checkpoint.py), the one sink with lineage.
This module streams the same transcripts table (`stream_source`) into
metrics beside it, with ``Trigger.AvailableNow`` draining whatever has
landed and exactly-once file tracking in the stream checkpoint (the
engine-level version of the reference's memoized skip-seen-keys loop,
``Ingredients_OCR.py:222-224``).

`conversation_progress` keeps per-conversation counters in
``applyInPandasWithState`` state; `turn_rate_metrics` is a watermarked
sliding-window throughput aggregation over event time `ts` (late turns
beyond the watermark are dropped from the metric).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.pipeline import TRANSCRIPT_SCHEMA


# input files per micro-batch
MAX_FILES_PER_TRIGGER = 64


def stream_source(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming scan of a transcripts parquet directory.  The checkpoint
    remembers processed files, so re-runs only ingest new arrivals."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", MAX_FILES_PER_TRIGGER)
        .parquet(input_dir)
    )


CONV_PROGRESS_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turns_seen", IntegerType()),
        StructField("max_turn_idx", IntegerType()),
        StructField("tool_turns", IntegerType()),
    ]
)

_STATE_SCHEMA = "turns INT, max_idx INT, tools INT"


def _conv_progress_fn(key, pdf_iter, state):
    """applyInPandasWithState kernel: running per-conversation counters.

    State = (turns_seen, max_turn_idx, tool_turns), updated per micro-batch
    and emitted after each update — the streaming form of the lineage
    counters (per-key instead of per-partition).  Stateful custom-operator
    surface per SURVEY §2.11; bounded state (3 ints per conversation).
    """
    turns, max_idx, tools = state.get if state.exists else (0, -1, 0)
    for pdf in pdf_iter:
        if len(pdf) == 0:
            # With a state timeout configured, groups can fire with no data;
            # int(pdf["turn_idx"].max()) would then be int(nan) -> ValueError.
            continue
        turns += len(pdf)
        max_idx = max(max_idx, int(pdf["turn_idx"].max()))
        tools += int((pdf["role"] == "tool").sum())
    state.update((turns, max_idx, tools))
    import pandas as pd

    yield pd.DataFrame(
        {
            "conv_id": [key[0]],
            "turns_seen": [turns],
            "max_turn_idx": [max_idx],
            "tool_turns": [tools],
        }
    )


def conversation_progress(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """Stateful streaming aggregation over conversations via
    ``applyInPandasWithState`` (custom stateful operator; per-key state
    persists in the stream checkpoint across restarts, so counters
    continue — not restart — when new files arrive).  Updates land in
    ``output_dir`` via foreachBatch append (the memory sink cannot recover
    from a checkpoint); the latest row per conv_id is the current state."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    src = stream_source(spark, input_dir)
    out = (
        src.groupBy("conv_id")
        .applyInPandasWithState(
            _conv_progress_fn,
            outputStructType=CONV_PROGRESS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def _append(batch_df, epoch_id):
        batch_df.withColumn("epoch", F.lit(epoch_id)).write.mode("append").parquet(
            output_dir
        )

    return (
        out.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def turn_rate_metrics(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
):
    """Stateful streaming metric: turns ingested per event-time window,
    with a watermark bounding state for late data.  foreachBatch parquet
    sink (the memory sink cannot recover from a checkpoint, so it would
    break the second invocation of the resume pattern this module uses
    everywhere else)."""
    src = stream_source(spark, input_dir)
    agg = (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide), F.col("role"))
        .agg(F.count(F.lit(1)).alias("turns"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "role",
            "turns",
        )
    )

    def _append(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(output_dir)

    return (
        agg.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
