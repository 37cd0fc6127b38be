"""The Spark extraction pipeline: Arrow-batched kernel + scale harness.

Replaces the reference's sequential per-file loop
(``NFT_OCR.py:1574-1579`` ``for infile in Path(indir).glob(...)``) with:

    read -> select (column prune before Arrow transfer)
         -> repartition on (conv_id, turn_idx) -> mapInPandas
         [-> reassemble: global (conv_id, turn_idx) window]

Design notes (100 TB posture):
- the kernel is per-turn pure, so extraction itself needs NO grouping.
  The one shuffle before it is skew insurance: hashing the row key
  ``(conv_id, turn_idx)`` salts each conversation by its turn index, so a
  10^5-turn conversation spreads over every kernel task instead of
  pinning one.  A file scan does not give that for free: a split bounds
  bytes, not turns, so a long conversation written contiguously sits in
  one split (SCALE.md §2).
- **reassembly** (``reassemble``): a global (conv_id, turn_idx) window
  for full-fidelity artifacts, applied by the caller that reads
  ``turn_rank``/``conv_turns``; the checkpointed job writes the raw kernel
  output partitioned by bucket and applies it in ``result()``.
- only (conv_id, turn_idx, role, text, tool) cross the JVM->Python Arrow
  boundary; ts and any extra columns are joined back by key only if needed.
- one output schema (``OUTPUT_SCHEMA``); the checkpointed job commits it
  plus a ``bucket`` column.  It carries no inline ``spans_json``: the span relation
  is a pure function of ``extracted_text`` (canonical separators),
  derived losslessly JVM-side by
  ``ocr_spark.operators.transcripts.derive_spans`` instead of paying ~45%
  of the output bytes through the Arrow hop and the sink (SCALE.md §7).
- the whole cleanup chain is ONE mapInPandas stage: each extra UDF hop would
  pay Arrow serialization twice (SURVEY §4 "pipelining").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.kernel.extract import (
    STATUS_EMPTY,
    STATUS_OK,
    STATUS_REJECTED,
    extract_batch,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("extracted_text", StringType()),
        StructField("fields_json", StringType()),
        StructField("n_blocks", LongType()),
        StructField("n_lines", LongType()),
        StructField("n_tokens", LongType()),
        StructField("n_fields", LongType()),
        StructField("status", StringType()),
    ]
)

# the transcripts table (the synthetic corpus declares it); the kernel
# reads its first five columns
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)

INPUT_COLUMNS = TRANSCRIPT_SCHEMA.names[:5]


def _extract_map(batches):
    for pdf in batches:
        yield extract_batch(pdf, with_spans=False)


def extract_transcripts(df: DataFrame) -> DataFrame:
    """Run the extraction kernel over a transcripts DataFrame; returns the
    kernel output (``OUTPUT_SCHEMA``) in no particular order.

    Input contract: the five ``INPUT_COLUMNS`` are read with ``try_cast``
    to their ``TRANSCRIPT_SCHEMA`` types (a no-op the optimizer removes for
    input that already has them).  A value that does not fit, such as a
    ``bigint`` ``turn_idx`` above 2^31, becomes null, so a key that does
    not fit gets status ``null_key`` and lineage counts it as failed.  A
    missing column, or one of a type that cannot be cast, fails analysis
    and the error names it.

    The kernel stage is fed by one hash repartition on the row key
    ``(conv_id, turn_idx)`` into one task per core (the session's
    ``defaultParallelism``): every conversation spreads over every kernel
    task, deterministically on task retry, and more, smaller tasks than
    cores would only add per-task overhead (SCALE.md §6).
    ``spark.sql.shuffle.partitions`` is not read here.

    The output has no ``spans_json`` column; derive the span relation from
    ``extracted_text`` with ``transcripts.derive_spans``.  Wrap it in
    :func:`reassemble` for the stable per-conversation turn order.
    """
    n_tasks = df.sparkSession.sparkContext.defaultParallelism
    typed = (F.col(c).try_cast(TRANSCRIPT_SCHEMA[c].dataType).alias(c) for c in INPUT_COLUMNS)
    return (
        df.select(*typed)
        .repartition(n_tasks, "conv_id", "turn_idx")
        .mapInPandas(_extract_map, OUTPUT_SCHEMA)
    )


def reassemble(extracted: DataFrame) -> DataFrame:
    """Stable-order reassembly: ``turn_rank`` (dense 1..n in ``turn_idx``
    order) and ``conv_turns`` per ``conv_id`` — one hash exchange on
    conv_id; for full-fidelity artifacts, never inside the checkpointed
    job."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wc = Window.partitionBy("conv_id")
    return extracted.withColumn("turn_rank", F.row_number().over(w)).withColumn(
        "conv_turns", F.count(F.lit(1)).over(wc)
    )


# the three outcomes of a turn the kernel read; lineage counts each in
# its own ``<status>_count`` column
_READ_STATUSES = (STATUS_OK, STATUS_EMPTY, STATUS_REJECTED)


def _failed() -> Column:
    """A failed turn: any status but ``_READ_STATUSES`` —
    ``tool_parse_error`` and ``null_key`` today.  Lineage ``failed_count``
    and ``failure_spans`` count the same turns."""
    return ~F.col("status").isin(*_READ_STATUSES)


def metrics_columns() -> list[Column]:
    """The lineage/metrics aggregates (flags model of
    ``NFT_OCR.py:1470-1478`` generalized per north_rule): conv_id/turn
    ranges + status counters + token/field totals.  The one definition
    behind both ``metrics_agg`` and the checkpoint lineage, which observes
    these same columns on its data write (ocr_spark/checkpoint.py), so the
    two can never drift apart."""
    return [
        F.min("conv_id").alias("conv_id_min"),
        F.max("conv_id").alias("conv_id_max"),
        F.min("turn_idx").alias("turn_idx_min"),
        F.max("turn_idx").alias("turn_idx_max"),
        F.count(F.lit(1)).alias("turn_count"),
        *(
            F.sum(F.when(F.col("status") == s, 1).otherwise(0)).alias(f"{s}_count")
            for s in _READ_STATUSES
        ),
        F.sum(F.when(_failed(), 1).otherwise(0)).alias("failed_count"),
        F.sum("n_tokens").alias("token_count"),
        F.sum("n_fields").alias("field_count"),
    ]


def metrics_agg(extracted: DataFrame, *group_cols: str) -> DataFrame:
    """``metrics_columns`` per ``group_cols``, or one row over the whole
    frame (even an empty one) with none."""
    return extracted.groupBy(*group_cols).agg(*metrics_columns())


def failure_spans(extracted: DataFrame) -> DataFrame:
    """Long-form failure rows (conv_id, turn_idx, reason) — the
    ``failure_spans`` component of the lineage table (FIXTURES.md §4)."""
    return extracted.filter(_failed()).select(
        "conv_id", "turn_idx", F.col("status").alias("reason")
    )
