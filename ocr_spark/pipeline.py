"""The Spark extraction pipeline: Arrow-batched kernel + scale harness.

Replaces the reference's sequential per-file loop
(``NFT_OCR.py:1574-1579`` ``for infile in Path(indir).glob(...)``) with:

    read -> select (column prune before Arrow transfer)
         -> [conditional partitioning stage] -> mapInPandas
         -> [reassembly: global window | local sort | none]

Design notes (100 TB posture):
- the kernel is per-turn pure, so extraction itself needs NO grouping and
  NO shuffle.  Both wide stages that used to be unconditional are now
  conditional (round-3 verdict: the two exchanges were the measured ~2.2 s
  Spark overhead at 32 cores, SCALE.md §7):

  * **partitioning** (``salt="auto"``, the default): file-scan inputs have
    size-bounded splits (``spark.sql.files.maxPartitionBytes`` caps any
    task's bytes), so a 10^5-turn conversation cannot pin a task and the
    salted repartition is dead weight — skipped, with a narrow
    ``coalesce`` when the scan over-partitions.  The full salted shuffle
    (``repartition(hash(conv_id), pmod(hash(turn_idx), salt))``) runs
    when the input arrives with fewer partitions than the session's
    parallelism (an upstream agg, a handful of giant unsplittable inputs)
    OR when its plan contains a wide node that can correlate partition
    membership with key values (a groupBy/sort/repartition on conv_id
    co-locates whole conversations, so partition count alone proves
    nothing) — exactly the cases where skew insurance pays for its
    shuffle.
  * **reassembly** (``reassemble``): the global (conv_id, turn_idx) window
    stays for full-fidelity artifacts, but the at-scale bucketed-sink
    posture is ``"sorted"`` — ``sortWithinPartitions`` gives each output
    file (conv, turn)-sorted rows with NO exchange; rank/size columns are
    derivable at read time within a bucket.
- only (conv_id, turn_idx, role, text, tool) cross the JVM->Python Arrow
  boundary; ts and any extra columns are joined back by key only if needed.
- one output schema (``OUTPUT_SCHEMA``) for every entry point — batch,
  checkpointed and streaming.  It carries no inline ``spans_json``: the
  span relation is a pure function of ``extracted_text`` (canonical
  separators), derived losslessly JVM-side by
  ``ocr_spark.operators.transcripts.derive_spans`` instead of paying ~45%
  of the output bytes through the Arrow hop and the sink (SCALE.md §7).
- the whole cleanup chain is ONE mapInPandas stage: each extra UDF hop would
  pay Arrow serialization twice (SURVEY §4 "pipelining").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernel.extract import extract_batch

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

INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _extract_map(batches):
    for pdf in batches:
        yield extract_batch(pdf, with_spans=False)


DEFAULT_SALT = 8

# Logical-plan nodes after which partition layout can CORRELATE with key
# values (a groupBy/repartition/sort/join by conv_id co-locates whole
# conversations, so one partition can hold a 10^5-turn conversation even
# when the partition COUNT looks healthy).  A plain file scan
# (Relation/Filter/Project only) has size-bounded splits instead —
# `spark.sql.files.maxPartitionBytes` caps any task's bytes regardless of
# conversation length — which is the only case where skipping the salted
# repartition is safe.
_KEY_CORRELATED_NODES = (
    "Aggregate",
    "Join",
    "Window",
    "Sort",
    "RepartitionByExpression",
    "Deduplicate",
    "GlobalLimit",
    "LogicalRDD",  # opaque RDD-backed input: partitioning unknowable, assume the worst
)


def _partitioning_may_correlate(df: DataFrame) -> bool:
    """True when the input's optimized logical plan contains any node that
    can make partition membership a function of key values (see
    ``_KEY_CORRELATED_NODES``) — the case where partition-count heuristics
    are blind to long-conversation skew and salt="auto" must keep the
    salted repartition."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return any(node in plan for node in _KEY_CORRELATED_NODES)


def extract_transcripts(
    df: DataFrame,
    *,
    salt: int | str = "auto",
    partitions: int | None = None,
    reassemble: bool | str = True,
) -> DataFrame:
    """Run the extraction kernel over a transcripts DataFrame.

    ``salt``:
      - ``"auto"`` (default): shuffle only when it pays.  The
        partition-count heuristics apply ONLY to scan-shaped inputs
        (Relation/Filter/Project plans), where file splits are
        size-bounded and per-task work is bounded regardless of
        conversation length: at least as many partitions as the kernel
        stage's task count (``partitions``, else one per core) gets a
        narrow ``coalesce`` down to it (no exchange); >= the session's
        default parallelism passes through untouched.  An input
        whose plan contains a wide node (groupBy, join, sort, repartition
        by key, ...) keeps the salted repartition REGARDLESS of partition
        count — after a shuffle keyed on conv_id, one partition can hold
        a 10^5-turn conversation while the count looks healthy — as does
        an under-partitioned input (fewer partitions than cores).
      - int > 0: unconditional skew insurance — spread each conversation
        over ``salt`` shuffle buckets (``repartition(hash(conv_id),
        pmod(hash(turn_idx), salt))``).
      - 0: never repartition (caller vouches for the input partitioning,
        e.g. a bucketed table feeding a bucketed sink).
    ``partitions``: task count of the kernel stage whenever it is
      repartitioned or coalesced.  Default: the session's
      ``defaultParallelism``, one task per core — every kernel task and
      ``extract_batch`` call pays a fixed cost, so more, smaller tasks than
      cores only add overhead (SCALE.md §6).  ``spark.sql.shuffle.partitions``
      sizes the session's other shuffles and is not read here.
    ``reassemble``:
      - ``True``: stable-order window columns (turn_rank, conv_turns) over
        (conv_id, turn_idx) — one hash exchange; full-fidelity artifacts.
      - ``"sorted"``: ``sortWithinPartitions(conv_id, turn_idx)`` — the
        bucketed-sink posture: each output partition is (conv, turn)-sorted
        with NO exchange, no extra columns.
      - ``False``: raw kernel output order.

    The output has no ``spans_json`` column (``OUTPUT_SCHEMA``); derive
    the span relation from ``extracted_text`` with
    ``transcripts.derive_spans``.
    """
    spark = df.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism

    pruned = df.select(*INPUT_COLUMNS)
    staged = pruned
    eff_salt = salt
    if salt == "auto":
        n_in = pruned.rdd.getNumPartitions()
        if _partitioning_may_correlate(pruned):
            # shuffled/grouped/sorted upstream: partition membership can be
            # a function of conv_id, so a healthy partition COUNT proves
            # nothing about per-task work — keep the skew insurance
            eff_salt = DEFAULT_SALT
        elif n_in >= n_part:
            # over-partitioned scan (e.g. many small files): narrow merge to
            # the target task count — adjacent partitions concatenate, no
            # shuffle, and a no-op when counts already match
            staged = pruned.coalesce(n_part)
            eff_salt = 0
        elif n_in >= spark.sparkContext.defaultParallelism:
            # adequate parallelism and size-bounded splits: run in place
            eff_salt = 0
        else:
            eff_salt = DEFAULT_SALT
    if eff_salt:
        staged = pruned.repartition(
            n_part,
            F.hash(F.col("conv_id")),
            F.pmod(F.hash(F.col("turn_idx")), F.lit(eff_salt)),
        )
    extracted = staged.mapInPandas(_extract_map, OUTPUT_SCHEMA)

    if reassemble == "sorted":
        return extracted.sortWithinPartitions("conv_id", "turn_idx")
    if not reassemble:
        return extracted

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    wc = Window.partitionBy("conv_id")
    return extracted.withColumn("turn_rank", F.row_number().over(w)).withColumn(
        "conv_turns", F.count(F.lit(1)).over(wc)
    )


def metrics_agg(extracted: DataFrame, group_col: str) -> DataFrame:
    """Shared lineage/metrics aggregation (flags model of
    ``NFT_OCR.py:1470-1478`` generalized per north_rule): conv_id/turn
    ranges + status counters + token/field totals per ``group_col``.
    Used by both the per-physical-partition metrics below and the
    per-bucket checkpoint lineage (ocr_spark/checkpoint.py) so the two
    tables can never drift apart."""
    return extracted.groupBy(group_col).agg(
        F.min("conv_id").alias("conv_id_min"),
        F.max("conv_id").alias("conv_id_max"),
        F.min("turn_idx").alias("turn_idx_min"),
        F.max("turn_idx").alias("turn_idx_max"),
        F.count(F.lit(1)).alias("turn_count"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok_count"),
        F.sum(F.when(F.col("status") == "empty", 1).otherwise(0)).alias("empty_count"),
        F.sum(F.when(F.col("status") == "rejected", 1).otherwise(0)).alias(
            "rejected_count"
        ),
        F.sum(
            F.when(~F.col("status").isin("ok", "empty", "rejected"), 1).otherwise(0)
        ).alias("failed_count"),
        F.sum("n_tokens").alias("token_count"),
        F.sum("n_fields").alias("field_count"),
    )


def partition_metrics(extracted: DataFrame) -> DataFrame:
    """Per-physical-partition lineage/metrics rows — one row per executor
    partition, written alongside the output so a resumed job can audit
    coverage without rescanning data."""
    return metrics_agg(
        extracted.withColumn("partition_id", F.spark_partition_id()), "partition_id"
    )


def failure_spans(extracted: DataFrame) -> DataFrame:
    """Long-form failure rows (conv_id, turn_idx, reason) — the
    ``failure_spans`` component of the lineage table (FIXTURES.md §4)."""
    return extracted.filter(
        ~F.col("status").isin("ok", "empty")
    ).select("conv_id", "turn_idx", F.col("status").alias("reason"))
