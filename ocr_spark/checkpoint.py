"""Checkpointed, resumable extraction runs (north_rule: "resumable from
Iceberg snapshot checkpoints with per-partition lineage rows ... written to
a metrics table").

Model
-----
The input keyspace is divided into ``buckets`` stable hash buckets of
``conv_id`` (`bucket_of`) — a conversation always lands in the same
bucket, so bucket completion is a durable unit of progress.
A bucket is also the unit of commit: each pending bucket is one chunk, and
after it the job commits

1. the extracted rows, written ``partitionBy(bucket)`` with dynamic
   partition overwrite — re-running a half-finished chunk *overwrites* its
   bucket instead of duplicating it (idempotent, exactly-once per
   bucket), and
2. one lineage row for the bucket to ``<output>/_lineage`` — (bucket,
   conv_id range, turn range, status counters, token/field totals, run_id,
   chunk_id) — the generalized flags model of the reference
   (``NFT_OCR.py:1470-1478,1510`` per-file status lists, recorded while
   each file is processed).  The row is what the data write observed: the
   write carries ``metrics_columns`` as an ``Observation``, whose
   aggregates merge the successful task attempts only, so the lineage
   attests what was committed without a second pass over the data (an
   empty bucket still gets one zeroed row).  The row is handed to the JVM
   as a one-row Arrow table (a Python list would run a PythonRDD through
   a second worker pool; an Arrow table becomes a ``LocalRelation``) and
   written by one task as one file per chunk.

On restart, completed buckets are read from the lineage table and skipped
(the anti-join resume of SURVEY §2.10; the reference's precedent is its
memoized skip-seen-keys loop, ``Ingredients_OCR.py:222-224``,
``Google_OCR_API.py:74-75``).  A job reads the lineage once before its
first chunk and once in ``validate()``, one Spark job each.  Lineage exists
when its files do: nothing is committed while ``_lineage/`` holds no
parquet file (or the Iceberg table is absent), and the files that exist are
read by name, so an unreadable one raises.

Storage is chosen by the output's name.  A path (it holds ``/`` or ``:``)
is the parquet emulation: ``data/`` and ``_lineage/`` under it, with
dynamic partition overwrite as an option of each data write, never a
session conf.  Anything else is an Iceberg table identifier
(``catalog.db.name``): the chunk commit becomes an Iceberg snapshot (V2
writeTo API: ``overwritePartitions()`` of the bucket partitions in
``<name>_data``) and lineage an ``append()`` to ``<name>_lineage``; resume
reads the last snapshot.  That path needs the named catalog configured and
the iceberg-spark-runtime jar on the session's classpath, and construction
fails fast with guidance when either is missing (tests/test_resume.py pins
both guards; no Iceberg jar ships in this repository's test environment).
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ocr_spark.pipeline import OUTPUT_SCHEMA, extract_transcripts, metrics_columns, reassemble

LINEAGE_SUBDIR = "_lineage"
DATA_SUBDIR = "data"

_COUNTS = (
    "turn_count", "ok_count", "empty_count", "rejected_count", "failed_count",
    "token_count", "field_count",
)

# the committed data: ``data/`` is partitioned by bucket
DATA_SCHEMA = StructType([*OUTPUT_SCHEMA, StructField("bucket", IntegerType())])

# what ``run`` appends per bucket, field by field: the aggregates the data
# write observed, then the run bookkeeping.  Its nullability is the file
# schema lineage has always had: the key ranges nullable (null over an
# empty bucket), every other field required.  Parquet lineage is read with
# this schema, and a file read makes every field nullable: an unreadable
# file raises, and lineage without ``buckets`` reads it as null, which the
# bucket-scheme guard refuses.
LINEAGE_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("conv_id_min", StringType()),
        StructField("conv_id_max", StringType()),
        StructField("turn_idx_min", IntegerType()),
        StructField("turn_idx_max", IntegerType()),
        *(StructField(c, LongType(), False) for c in _COUNTS),
        StructField("buckets", IntegerType(), False),
        StructField("run_id", StringType(), False),
        StructField("chunk_id", IntegerType(), False),
        StructField("committed_at", TimestampType(), False),
    ]
)


def bucket_of(buckets: int) -> Column:
    """The stable hash bucket of a row's ``conv_id``, in ``[0, buckets)``."""
    return F.pmod(F.hash(F.col("conv_id")), F.lit(buckets))


def is_path(name: str) -> bool:
    """A storage name holding ``/`` or ``:`` is a parquet path (or URI);
    anything else is a table identifier such as ``catalog.db.table``."""
    return "/" in name or ":" in name


class CheckpointedExtraction:
    """Drive `extract_transcripts` over an input table in resumable chunks.

    Parameters
    ----------
    input_df : transcripts DataFrame (conv_id, turn_idx, role, text, tool);
        each column is cast to its ``TRANSCRIPT_SCHEMA`` type, see
        `extract_transcripts`
    output : a path (see `is_path`): extracted rows under ``data/``
        (partitioned by bucket), lineage rows under ``_lineage/``.  Or an
        Iceberg table identifier prefix (``catalog.db.name``): data lands
        in ``<prefix>_data``, lineage in ``<prefix>_lineage``; it needs the
        catalog configured and the iceberg-spark-runtime jar, and raises
        RuntimeError with guidance at construction when either is missing.
    buckets : stable hash buckets over conv_id; each is one commit, so
        this sets both the resume granularity and the chunk size.  Each
        chunk's hash filter scans every input file, so the input is read
        once per bucket
    """

    def __init__(
        self,
        spark: SparkSession,
        input_df: DataFrame,
        output: str,
        *,
        buckets: int = 4,
    ):
        if buckets < 1:
            raise ValueError(f"buckets={buckets} must be >= 1")
        # analysis only, no Spark job: a missing or uncastable input column
        # raises here, naming it, instead of in the first chunk
        extract_transcripts(input_df)
        self.spark = spark
        self.input_df = input_df
        self.output_dir = output.rstrip("/")
        self.buckets = buckets
        self.run_id = f"run_{int(time.time() * 1000):x}"
        self._iceberg = not is_path(output)
        if self._iceberg:
            self._require_iceberg_runtime()
            self.data_dir = f"{self.output_dir}_data"
            self.lineage_dir = f"{self.output_dir}_lineage"
        else:
            self.data_dir = f"{self.output_dir}/{DATA_SUBDIR}"
            self.lineage_dir = f"{self.output_dir}/{LINEAGE_SUBDIR}"

    def _require_iceberg_runtime(self) -> None:
        """Fail fast (at construction, not mid-job) when the catalog named
        by the identifier's first part isn't configured (most often a
        relative path given without ``./``), or when the Iceberg runtime
        isn't on the classpath; either would otherwise die at the first
        tableExists/writeTo call, mid-run."""
        catalog = self.output_dir.split(".", 1)[0] if "." in self.output_dir else ""
        if not catalog or not self.spark.conf.get(f"spark.sql.catalog.{catalog}", None):
            raise RuntimeError(
                f"output {self.output_dir!r} has no '/' or ':', so it names an "
                "Iceberg table and must be prefixed with a configured catalog: "
                f"set spark.sql.catalog.{catalog or '<name>'}="
                "org.apache.iceberg.spark.SparkCatalog (plus its type/warehouse "
                "confs) on the session, or give a path (./name) for the parquet "
                "emulation"
            )
        try:
            self.spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
        except Exception as exc:
            raise RuntimeError(
                f"the Iceberg table output {self.output_dir!r} needs the "
                "iceberg-spark-runtime jar on the Spark classpath, and this "
                "environment has none; give a path for the parquet emulation "
                "(identical commit/resume semantics via dynamic partition "
                "overwrite)"
            ) from exc

    # -- storage backends ---------------------------------------------------

    def _read_data(self) -> DataFrame:
        if self._iceberg:
            return self.spark.read.table(self.data_dir)
        return self.spark.read.schema(DATA_SCHEMA).parquet(self.data_dir)

    def _commit_data(self, out: DataFrame) -> None:
        """Idempotent per-bucket commit: only the bucket partitions present
        in ``out`` are replaced (Iceberg: an overwrite-by-partition
        snapshot; parquet: dynamic partition overwrite)."""
        if self._iceberg:
            # existence is checked explicitly, NOT via try/except around the
            # write: a real overwritePartitions failure (schema mismatch,
            # catalog auth, executor loss) must surface as-is so the resume
            # machinery redoes the bucket — retrying it as create() would
            # bury the root cause under TableAlreadyExists.
            if self.spark.catalog.tableExists(self.data_dir):
                out.writeTo(self.data_dir).overwritePartitions()
            else:
                out.writeTo(self.data_dir).partitionedBy(F.col("bucket")).create()
        else:
            # set per write, so the session's partitionOverwriteMode is
            # never changed for other writers
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(self.data_dir)
            )

    def _commit_lineage(self, rows: DataFrame) -> None:
        if self._iceberg:
            if self.spark.catalog.tableExists(self.lineage_dir):
                rows.writeTo(self.lineage_dir).append()
            else:
                rows.writeTo(self.lineage_dir).create()
        else:
            rows.write.mode("append").parquet(self.lineage_dir)

    # -- resume bookkeeping -------------------------------------------------

    def lineage(self) -> DataFrame | None:
        """The lineage table, or None while nothing is committed: no Iceberg
        lineage table, or no parquet file under ``_lineage/``.  The files
        found are read by name (Spark hides a ``_``-prefixed directory, so
        reading the directory logs "All paths were ignored"), and an
        unreadable file raises: taking it for a first run would recompute
        every bucket and skip the resume guard."""
        if self._iceberg:
            if not self.spark.catalog.tableExists(self.lineage_dir):
                return None
            return self.spark.read.table(self.lineage_dir)
        pattern = self.spark._jvm.org.apache.hadoop.fs.Path(f"{self.lineage_dir}/*.parquet")
        fs = pattern.getFileSystem(self.spark.sparkContext._jsc.hadoopConfiguration())
        files = fs.globStatus(pattern)
        if not files:
            return None
        return self.spark.read.schema(LINEAGE_SCHEMA).parquet(
            *(f.getPath().toString() for f in files)
        )

    def _lineage_turns(self) -> dict[int, int]:
        """Completed bucket -> its largest lineage turn count, after the
        resume guard.  One Spark job: a plain scan and collect of three
        columns, one row per committed chunk; the max is taken here."""
        lin = self.lineage()
        if lin is None:
            return {}
        rows = lin.select("bucket", "buckets", "turn_count").collect()
        # Resume guard: the bucketing scheme is part of the lineage contract.
        # Resuming the same output with a different ``buckets`` would mix two
        # hash schemes — stale data partitions from the old scheme survive
        # dynamic overwrite (duplicates) while buckets "complete" under the
        # old numbering cover different key sets under the new one (missing
        # rows).  Each lineage row records its scheme; refuse a mismatch,
        # and refuse lineage that records none (null ``buckets``).
        schemes = {r.buckets for r in rows}
        if schemes - {self.buckets}:
            written = sorted(schemes, key=lambda s: -1 if s is None else s)
            raise ValueError(
                f"resume bucket-scheme mismatch: lineage at {self.lineage_dir} "
                f"was written with buckets={written} but this run uses "
                f"buckets={self.buckets}; rerun with the original setting or "
                "use a fresh output_dir"
            )
        turns: dict[int, int] = {}
        for r in rows:
            turns[r.bucket] = max(turns.get(r.bucket, 0), r.turn_count or 0)
        return turns

    def completed_buckets(self) -> set[int]:
        return set(self._lineage_turns())

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.buckets) if b not in done]

    # -- execution ----------------------------------------------------------

    def run(self, max_chunks: int | None = None) -> int:
        """Commit pending buckets one chunk each; returns chunks committed.

        ``max_chunks`` bounds work for tests (simulating a crash between
        chunk commits); production passes None and runs to completion.
        """
        if max_chunks is not None and max_chunks < 0:
            raise ValueError(f"max_chunks must be >= 0, got {max_chunks}")
        chunks = self.pending_buckets()[:max_chunks]
        bucket = bucket_of(self.buckets)
        metrics = metrics_columns()
        for chunk_id, b in enumerate(chunks):
            out = extract_transcripts(self.input_df.filter(bucket == b))
            # the data write observes the lineage aggregates, merged over
            # successful task attempts only: no second pass over the data
            obs = Observation()
            self._commit_data(out.observe(obs, *metrics).withColumn("bucket", F.lit(b)))
            # lineage append AFTER data commit: a crash between the two
            # leaves the bucket un-marked -> it is simply redone (and the
            # per-bucket overwrite makes the redo idempotent).
            self._commit_lineage(self._lineage_row(obs.get, b, chunk_id))
        return len(chunks)

    def _lineage_row(self, metrics: dict, bucket: int, chunk_id: int) -> DataFrame:
        """One lineage row as a one-row Arrow table: a ``LocalRelation``, so
        one task writes one file, no Python worker runs and no per-chunk
        literal reaches codegen.  Over an empty bucket the observed count is
        0 and the sums and key ranges are null; the sums are zeroed."""
        row = dict(metrics, bucket=bucket, buckets=self.buckets, run_id=self.run_id,
                   chunk_id=chunk_id, committed_at=datetime.now(timezone.utc))
        row.update((c, row[c] or 0) for c in _COUNTS)
        return self.spark.createDataFrame(
            pa.table({f.name: [row[f.name]] for f in LINEAGE_SCHEMA}), LINEAGE_SCHEMA
        )

    # -- audit --------------------------------------------------------------

    def result(self) -> DataFrame:
        """Extracted rows with the stable-order reassembly window applied."""
        return reassemble(self._read_data())

    def validate(self, deep: bool = False) -> dict:
        """Coverage audit from lineage alone (no input rescan): complete
        iff every bucket has a lineage row.  ``deep=True`` additionally
        rescans the input table to cross-check turn totals — a full input
        scan, so at production scale reserve it for spot audits.

        The shallow check assumes a STATIC input between runs: if the input
        table gained rows in already-committed buckets, lineage presence
        alone cannot see them (those rows are never extracted yet the audit
        reports complete).  Append-while-resuming inputs must either run
        ``deep=True`` on the final chunk or route new data through a new
        output_dir / run."""
        turns = self._lineage_turns()
        n_lineage = sum(turns.values())
        out = {
            "buckets_total": self.buckets,
            "buckets_done": len(turns),
            "lineage_turns": n_lineage,
            "complete": len(turns) == self.buckets,
        }
        if deep:
            n_input = self.input_df.count()
            out["input_turns"] = n_input
            out["complete"] = out["complete"] and n_lineage == n_input
        return out
