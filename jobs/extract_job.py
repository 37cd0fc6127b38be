#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule:
"ships as a spark-submit --py-files package").

Usage (cluster):

    scripts/build_package.sh           # -> dist/ocr_spark.zip
    spark-submit \
        --py-files dist/ocr_spark.zip \
        jobs/extract_job.py \
        --input  <path or table identifier>  \
        --output <path or table identifier>

Usage (sandbox smoke; at ``--synthetic 200`` the lineage totals are
889 ok / 58 rejected / 28 empty turns):

    python jobs/extract_job.py --synthetic 200 --output /tmp/extract_out

``--synthetic`` generates its corpus once, into a temporary parquet
directory on the driver's local disk (removed when the job ends), and then
reads it like ``--input``; it is a local-mode smoke path.

Storage is chosen by name: a value holding ``/`` or ``:`` is a parquet
path (``./name`` for a relative one), anything else a table identifier.
``--input`` is a parquet directory of transcripts (conv_id, turn_idx, role,
text, tool, ts) or a table (Iceberg or any configured catalog); ``--output``
is a root for ``data/`` and ``_lineage/`` or an Iceberg table prefix.  The
job is resumable: re-running with the same --output continues from the
lineage table (see ocr_spark/checkpoint.py); completed buckets are
skipped, a half-written bucket is overwritten idempotently.

Sizing guidance at 10^12 turns:

- ``--buckets`` is the only size: each bucket is one commit, so it sets the
  resume granularity, the work redone after a crash AND the task size.
  Each chunk runs its kernel stage as one task per core (the session's
  default parallelism), so a task carries about (input turns / buckets /
  total cores) turns and a chunk writes at most one data file per core.
  Every task pays a fixed cost (Python worker hand-off, kernel call setup,
  one parquet file; measured in SCALE.md §6), so pick it small enough that
  tasks carry thousands of turns, and large enough that redoing one bucket
  after a crash stays cheap.
- ``--buckets`` also multiplies the input read: a chunk selects its bucket
  with a hash filter, which scans every input file, so the job reads the
  whole input once per bucket (the 4-bucket bench job read 214,199 input
  records for 42,839 turns).  More buckets buy a smaller redo with that
  many more full input scans.
- nothing to size for skew: the kernel stage hashes the row key
  (conv_id, turn_idx), so a 10^5-turn conversation spreads over every core.

Session lifecycle: ``main()`` runs in whatever session ``build_session``
finds (or starts) and never stops it; the session's owner ends it.  A
``spark-submit`` or ``python jobs/extract_job.py`` run ends when ``main``
returns: the JVM's own shutdown hook stops the context and removes its
local directories (under ``python`` the gateway JVM exits when its stdin
closes and runs the same hook).  A caller that starts its own session
first (a benchmark harness, a test fixture) stops it itself.  Stopping
here would cost 0.7-0.9 s of idle time per job: with a Python UDF
in the plan, ``SparkContext.stop()`` waits for PySpark's accumulator
server, whose handler polls its connection once a second.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

# direct `python jobs/extract_job.py` runs (no --py-files zip on the path)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def build_session(app: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def synthetic_input(spark, n_convs: int, path: str):
    """Write ``n_convs`` synthetic conversations to a parquet directory at
    ``path`` and read it back, so the chunks scan parquet exactly as they
    do for ``--input``."""
    from ocr_spark import synth
    from ocr_spark.pipeline import TRANSCRIPT_SCHEMA

    pdf = synth.generate_local(n_convs, shuffled=False)
    spark.createDataFrame(pdf, TRANSCRIPT_SCHEMA).write.parquet(path)
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="transcripts: a parquet path (holds '/' or ':') "
                                   "or a table identifier")
    p.add_argument("--output", required=True,
                   help="a path (data/ + _lineage/ under it) or an Iceberg "
                        "table identifier prefix (<name>_data + <name>_lineage)")
    p.add_argument("--buckets", type=int, default=4,
                   help="conv_id hash buckets, committed one per chunk")
    p.add_argument("--max-chunks", type=int, default=None,
                   help="stop after N chunk commits (testing / bounded runs)")
    p.add_argument("--synthetic", type=int, default=None, metavar="N_CONVS",
                   help="ignore --input; run on deterministic synthetic transcripts")
    p.add_argument("--deep-audit", action="store_true",
                   help="cross-check lineage totals against a full input rescan")
    args = p.parse_args(argv)
    if args.synthetic is not None and args.synthetic <= 0:
        p.error("--synthetic requires a positive conversation count")
    if args.synthetic is None and not args.input:
        p.error("either --input or --synthetic is required")
    if args.buckets < 1:
        p.error("--buckets must be >= 1")
    if args.max_chunks is not None and args.max_chunks < 0:
        p.error("--max-chunks must be >= 0")

    spark = build_session("ocr-spark-extract")
    spark.sparkContext.setLogLevel("WARN")

    from ocr_spark.checkpoint import CheckpointedExtraction, is_path

    tmp = tempfile.mkdtemp(prefix="ocr_spark_synthetic_") if args.synthetic else None
    try:
        if tmp:
            df = synthetic_input(spark, args.synthetic, os.path.join(tmp, "transcripts"))
        elif is_path(args.input):
            df = spark.read.parquet(args.input)
        else:
            df = spark.read.table(args.input)

        job = CheckpointedExtraction(spark, df, args.output, buckets=args.buckets)
        n = job.run(max_chunks=args.max_chunks)
        audit = job.validate(deep=args.deep_audit)
    finally:
        if tmp:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"committed {n} chunks; audit: {audit}")
    return 0 if (audit["complete"] or args.max_chunks is not None) else 1


if __name__ == "__main__":
    # the sys.path insert reaches only this process; Spark's Python
    # workers find ocr_spark through the PYTHONPATH the JVM inherits when
    # the session starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.exit(main())
