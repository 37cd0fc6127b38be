"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``   — flagship extraction pipeline over transcripts built
  from the sf0.001 ``documents`` table.
- ``queries()``      — one entry per implemented operator (SURVEY.md §2 +
  training-data ops); callables take (spark, sf_dir).
- ``oracle_sql()``   — DuckDB-equivalent ANSI SQL per query (omitted for
  the extraction kernel itself, whose ground truth is the in-repo Python
  oracle enforced byte-for-byte by tests/test_parity.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import operators
from ocr_spark.pipeline import extract_transcripts, reassemble

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap sf0.001 documents into transcript turns (HTML chrome /
    plain / tool-JSON payloads by deterministic rule), run the full
    extraction pipeline, return the reassembled result."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    html_payload = F.concat(
        F.lit(
            "<html><body><nav><a href='/'>home</a> <a href='/a'>about</a></nav>"
            "<div id='main'><p>"
        ),
        F.col("text"),
        F.lit("</p></div><footer>all rights reserved</footer></body></html>"),
    )
    tool_payload = F.to_json(F.struct(F.lit("search").alias("name"), F.col("text").alias("output")))
    turns = docs.select(
        F.concat(F.lit("doc_"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        F.lit(0).cast("int").alias("turn_idx"),
        F.when(F.col("doc_id") % 3 == 2, "tool").otherwise("user").alias("role"),
        F.when(F.col("doc_id") % 3 == 0, html_payload)
        .when(F.col("doc_id") % 3 == 1, F.col("text"))
        .otherwise(F.lit(""))
        .alias("text"),
        F.when(F.col("doc_id") % 3 == 2, tool_payload).otherwise(F.lit("")).alias("tool"),
    )
    return reassemble(extract_transcripts(turns))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return operators.queries()


def oracle_sql() -> dict[str, str]:
    return operators.oracle_sql()
