"""ocr_spark — a from-scratch, PySpark-native main-content extraction engine.

Re-expresses the extraction semantics of the reference (ajverster/OCR — a
sequential per-file OCR loop, see ``/root/reference/OCR/NFT_OCR.py:1574-1579``)
as a vectorized, Arrow-batched Spark pipeline over tables of multi-turn
conversation/agent transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout
------
- ``ocr_spark.kernel``    — pure-Python/pandas extraction kernel (no Spark):
  HTML boilerplate stripping, PDF-layout reading-order parse, the ordered
  token-cleanup chain, structured field extraction with conflict merge and
  absence inference.  One code path shared by the single-threaded oracle and
  the pandas-on-Arrow UDF → parity by construction.
- ``ocr_spark.oracle``    — single-threaded ground-truth runner (row loop).
- ``ocr_spark.pipeline``  — the Spark pipeline: repartition on the row key
  (conv_id, turn_idx) → mapInPandas extraction → window reassembly; the lineage aggregates.
- ``ocr_spark.synth``     — deterministic transcript generator: one pandas
  builder derives every row from a pure function of (conv_idx, turn_idx);
  Spark callers take it with ``createDataFrame(..., TRANSCRIPT_SCHEMA)``.
- ``ocr_spark.operators`` — SQL-expressible operator library mapped 1:1 from
  SURVEY.md §2 (each has a DuckDB oracle in ``__spark_entry__.py``), plus
  training-data-pipeline ops (dedup family, ANN, text quality).
- ``ocr_spark.checkpoint`` — the one extraction sink: per-bucket commits,
  lineage rows, skip of completed buckets (the memoization pattern of
  ``Ingredients_OCR.py:222-224`` generalized).
"""

__version__ = "0.1.0"
