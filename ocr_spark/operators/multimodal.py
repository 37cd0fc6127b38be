"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Training-data pipelines carry images/audio/video as ``binary`` columns with
typed metadata structs.  The Spark-side plumbing here — schema, column
pruning before the Arrow hop, batch shape, partitioning — is real and
tested; the actual codec work (JPEG decode, resampling, frame extraction)
is STUBBED behind deterministic fakes, clearly marked, because the
image/audio libraries are not in this container.  Swapping a stub for a
real decoder (PIL / soundfile / pyav) changes only the marked function
body: the Arrow batch contract around it is already exercised.

The reference analog is its image-normalization front end
(``NFT_PreProcessing.py:304-410`` imread -> crop -> resize -> threshold):
an expensive per-asset transformation feeding the extraction kernel —
exactly the shape of a decode/feature-extract UDF over binary columns.
"""

from __future__ import annotations

import hashlib
import struct

import pandas as pd

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.operators.tables import load

# ---------------------------------------------------------------------------
# Synthetic assets: deterministic binary payloads derived from `documents`
# (no external data; every byte is a pure function of doc_id).


def assets(spark, sf_dir):
    """Binary asset table: payload = md5-stream bytes keyed by doc_id.
    Metadata is arithmetic on doc_id so an oracle can check it in SQL."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    k = F.col("doc_id")
    payload = F.unhex(F.md5(k.cast("string")))  # 16 deterministic bytes
    return d.select(
        k.alias("asset_id"),
        F.when(k % 2 == 0, "image").otherwise("audio").alias("kind"),
        payload.alias("payload"),
        F.when(k % 2 == 0, (64 + (k * 7) % 1024).cast("int")).alias("width"),
        F.when(k % 2 == 0, (64 + (k * 11) % 768).cast("int")).alias("height"),
        F.when(k % 2 == 1, F.lit(16000).cast("int")).alias("sample_rate"),
        F.length(payload).cast("bigint").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# Decode / feature-extract stubs (the ONLY parts to replace with real
# codecs).  Deterministic pure functions of the payload bytes, so the
# plumbing is testable end-to-end today.


def _decode_image_stub(payload: bytes, width: int, height: int) -> dict:
    """STUB for a real image decode (e.g. PIL.Image.open -> np.asarray).

    A real implementation returns pixel statistics / a resized thumbnail /
    model features.  The deterministic fake hashes the payload into the
    same output schema so batch shape and nullability are exercised.
    """
    h = hashlib.md5(payload).digest()
    mean_luma = struct.unpack("<I", h[:4])[0] % 256 / 255.0
    return {
        "ok": True,
        "feature_0": round(mean_luma, 6),
        "feature_1": round(struct.unpack("<I", h[4:8])[0] % 1000 / 1000.0, 6),
        "out_w": min(width, 224),
        "out_h": min(height, 224),
    }


def _decode_audio_stub(payload: bytes, sample_rate: int) -> dict:
    """STUB for a real audio decode (e.g. soundfile.read -> resample).
    Deterministic fake; same contract notes as `_decode_image_stub`."""
    h = hashlib.md5(payload).digest()
    return {
        "ok": True,
        "feature_0": round(struct.unpack("<I", h[8:12])[0] % 1000 / 1000.0, 6),
        "feature_1": round(struct.unpack("<I", h[12:16])[0] % 1000 / 1000.0, 6),
        "out_w": sample_rate // 100,
        "out_h": 1,
    }


FEATURE_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),
        StructField("ok", StringType()),
        StructField("feature_0", DoubleType()),
        StructField("feature_1", DoubleType()),
        StructField("out_w", IntegerType()),
        StructField("out_h", IntegerType()),
    ]
)


def _feature_map(batches):
    """mapInPandas kernel: one Arrow batch of binary payloads in, one batch
    of features out.  Column pruning upstream keeps only the needed
    columns crossing the JVM->Python boundary (binary columns are the
    expensive ones to ship — select them last, prune everything else)."""
    for pdf in batches:
        rows = []
        for r in pdf.itertuples(index=False):
            if r.kind == "image":
                d = _decode_image_stub(bytes(r.payload), int(r.width), int(r.height))
            else:
                d = _decode_audio_stub(bytes(r.payload), int(r.sample_rate))
            rows.append(
                {
                    "asset_id": r.asset_id,
                    "kind": r.kind,
                    "ok": str(d["ok"]).lower(),
                    "feature_0": d["feature_0"],
                    "feature_1": d["feature_1"],
                    "out_w": d["out_w"],
                    "out_h": d["out_h"],
                }
            )
        yield pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA.fields])


def mm_feature_extract(spark, sf_dir):
    """Decode/feature-extract over binary columns via mapInPandas
    (rows-only driver check; the stub determinism is pinned by
    tests/test_multimodal.py)."""
    a = assets(spark, sf_dir).select(
        "asset_id", "kind", "width", "height", "sample_rate", "payload"
    )
    n_part = spark.sparkContext.defaultParallelism
    return a.repartition(n_part, "asset_id").mapInPandas(_feature_map, FEATURE_SCHEMA)


def mm_metadata_stats(spark, sf_dir):
    """Typed-metadata aggregation (pure JVM; no payload bytes touched —
    Catalyst prunes the binary column out of the scan entirely)."""
    a = assets(spark, sf_dir)
    return a.groupBy("kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.avg("width").alias("avg_width"),
    )


MM_METADATA_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id,
         CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
         CASE WHEN doc_id % 2 = 0 THEN 64 + (doc_id * 7) % 1024 END AS width,
         16 AS n_bytes
  FROM documents
)
SELECT kind, CAST(count(*) AS BIGINT) AS n_assets,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       avg(width) AS avg_width
FROM a GROUP BY kind
"""


def mm_frame_sample(spark, sf_dir):
    """Frame-sampling plumbing for video-like assets: explode per-asset
    frame indices JVM-side (sequence + explode), then the (stub) per-frame
    decode would run on the exploded rows.  Demonstrates the fan-out shape
    without shipping payload bytes per frame (join back by asset_id)."""
    a = assets(spark, sf_dir).filter(F.col("kind") == "image")
    frames = a.select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), ((F.col("width") - 64) % 4) + 1)).alias(
            "frame_idx"
        ),
    )
    return frames.groupBy("asset_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames")
    )


MM_FRAME_SQL = """
WITH a AS (
  SELECT doc_id AS asset_id, 64 + (doc_id * 7) % 1024 AS width
  FROM documents WHERE doc_id % 2 = 0
)
SELECT asset_id, CAST((width - 64) % 4 + 2 AS BIGINT) AS n_frames FROM a
"""


QUERIES = {
    "mm_feature_extract": (mm_feature_extract, None),
    "mm_metadata_stats": (mm_metadata_stats, MM_METADATA_SQL),
    "mm_frame_sample": (mm_frame_sample, MM_FRAME_SQL),
}
