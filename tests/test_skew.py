"""Skew defenses.

1. Extraction: a pathological long conversation must spread over every
   kernel task instead of pinning one (north_rule: "salted repartitioning
   on hash(conv_id) to defuse long-conversation skew"; the turn index is
   the salt, so the kernel exchange hashes the row key (conv_id, turn_idx)).
2. LSH candidate joins: a boilerplate-heavy corpus (thousands of
   near-identical docs sharing one (band, signature) bucket) must NOT go
   quadratic — the MAX_BUCKET guard drops oversized buckets (SCALE.md §9)
   while genuine near-dup pairs in normal buckets survive.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F

from ocr_spark.operators import dedup, similarity
from ocr_spark.pipeline import extract_transcripts, reassemble

N_BIG = 20_000


def _skewed_frame():
    big = pd.DataFrame(
        {
            "conv_id": ["conv_mega"] * N_BIG,
            "turn_idx": pd.array(range(N_BIG), dtype="int32"),
            "role": ["user"] * N_BIG,
            "text": [f"turn {i} payload words here" for i in range(N_BIG)],
            "tool": [""] * N_BIG,
        }
    )
    small = pd.DataFrame(
        {
            "conv_id": [f"conv_{i:05d}" for i in range(500)],
            "turn_idx": pd.array([0] * 500, dtype="int32"),
            "role": ["user"] * 500,
            "text": ["short turn"] * 500,
            "tool": [""] * 500,
        }
    )
    return pd.concat([big, small], ignore_index=True)


def test_mega_conversation_spreads_over_every_kernel_task(spark):
    """The shipped plan, not a copy of its repartition: group the kernel
    output by the partition that computed it."""
    out = extract_transcripts(spark.createDataFrame(_skewed_frame()))
    dist = (
        out.withColumn("pid", F.spark_partition_id())
        .filter(F.col("conv_id") == "conv_mega")
        .groupBy("pid")
        .count()
        .collect()
    )
    per_task = [r["count"] for r in dist]
    assert sum(per_task) == N_BIG
    assert len(per_task) == spark.sparkContext.defaultParallelism, per_task
    assert max(per_task) <= N_BIG * 0.3, per_task  # no task holds the bulk


def test_skewed_input_extracts_correctly(spark):
    pdf = _skewed_frame()
    out = reassemble(extract_transcripts(spark.createDataFrame(pdf)))
    res = out.filter(F.col("conv_id") == "conv_mega").orderBy("turn_idx")
    rows = res.select("turn_idx", "turn_rank", "conv_turns", "extracted_text").collect()
    assert len(rows) == N_BIG
    # stable reassembly: rank dense 1..N in turn order despite the task split
    assert [r.turn_rank for r in rows[:5]] == [1, 2, 3, 4, 5]
    assert rows[0].conv_turns == N_BIG
    assert rows[12345].extracted_text == "turn 12345 payload words here"


def test_cap_buckets_drops_only_oversized_buckets(spark):
    rows = [(0, "hot") for _ in range(10)] + [(0, "cold"), (1, "hot"), (1, "warm")]
    df = spark.createDataFrame(rows, "band int, key string")

    kept = dedup._cap_buckets(df, ["band", "key"], cap=3).collect()
    assert {(r.band, r.key) for r in kept} == {(0, "cold"), (1, "hot"), (1, "warm")}

    stats = dedup.bucket_guard_stats(df, ["band", "key"], cap=3)
    assert stats == {
        "n_buckets": 4,
        "max_bucket": 10,
        "n_dropped_buckets": 1,
        "n_dropped_rows": 10,
    }


def _docs_parquet(spark, tmp_path, pdf: pd.DataFrame) -> str:
    pdf = pdf.assign(lang="en", source="synthetic", n_chars=pdf.text.str.len())
    spark.createDataFrame(pdf).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_boilerplate_corpus_does_not_go_quadratic(spark, tmp_path, monkeypatch):
    """400 identical boilerplate docs share ONE (band, signature) bucket per
    band; without the guard that bucket alone yields 400*399/2 ~ 80k
    candidate pairs.  With the cap the bucket is dropped — the result is
    exactly the one genuine near-dup pair from a normal-sized bucket."""
    boiler = "terms of service apply to every user of this site and by continuing you agree"
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
        "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    )
    pdf = pd.DataFrame(
        [(i, boiler) for i in range(400)] + [(1000, base), (1001, base + " extra")],
        columns=["doc_id", "text"],
    )
    sf_dir = _docs_parquet(spark, tmp_path, pdf)
    monkeypatch.setattr(dedup, "MAX_BUCKET", 100)

    pairs = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}
    assert pairs == {(1000, 1001)}

    stats = dedup.bucket_guard_stats(
        dedup.minhash_bands(spark, sf_dir), ["band", "s0", "s1"]
    )
    assert stats["max_bucket"] == 400  # the boilerplate bucket, per band
    assert stats["n_dropped_buckets"] >= dedup.N_BANDS
    assert stats["n_dropped_rows"] >= 400 * dedup.N_BANDS


def test_guard_is_inert_on_checked_tables(spark):
    """On the driver-checked synthetic tables every LSH bucket is far below
    the cap — the guard must drop NOTHING (results identical with or
    without it; bench.py logs the same audit at bench sf)."""
    sf_dir = "/root/testdata/sf0.001"
    rels = [
        (dedup.minhash_bands(spark, sf_dir), ["band", "s0", "s1"]),
        (dedup.embedding_bands(spark, sf_dir), ["band", "key"]),
        (similarity.ann_corpus_buckets(spark, sf_dir), ["tbl", "key"]),
    ]
    for df, cols in rels:
        stats = dedup.bucket_guard_stats(df, cols)
        assert stats["n_dropped_buckets"] == 0, (cols, stats)
        assert stats["max_bucket"] <= dedup.MAX_BUCKET
