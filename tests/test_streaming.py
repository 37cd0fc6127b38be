"""Structured Streaming metrics: AvailableNow drain, and state and
exactly-once file tracking that survive a restart."""

from __future__ import annotations

from ocr_spark import synth


def _write_chunk(spark, pdf, path):
    spark.createDataFrame(pdf).repartition(2).write.mode("append").parquet(path)


def test_stateful_conversation_progress(spark, tmp_path):
    from ocr_spark.streaming import conversation_progress

    indir = str(tmp_path / "sin")
    outdir = str(tmp_path / "sout")
    ckpt = str(tmp_path / "sckpt")
    pdf = synth.generate_local(12, shuffled=True).sort_values(["conv_id", "turn_idx"])
    half = len(pdf) // 2

    _write_chunk(spark, pdf.iloc[:half], indir)
    q = conversation_progress(spark, indir, outdir, ckpt)
    q.awaitTermination()

    # second batch: state must CONTINUE across the restart, not reset
    _write_chunk(spark, pdf.iloc[half:], indir)
    q = conversation_progress(spark, indir, outdir, ckpt)
    q.awaitTermination()
    updates = spark.read.parquet(outdir).toPandas()
    last_epoch = updates[updates["epoch"] == updates["epoch"].max()]
    latest = {r.conv_id: r for r in last_epoch.itertuples()}

    want = pdf.groupby("conv_id").agg(
        n=("turn_idx", "size"), mx=("turn_idx", "max")
    )
    # every conversation updated in batch 2 must show FULL cumulative counts
    for conv_id, r in latest.items():
        assert r.turns_seen == int(want.loc[conv_id, "n"])
        assert r.max_turn_idx == int(want.loc[conv_id, "mx"])


def test_turn_rate_metrics_watermarked_windows(spark, tmp_path):
    from ocr_spark.streaming import turn_rate_metrics

    indir = str(tmp_path / "min")
    outdir = str(tmp_path / "mout")
    ckpt = str(tmp_path / "mckpt")
    pdf = synth.generate_local(10, shuffled=True)
    _write_chunk(spark, pdf, indir)

    q = turn_rate_metrics(spark, indir, outdir, ckpt, window="1 hour", slide="1 hour")
    q.awaitTermination()
    # second invocation with the same checkpoint must recover (no new data)
    q = turn_rate_metrics(spark, indir, outdir, ckpt, window="1 hour", slide="1 hour")
    q.awaitTermination()
    rows = spark.read.parquet(outdir).collect()
    # watermark append-mode emits only closed windows; every emitted count
    # must match a direct batch aggregation of the same input
    got = {(r.win_start, r.role): r.turns for r in rows}
    assert got, "no closed windows emitted"
    from pyspark.sql import functions as F

    batch = (
        spark.createDataFrame(pdf)
        .groupBy(F.window("ts", "1 hour"), F.col("role"))
        .agg(F.count(F.lit(1)).alias("turns"))
        .select(F.col("window.start").alias("ws"), "role", "turns")
        .collect()
    )
    want = {(r.ws, r.role): r.turns for r in batch}
    for k, v in got.items():
        assert want.get(k) == v, (k, v, want.get(k))
