"""Physical-plan regression guards for the extraction pipeline's scale
posture (SCALE.md §1/§3): exactly one Python/Arrow stage, a 5-column
scan, one kernel exchange hashed on the row key (conv_id, turn_idx), and
one more when the output is wrapped in ``reassemble``."""

from __future__ import annotations

import re

from ocr_spark import synth
from ocr_spark.pipeline import INPUT_COLUMNS, extract_transcripts, reassemble


def _plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString(), df._jdf.queryExecution().executedPlan().toString()


def test_pipeline_plan_shape(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(synth.generate_local(20)).write.parquet(path)
    # extra column that must be pruned out of the scan
    df = spark.read.parquet(path)
    out = reassemble(extract_transcripts(df))
    optimized, executed = _plan(out)

    assert executed.count("MapInPandas") == 1  # ONE Arrow stage, not N
    n_exchange = executed.count("Exchange")
    assert n_exchange == 2, f"expected 2 shuffles (kernel + window), got {n_exchange}"
    # column pruning: ts never crosses into the scan output
    scan = re.search(r"ReadSchema: struct<([^>]*)>", executed)
    if scan:  # formatted scan line present
        cols = {c.split(":")[0] for c in scan.group(1).split(",")}
        assert cols == set(INPUT_COLUMNS), cols


def test_dedup_candidate_joins_are_not_all_pairs(spark):
    """Scale guard: simhash and embedding dedup generate candidate pairs
    via equi-joins (pigeonhole segments / LSH buckets), never a cartesian
    or broadcast-nested-loop product — the O(N^2) shape that cannot run at
    10^9 docs."""
    from ocr_spark.operators.dedup import dedup_embedding_lsh, dedup_simhash

    sf_dir = "/root/testdata/sf0.001"
    for fn in (dedup_simhash, dedup_embedding_lsh):
        _, executed = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in executed, fn.__name__
        assert "BroadcastNestedLoopJoin" not in executed, fn.__name__


def test_minhash_signatures_are_map_side(spark):
    """Scale guard (round 4): minhash signature generation must be pure
    map work — shingle sets are in-row arrays and the k minhashes are
    array_min(transform(...)) over them, so the ONLY admissible exchange
    before the (band, sig) bucket key is the conditional parallelism
    fan-out repartition. An aggregate or window in this plan means the
    full-corpus shingle shuffle of rounds 1-3 crept back in."""
    from ocr_spark.operators.dedup import minhash_bands

    # cached relations from earlier tests substitute into this plan as
    # InMemoryRelations that PRINT their cached subplan's nodes — assert
    # over the genuinely compiled shape, not session cache state
    spark.catalog.clearCache()
    _, executed = _plan(minhash_bands(spark, "/root/testdata/sf0.001"))
    for node in ("HashAggregate", "SortAggregate", "Window", "Join"):
        assert node not in executed, (node, executed)
    assert executed.count("Exchange") <= 1, executed  # fan-out repartition only


def test_no_reassembly_means_single_shuffle(spark, tmp_path):
    path = str(tmp_path / "t2.parquet")
    spark.createDataFrame(synth.generate_local(10)).write.parquet(path)
    out = extract_transcripts(spark.read.parquet(path))
    _, executed = _plan(out)
    assert executed.count("Exchange") == 1  # only the kernel repartition
    # the row key is the whole partitioning expression: no salt arithmetic
    assert re.search(r"Exchange hashpartitioning\(conv_id#\d+, turn_idx#\d+, \d+\)", executed)
    assert "pmod" not in executed


def test_default_partitions_is_one_task_per_core(spark, tmp_path):
    """The kernel repartition runs one kernel task per core.  The test
    session sets spark.sql.shuffle.partitions=8 on local[4], so this also
    pins that the SQL conf is not read."""
    path = str(tmp_path / "t6.parquet")
    spark.createDataFrame(synth.generate_local(10)).write.parquet(path)
    out = extract_transcripts(spark.read.parquet(path))
    cores = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != cores
    assert out.rdd.getNumPartitions() == cores


def test_ann_plans_are_array_form(spark):
    """Round-3 scale guards for similarity.py: dot products run on intact
    arrays — the plan must NOT contain a posexplode of embedding
    components or any join keyed on a component index (the round-2 shape
    that capped join parallelism at 64 idx keys).  The brute-force
    baseline broadcasts the tiny query set into a nested-loop join; the
    LSH and IVF variants broadcast the probe set into hash joins."""
    from ocr_spark.operators.similarity import (
        ann_cosine_topk,
        ann_ivf_flat,
        ann_lsh_bucketed,
    )

    sf_dir = "/root/testdata/sf0.001"
    for fn in (ann_cosine_topk, ann_lsh_bucketed, ann_ivf_flat):
        optimized, executed = _plan(fn(spark, sf_dir))
        assert "idx" not in optimized, f"{fn.__name__}: component-index join is back"
        assert "BroadcastExchange" in executed, f"{fn.__name__}: query side not broadcast"
    # brute force specifically: broadcast NLJ (cross of corpus x 10 queries)
    _, exe_bf = _plan(ann_cosine_topk(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in exe_bf
    # LSH specifically: the candidate join is a broadcast HASH join on
    # (tbl, key) — not nested-loop, not a shuffle of the corpus
    _, exe_lsh = _plan(ann_lsh_bucketed(spark, sf_dir))
    assert "BroadcastHashJoin" in exe_lsh
