"""Checkpoint-resume gate (north_rule: resumable with per-partition
lineage; SURVEY §5.2 item 3 — kill mid-job, restart, no duplicate or
missing turns)."""

from __future__ import annotations

import pytest

from ocr_spark import synth
from ocr_spark.checkpoint import LINEAGE_SCHEMA, CheckpointedExtraction, bucket_of
from ocr_spark.pipeline import TRANSCRIPT_SCHEMA, extract_transcripts, metrics_agg

N_CONVS = 40


@pytest.fixture(scope="module")
def committed(spark, tmp_path_factory):
    """One uninterrupted run: 8 buckets in 8 chunks, some buckets empty."""
    pdf = synth.generate_local(6, shuffled=True)
    out = str(tmp_path_factory.mktemp("ckpt_commit") / "out")
    job = CheckpointedExtraction(spark, spark.createDataFrame(pdf), out, buckets=8)
    assert job.run() == 8
    return job


def _keys(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.extracted_text)
        for r in df.select("conv_id", "turn_idx", "extracted_text").collect()
    )


def test_interrupted_run_resumes_exactly_once(spark, tmp_path, monkeypatch):
    pdf = synth.generate_local(N_CONVS, shuffled=True)
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt")

    # first run "crashes" after 3 of 6 chunk commits
    job1 = CheckpointedExtraction(spark, sdf, out, buckets=6)
    committed = job1.run(max_chunks=3)
    assert committed == 3
    assert job1.pending_buckets() == [3, 4, 5]
    assert not job1.validate()["complete"]

    # then crashes between the 4th chunk's data and lineage commits: bucket
    # 3's rows are written but unmarked, so the resume must redo them
    def crash(rows):
        raise RuntimeError("crash before lineage")

    monkeypatch.setattr(job1, "_commit_lineage", crash)
    with pytest.raises(RuntimeError, match="crash before lineage"):
        job1.run()
    assert (tmp_path / "ckpt" / "data" / "bucket=3").is_dir()
    assert job1.pending_buckets() == [3, 4, 5]

    # restart: a fresh driver resumes from lineage and finishes
    job2 = CheckpointedExtraction(spark, sdf, out, buckets=6)
    assert job2.pending_buckets() == [3, 4, 5]
    job2.run()
    audit = job2.validate()
    assert audit["complete"], audit
    assert audit["lineage_turns"] == len(pdf)

    # no duplicates, no missing turns, and per-turn output identical to a
    # single uninterrupted pipeline run
    got = _keys(job2.result())
    want = _keys(extract_transcripts(sdf))
    assert len(got) == len(pdf)
    assert got == want

    # re-running a completed job is a no-op
    job3 = CheckpointedExtraction(spark, sdf, out, buckets=6)
    assert job3.run() == 0
    assert _keys(job3.result()) == want


def test_stable_turn_order_after_resume(spark, tmp_path):
    pdf = synth.generate_local(12, shuffled=True)
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt2")
    job = CheckpointedExtraction(spark, sdf, out, buckets=4)
    job.run(max_chunks=1)
    job.run()
    res = job.result().orderBy("conv_id", "turn_idx").toPandas()
    # turn_rank from the reassembly window is dense 1..n per conversation
    for _, grp in res.groupby("conv_id"):
        assert list(grp["turn_rank"]) == list(range(1, len(grp) + 1))
        assert list(grp["turn_idx"]) == sorted(grp["turn_idx"])


def test_empty_buckets_complete_and_rerun_is_noop(spark, tmp_path):
    """Regression: with far more buckets than conversations, the empty
    buckets must still be marked complete — previously they never got a
    lineage row, so validate() stayed incomplete and every 'resume' reran
    full extraction chunks forever."""
    pdf = synth.generate_local(3, shuffled=True)
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt_sparse")
    job = CheckpointedExtraction(spark, sdf, out, buckets=8)
    job.run()
    assert job.pending_buckets() == []
    audit = job.validate(deep=True)
    assert audit["complete"], audit
    assert audit["lineage_turns"] == len(pdf)
    # a fresh driver over the same output does nothing
    job2 = CheckpointedExtraction(spark, sdf, out, buckets=8)
    assert job2.run() == 0


def test_chunk_writes_at_most_one_file_per_core(spark, tmp_path):
    """A chunk is one bucket and its kernel stage runs one task per core,
    so a chunk writes at most defaultParallelism data files — not one per
    bucket per core, nor one per spark.sql.shuffle.partitions task."""
    import collections
    import pathlib

    pdf = synth.generate_local(N_CONVS, shuffled=True)
    out = tmp_path / "ckpt_files"
    job = CheckpointedExtraction(spark, spark.createDataFrame(pdf), str(out), buckets=4)
    job.run()
    chunk_of = {r.bucket: r.chunk_id for r in job.lineage().collect()}
    files = collections.Counter(
        chunk_of[int(f.parent.name.split("=")[1])]
        for f in pathlib.Path(out, "data").glob("bucket=*/*.parquet")
    )
    assert max(files.values()) <= spark.sparkContext.defaultParallelism, files
    assert sorted(files) == [0, 1, 2, 3], files


def test_empty_first_bucket_commits_zeroed_lineage(spark, tmp_path):
    """A fresh output whose first pending bucket has no input rows: its
    chunk writes no data file, its write's observation over zero rows
    yields one zeroed lineage row, and the run goes on to finish the other
    buckets."""
    sdf = spark.createDataFrame(synth.generate_local(6, shuffled=True)).filter(
        bucket_of(4) != 0
    )
    n_turns = sdf.count()
    out = str(tmp_path / "ckpt_empty_first")
    job = CheckpointedExtraction(spark, sdf, out, buckets=4)
    assert job.run(max_chunks=1) == 1
    (row,) = job.lineage().collect()
    assert (row.bucket, row.chunk_id, row.conv_id_min) == (0, 0, None)
    assert all(row[c] == 0 for c in ("turn_count", "ok_count", "token_count"))
    assert job.pending_buckets() == [1, 2, 3]

    assert job.run() == 3
    audit = job.validate(deep=True)
    assert audit["complete"] and audit["lineage_turns"] == n_turns, audit
    assert _keys(job.result()) == _keys(extract_transcripts(sdf))


def test_chunk_commits_one_lineage_file(committed):
    """Each chunk's lineage is written by one task: one file per chunk."""
    import pathlib

    import pyarrow.parquet as pq

    files = sorted(pathlib.Path(committed.lineage_dir).glob("*.parquet"))
    chunk_ids = [pq.read_table(f).column("chunk_id").to_pylist() for f in files]
    assert sorted(chunk_ids) == [[c] for c in range(8)], chunk_ids


def test_lineage_rows_match_reference(spark, committed):
    """Lineage columns, types, order and values (``committed_at`` aside)
    equal a per-bucket ``metrics_agg`` of the committed data left-joined
    onto the bucket list with zeroed counts, chunk_id in pending order, and
    match the schema the lineage is read with."""
    from pyspark.sql import functions as F

    counts = [
        "turn_count", "ok_count", "empty_count", "rejected_count",
        "failed_count", "token_count", "field_count",
    ]
    data = spark.read.parquet(committed.data_dir)
    ref = (
        spark.createDataFrame([(b,) for b in range(8)], "bucket INT")
        .join(metrics_agg(data, "bucket"), "bucket", "left")
        .fillna(0, subset=counts)
        .withColumn("buckets", F.lit(8))
        .withColumn("run_id", F.lit(committed.run_id))
        .withColumn("chunk_id", F.col("bucket"))
        .withColumn("committed_at", F.current_timestamp())
    )
    lin = spark.read.parquet(committed.lineage_dir)
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in ref.schema
    ]
    # a file read makes every field nullable; the files' own nullability is
    # pinned by test_chunk_commit_shape
    assert lin.schema == committed.lineage().schema
    assert [(f.name, f.dataType) for f in lin.schema] == [
        (f.name, f.dataType) for f in LINEAGE_SCHEMA
    ]
    assert data.select("bucket").distinct().count() < 8  # empty buckets zeroed
    assert sorted(lin.drop("committed_at").collect()) == sorted(
        ref.drop("committed_at").collect()
    )


def test_validate_reads_lineage_once(spark, committed, monkeypatch):
    """One read of the lineage, a plain scan and collect: one Spark job."""
    calls = []
    read = CheckpointedExtraction.lineage

    def spy(self):
        calls.append(1)
        return read(self)

    monkeypatch.setattr(CheckpointedExtraction, "lineage", spy)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    audit = committed.validate()
    assert audit["complete"] and audit["lineage_turns"] > 0, audit
    assert len(calls) == 1
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1


def test_lineage_row_is_a_local_relation(committed):
    """A chunk's lineage row is a one-row local relation (no range, no
    literal projection to compile) that holds the values it was given."""
    row = committed.lineage().orderBy("chunk_id").first().asDict()
    df = committed._lineage_row(row, row["bucket"], row["chunk_id"])
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation", plan.toString()
    assert df.schema == LINEAGE_SCHEMA
    (got,) = df.collect()
    assert got.asDict() | {"committed_at": None} == row | {"committed_at": None}


def test_repeated_bucket_lineage_resumes_with_max(spark, tmp_path):
    """Lineage may hold more than one row for a bucket (a chunk committed
    twice): the bucket is complete, ``validate()`` reports its largest turn
    count, and a row from another bucket scheme is still refused."""
    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))
    out = str(tmp_path / "repeated")

    def commit(buckets, bucket, turns):
        job = CheckpointedExtraction(spark, sdf, out, buckets=buckets)
        observed = dict(
            conv_id_min="c", conv_id_max="c", turn_idx_min=0,
            turn_idx_max=turns - 1, turn_count=turns, ok_count=turns,
            empty_count=None, rejected_count=None, failed_count=None,
            token_count=None, field_count=None,
        )
        job._commit_lineage(job._lineage_row(observed, bucket, bucket))

    commit(2, 0, 3)
    commit(2, 1, 4)
    commit(2, 0, 7)
    job = CheckpointedExtraction(spark, sdf, out, buckets=2)
    assert job.run() == 0
    assert job.validate() == {
        "buckets_total": 2, "buckets_done": 2, "lineage_turns": 7 + 4, "complete": True,
    }
    commit(3, 1, 4)
    with pytest.raises(ValueError, match="bucket-scheme mismatch"):
        job.validate()


def test_unreadable_lineage_raises(spark, tmp_path):
    """Only a missing lineage or one with no data files means "nothing
    committed"; an unreadable file must raise, not resume as a first run
    that recomputes every bucket past the resume guards."""
    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))

    def job(name):
        return CheckpointedExtraction(spark, sdf, str(tmp_path / name), buckets=8)

    assert job("missing").pending_buckets() == list(range(8))
    (tmp_path / "no_files" / "_lineage").mkdir(parents=True)
    (tmp_path / "no_files" / "_lineage" / "_SUCCESS").touch()
    assert job("no_files").pending_buckets() == list(range(8))

    (tmp_path / "garbage" / "_lineage").mkdir(parents=True)
    (tmp_path / "garbage" / "_lineage" / "part-00000.parquet").write_bytes(b"garbage" * 16)
    with pytest.raises(Exception, match="not a Parquet file"):
        job("garbage").pending_buckets()


def test_bucket_scheme_mismatch_refused(spark, tmp_path):
    """Resuming the same output_dir with a different --buckets would mix
    two hash schemes (duplicates from stale partitions + missing rows from
    renumbered 'complete' buckets); the lineage records its scheme and a
    mismatched resume must refuse to run."""
    pdf = synth.generate_local(6, shuffled=True)
    sdf = spark.createDataFrame(pdf)
    out = str(tmp_path / "ckpt_scheme")
    CheckpointedExtraction(spark, sdf, out, buckets=4).run(max_chunks=1)
    bad = CheckpointedExtraction(spark, sdf, out, buckets=8)
    with pytest.raises(ValueError, match="bucket-scheme mismatch"):
        bad.run()
    # the original scheme still resumes fine
    ok = CheckpointedExtraction(spark, sdf, out, buckets=4)
    ok.run()
    assert ok.validate(deep=True)["complete"]


def test_legacy_spans_output_resumes(spark, tmp_path):
    """An output written before spans_json left the schema carries it in
    its data files, and its lineage has a spans=true column.  Data and
    lineage are read with their declared schemas, so it resumes to complete
    with the single-run rows and no spans_json.  Lineage that records no
    ``buckets`` at all is refused by the bucket-scheme guard."""
    import shutil

    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(synth.generate_local(6, shuffled=True))
    out = tmp_path / "legacy"
    CheckpointedExtraction(spark, sdf, str(out), buckets=4).run(max_chunks=1)
    legacy = {"data": ("spans_json", F.lit("[]")), "_lineage": ("spans", F.lit(True))}
    for sub, (col, value) in legacy.items():
        df = spark.read.parquet(str(out / sub)).withColumn(col, value)
        writer = df.write.partitionBy("bucket") if sub == "data" else df.write
        writer.parquet(str(tmp_path / sub))
        shutil.rmtree(out / sub)
        shutil.move(tmp_path / sub, out / sub)
        assert col in spark.read.parquet(str(out / sub)).columns

    job = CheckpointedExtraction(spark, sdf, str(out), buckets=4)
    assert job.run() == 3
    assert job.validate(deep=True)["complete"]
    assert "spans_json" not in job.result().columns
    assert _keys(job.result()) == _keys(extract_transcripts(sdf))

    bare = tmp_path / "no_buckets"
    spark.createDataFrame([(0,)], "bucket INT").write.parquet(str(bare / "_lineage"))
    with pytest.raises(ValueError, match="bucket-scheme mismatch"):
        CheckpointedExtraction(spark, sdf, str(bare), buckets=4).run()


def test_job_script_runs_without_pythonpath(tmp_path):
    """`python jobs/extract_job.py --synthetic N` from any directory with no
    PYTHONPATH: Spark's Python workers must still import ocr_spark."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env["TMPDIR"] = str(tmp)
    local = tmp_path / "spark-local"
    local.mkdir()
    env["SPARK_LOCAL_DIRS"] = str(local)
    proc = subprocess.run(
        [
            sys.executable, os.path.join(root, "jobs", "extract_job.py"),
            "--synthetic", "3", "--buckets", "2",
            "--output", str(tmp_path / "out"),
        ],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "'complete': True" in proc.stdout
    # a fresh output has no lineage yet: the job checks for it instead of
    # reading it and logging the missing path's stack trace
    for noise in ("FileNotFoundException", "Assume no metadata directory"):
        assert noise not in proc.stderr, proc.stderr[-3000:]
    # lineage is read by file, never as the hidden `_lineage` directory
    assert "All paths were ignored" not in proc.stderr, proc.stderr[-3000:]
    # the synthetic corpus's temporary parquet is gone with the job
    assert not list(tmp.glob("ocr_spark_synthetic_*"))
    # main() leaves the session running; run() returns only once the JVM,
    # which holds the pipes, has exited, so its shutdown hook stopped the
    # context and removed the context's and block manager's local dirs
    left = [p.name for p in local.iterdir() if p.name.startswith(("spark-", "blockmgr-"))]
    assert not left, left

    # storage is chosen by name: the old format options are refused
    for removed in (["--format", "parquet"], ["--table-format", "iceberg"]):
        proc = subprocess.run(
            [sys.executable, os.path.join(root, "jobs", "extract_job.py"),
             "--synthetic", "1", "--output", str(tmp_path / "refused"), *removed],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 2, (removed, proc.stderr[-2000:])
        assert "unrecognized arguments" in proc.stderr, removed


def _job_module():
    """`jobs/extract_job.py` imported as a module (it is not a package)."""
    import importlib.util
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "extract_job", os.path.join(root, "jobs", "extract_job.py")
    )
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_job_main_leaves_the_session_running(spark, tmp_path):
    """`main()` runs in the session it finds and never stops it: the
    session's owner (here the test fixture) ends it."""
    extract_job = _job_module()
    argv = ["--synthetic", "2", "--buckets", "1", "--output", str(tmp_path / "out")]
    assert extract_job.main(argv) == 0
    assert spark.range(1).count() == 1


def test_synthetic_input_is_generated_once(spark, tmp_path):
    """`--synthetic` reads a written parquet corpus: no chunk's plan reruns
    the generator, so the kernel is the job's only Python stage."""
    extract_job = _job_module()
    df = extract_job.synthetic_input(spark, 5, str(tmp_path / "transcripts"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Scan parquet" in plan, plan
    assert df.schema == TRANSCRIPT_SCHEMA
    assert df.count() == len(synth.generate_local(5))


def test_non_positive_sizes_are_refused(spark, tmp_path):
    """A bucket count below 1 would commit no chunk yet audit complete, and
    max_chunks=-1 would silently skip the last chunk: the constructor,
    run() and the job's argparse refuse them."""
    import os
    import subprocess
    import sys

    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))
    out = str(tmp_path / "ckpt_sizes")
    for buckets in (0, -4):
        with pytest.raises(ValueError, match="must be >= 1"):
            CheckpointedExtraction(spark, sdf, out, buckets=buckets)
    job = CheckpointedExtraction(spark, sdf, out, buckets=4)
    with pytest.raises(ValueError, match="max_chunks"):
        job.run(max_chunks=-1)
    assert job.pending_buckets() == [0, 1, 2, 3]

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = os.path.join(root, "jobs", "extract_job.py")
    for bad in (["--buckets", "0"], ["--max-chunks", "-1"]):
        proc = subprocess.run(
            [sys.executable, script, "--synthetic", "1", "--output", out, *bad],
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 2, (bad, proc.stdout[-2000:], proc.stderr[-2000:])
        assert "must be >= " in proc.stderr, bad


def test_input_contract_is_checked_at_construction(spark, tmp_path, capfd):
    """A kernel column that is missing, or of a type that cannot be cast to
    the declared one, fails at construction, before any Spark job, and the
    error names the column.  A missing column is caught before Spark's
    analysis, so PySpark logs no query-context ERROR line (the Java stack
    trace, about 12 KB) ahead of the exception."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))
    out = str(tmp_path / "ckpt_contract")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    capfd.readouterr()
    with pytest.raises(AnalysisException, match="`tool`"):
        CheckpointedExtraction(spark, sdf.drop("tool"), out)
    assert "DataFrameQueryContextLogger" not in capfd.readouterr().err
    with pytest.raises(AnalysisException, match="turn_idx"):
        CheckpointedExtraction(spark, sdf.withColumn("turn_idx", F.array("turn_idx")), out)
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_iceberg_backend_detection(spark, tmp_path):
    """The output's name picks the backend: a path or URI is the parquet
    emulation; anything else is an Iceberg table identifier, which fails
    fast at construction without a configured catalog or, in an
    environment without the iceberg-spark-runtime jar, without the jar."""
    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))
    for out in (str(tmp_path / "x"), (tmp_path / "x").as_uri(), "s3a://bucket/x"):
        job = CheckpointedExtraction(spark, sdf, out)
        assert job.lineage_dir == f"{out}/_lineage", out
    with pytest.raises(RuntimeError, match="spark.sql.catalog.local="):
        CheckpointedExtraction(spark, sdf, "local.db.extract")
    with pytest.raises(RuntimeError, match=r"spark.sql.catalog.<name>="):
        CheckpointedExtraction(spark, sdf, "extract")
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pass
    else:
        pytest.skip("iceberg runtime present; covered by the real-backend path")
    spark.conf.set("spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog")
    try:
        with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
            CheckpointedExtraction(spark, sdf, "local.db.extract")
    finally:
        spark.conf.unset("spark.sql.catalog.local")


def test_lineage_exists_when_its_files_do(spark, committed, tmp_path):
    """``lineage()`` is None while ``_lineage/`` holds no parquet file, and
    otherwise reads exactly the committed ``part-*.parquet`` files."""
    import pathlib

    sdf = spark.createDataFrame(synth.generate_local(2, shuffled=False))
    out = tmp_path / "no_parquet"
    (out / "_lineage").mkdir(parents=True)
    (out / "_lineage" / "_SUCCESS").touch()
    (out / "_lineage" / ".part-00000.parquet.crc").touch()
    assert CheckpointedExtraction(spark, sdf, str(out)).lineage() is None

    files = sorted(pathlib.Path(committed.lineage_dir).glob("part-*.parquet"))
    assert len(files) == 8
    assert sorted(committed.lineage().inputFiles()) == [f.as_uri() for f in files]


def test_run_sets_no_session_conf(spark, tmp_path, monkeypatch):
    """Dynamic partition overwrite is an option of each data write: run()
    sets no session conf, and with the session at STATIC a later chunk's
    commit keeps the buckets committed before it."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    assert spark.conf.get(key).upper() == "STATIC"
    sdf = spark.createDataFrame(synth.generate_local(6, shuffled=False))
    out = tmp_path / "c"
    job = CheckpointedExtraction(spark, sdf, str(out), buckets=2)

    calls = []
    conf_set = RuntimeConfig.set

    def spy(self, *args):
        calls.append(args)
        return conf_set(self, *args)

    monkeypatch.setattr(RuntimeConfig, "set", spy)
    assert job.run(max_chunks=1) == 1
    first = sorted((out / "data" / "bucket=0").glob("*.parquet"))
    assert first
    assert job.run() == 1
    assert calls == []
    assert spark.conf.get(key).upper() == "STATIC"
    assert sorted((out / "data" / "bucket=0").glob("*.parquet")) == first
    assert _keys(job.result()) == _keys(extract_transcripts(sdf))


def test_chunk_commit_shape(spark, committed, tmp_path, monkeypatch):
    """A chunk is the data job, which carries the lineage observation, and
    a one-row lineage job: run() never reads ``data/`` back, a 4-chunk run
    issues 3 Spark jobs per chunk, and every lineage file, an empty
    bucket's included, keeps the file schema lineage has always had."""
    import json
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    def no_read(self):
        raise AssertionError("run() read data/ back")

    monkeypatch.setattr(CheckpointedExtraction, "_read_data", no_read)
    sdf = spark.createDataFrame(synth.generate_local(N_CONVS, shuffled=True))
    job = CheckpointedExtraction(spark, sdf, str(tmp_path / "out"), buckets=4)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    assert job.run() == 4
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 3 * 4

    counts = (
        "turn_count", "ok_count", "empty_count", "rejected_count",
        "failed_count", "token_count", "field_count",
    )
    want = pa.schema(
        [
            pa.field("bucket", pa.int32(), nullable=False),
            pa.field("conv_id_min", pa.string()),
            pa.field("conv_id_max", pa.string()),
            pa.field("turn_idx_min", pa.int32()),
            pa.field("turn_idx_max", pa.int32()),
            *(pa.field(c, pa.int64(), nullable=False) for c in counts),
            pa.field("buckets", pa.int32(), nullable=False),
            pa.field("run_id", pa.string(), nullable=False),
            pa.field("chunk_id", pa.int32(), nullable=False),
            pa.field("committed_at", pa.timestamp("ns"), nullable=False),
        ]
    )
    files = [
        f for d in (job.lineage_dir, committed.lineage_dir)
        for f in sorted(pathlib.Path(d).glob("*.parquet"))
    ]
    assert len(files) == 4 + 8
    assert any(pq.read_table(f).column("turn_count")[0].as_py() == 0 for f in files)
    # the Spark schema each file records, as lineage has always written it
    spark_type = {
        pa.int32(): "integer", pa.int64(): "long", pa.string(): "string",
        pa.timestamp("ns"): "timestamp",
    }
    row_metadata = {
        "type": "struct",
        "fields": [
            {"name": f.name, "type": spark_type[f.type], "nullable": f.nullable, "metadata": {}}
            for f in want
        ],
    }
    for f in files:
        assert pq.read_schema(f) == want, f
        metadata = pq.read_schema(f).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        assert json.loads(metadata) == row_metadata, f


# Runs in its own driver: a local master retries a failed task only with
# ``local[N,F]``.  The kernel wrapper yields its rows, then fails the first
# attempt of partition 0 in every chunk.
_RETRIED_RUN = """
import sys

from pyspark import TaskContext
from pyspark.sql import SparkSession

from ocr_spark import pipeline, synth
from ocr_spark.checkpoint import CheckpointedExtraction

extract = pipeline._extract_map


def flaky(batches):
    yield from extract(batches)
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        raise RuntimeError("injected task failure")


pipeline._extract_map = flaky
spark = SparkSession.builder.master("local[4,2]").config("spark.ui.enabled", "false").getOrCreate()
sdf = spark.createDataFrame(synth.generate_local(int(sys.argv[2]), shuffled=True))
print("chunks", CheckpointedExtraction(spark, sdf, sys.argv[1], buckets=4).run())
tracker = spark.sparkContext.statusTracker()
stages = [tracker.getStageInfo(s) for j in tracker.getJobIdsForGroup(None)
          for s in tracker.getJobInfo(j).stageIds]
print("failed_tasks", sum(s.numFailedTasks for s in stages if s is not None))
"""


def test_retried_task_lineage_matches_committed_data(spark, tmp_path):
    """A kernel task that yields rows and then fails is retried; the
    observed lineage merges the successful attempts only, so it equals
    ``metrics_agg`` over the committed data read back."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRIED_RUN, out, str(N_CONVS)],
        cwd=root, env={**os.environ, "PYTHONPATH": root},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "chunks 4\nfailed_tasks 4\n" in proc.stdout, proc.stdout

    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(synth.generate_local(N_CONVS))
    want = metrics_agg(data, "bucket")
    got = spark.read.parquet(f"{out}/_lineage").select(*want.columns)
    assert sorted(got.collect()) == sorted(want.collect())
