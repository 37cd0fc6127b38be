#!/usr/bin/env python3
"""Benchmark of the shipped checkpointed extraction job.

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

Times ``jobs/extract_job.main(["--input", <workload parquet>, "--output",
<fresh dir>])`` with its shipped defaults on a ``local[nproc]`` session
that the benchmark starts first, checks every committed turn against the
oracle, and prints the metrics as one JSON object on the last line.

Each job runs in a freshly launched JVM, as under ``spark-submit``: the
set-up is the JVM launch, the session start and loading the workload's
cached input, and there is no warm-up job.

- ``--trace 0`` measures the end-to-end metrics: a closed loop of one job at
  a time for ``--seconds`` (at least one job).
- ``--trace 1`` makes the traced run: the job with an event log,
  checkpoint spans and per-thread JVM CPU, the job's first chunk at
  ``local[1]``, and one bare-kernel pass with per-stage CPU probes.  It
  prints the per-layer metrics and writes its spans to ``.perfbench_work/``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from perfbench.proctree import Usage
    from perfbench.tracing import KernelProbe

ROOT = Path(__file__).resolve().parent.parent
JOB = ROOT / "jobs" / "extract_job.py"
WORK = ROOT / ".perfbench_work"
ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default


def _environment() -> None:
    """Keep the JVM, Spark and PySpark workers inside the work directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    java = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java)} pyspark-shell"


class SparkRuntime:
    """Launches and shuts down the PySpark gateway JVM and its sessions."""

    def launch(self) -> None:
        from pyspark import SparkContext

        SparkContext._ensure_initialized()

    def session(self, master: str, eventlog: Path | None = None):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(master)
            .appName("perfbench")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.warehouse.dir", str(WORK / "warehouse"))
            .config("spark.eventLog.enabled", str(eventlog is not None).lower())
        )
        if eventlog is not None:
            eventlog.mkdir(parents=True)
            b = (
                b.config("spark.eventLog.dir", eventlog.as_uri())
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def close(self) -> None:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _stop_descendants(tree) -> None:
    """Wait for every process this run started; kill stragglers."""
    deadline = time.time() + 20
    while tree.live_descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree.live_descendants():
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
    while tree.live_descendants() and time.time() < deadline + 20:
        time.sleep(0.2)


@dataclass
class Call:
    turns: int
    wall_s: float
    usage: "Usage"
    chunk_s: list[float]
    failed_turns: int
    out: Path

    @property
    def turns_per_s(self) -> float:
        return self.turns / self.wall_s


class Bench:
    def __init__(self, workload, tree, run_dir: Path, nproc: int):
        from perfbench.tracing import Tracer

        self.wl = workload
        self.tree = tree
        self.run_dir = run_dir
        self.nproc = nproc
        self.rt = SparkRuntime()
        self.setups: list[float] = []
        self.calls: list[Call] = []
        self.tracer = Tracer()
        self._n = 0
        spec = importlib.util.spec_from_file_location("extract_job", JOB)
        self.job = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.job)

    def _dir(self, name: str) -> Path:
        self._n += 1
        return self.run_dir / f"{self._n:02d}-{name}"

    def setup(self, master: str | None = None, eventlog: Path | None = None):
        """JVM launch, session start and loading the workload's cached input;
        returns the session."""
        t = time.perf_counter()
        self.rt.launch()
        spark = self.rt.session(master or f"local[{self.nproc}]", eventlog)
        n = spark.read.parquet(self.wl.input_dir).count()
        self.setups.append(time.perf_counter() - t)
        if n != self.wl.turns:
            raise RuntimeError(f"input holds {n} turns, expected {self.wl.turns}")
        return spark

    def close(self) -> None:
        """JVM shutdown; waits for every process the run started."""
        self.rt.close()
        _stop_descendants(self.tree)

    def call(self, label: str, max_chunks: int | None = None) -> Call:
        """The timed job, then JVM shutdown; its output is checked against
        the oracle (with ``max_chunks``, only the conversations committed)."""
        from perfbench.check import check_output

        out = self._dir(label)
        argv = ["--input", self.wl.input_dir, "--output", str(out)]
        if max_chunks is not None:
            argv += ["--max-chunks", str(max_chunks)]
        mark = self.tree.mark()
        t0 = time.time()
        try:
            rc = self.job.main(argv)
        except Exception:
            traceback.print_exc()
            rc = None
        t1 = time.time()
        usage = self.tree.since(mark)
        self.close()
        failed, chunk_s, turns = self.wl.turns, [], self.wl.turns
        if rc == 0:
            res = check_output(out, self.wl.oracle, partial=max_chunks is not None)
            turns = res.expected_rows
            failed = res.failed_turns if res.ok else turns
            chunk_s = _chunk_intervals(res.lineage, t0)
        c = Call(turns, t1 - t0, usage, chunk_s, failed, out)
        self.calls.append(c)
        return c


def _chunk_intervals(lineage, t0: float) -> list[float]:
    """Wall time between consecutive lineage commits, the first from t0."""
    import pandas as pd

    ts = pd.to_datetime(lineage.groupby("chunk_id")["committed_at"].max(), utc=True)
    marks = sorted((ts - pd.Timestamp(0, tz="UTC")).dt.total_seconds())
    return [b - a for a, b in zip([t0, *marks], marks)]


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def run_untraced(b: Bench, seconds: float) -> dict:
    start = time.perf_counter()
    while not b.calls or time.perf_counter() - start < seconds:
        b.setup()
        c = b.call("timed")
        shutil.rmtree(c.out, ignore_errors=True)
        if c.failed_turns:
            break
    med = statistics.median
    return {
        "turns_per_s": _metric(med(c.turns_per_s for c in b.calls), "turns/s"),
        "cpu_s_per_1k_turns": _metric(
            med(c.usage.total_cpu_s / (c.turns / 1000) for c in b.calls), "CPU-s"
        ),
        "chunk_s_p50": _metric(med(s for c in b.calls for s in c.chunk_s or [c.wall_s]), "s"),
        "peak_rss_mb": _metric(med(c.usage.peak_rss_mb["tree"] for c in b.calls), "MB"),
        "setup_s": _metric(med(b.setups), "s"),
    }


def _skew_property(spark, wl) -> bool:
    """The scan never splits a giant conversation: each lies in one scan
    split (Spark may pack several small files, giants included, into one)."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(wl.input_dir)
        .where(F.col("conv_id").isin(wl.giant_convs))
        .select("conv_id", F.spark_partition_id().alias("split"))
        .distinct()
        .collect()
    )
    return sorted(r.conv_id for r in rows) == sorted(wl.giant_convs)


def _bare_kernel(b: Bench) -> "KernelProbe":
    """One in-process kernel pass over the whole input in Arrow-batch slices."""
    import pandas as pd

    from ocr_spark.kernel import extract as kx
    from perfbench.tracing import KernelProbe

    pdf = pd.read_parquet(b.wl.input_dir)
    probe = KernelProbe()
    with probe.installed(kx), b.tracer.span("kernel.bare") as bare:
        for lo in range(0, len(pdf), ARROW_BATCH):
            before = dict(probe.cpu)
            with b.tracer.span("kernel.batch") as batch:
                t = time.process_time()
                kx.extract_batch(pdf.iloc[lo : lo + ARROW_BATCH], with_spans=False)
                batch.attrs["cpu_s"] = time.process_time() - t
            probe.cpu["extract"] += batch.attrs["cpu_s"]
            for stage, cpu in probe.cpu.items():
                if stage != "extract":
                    b.tracer.open(f"kernel.{stage}", parent=batch, cpu_s=cpu - before.get(stage, 0.0))
                    b.tracer.spans[-1].start = b.tracer.spans[-1].end = batch.start
        bare.attrs["cpu_s"] = probe.cpu["extract"]
    return probe


def run_traced(b: Bench) -> tuple[dict, list[str]]:
    from ocr_spark.checkpoint import CheckpointedExtraction
    from perfbench import eventlog
    from perfbench.proctree import JVM_THREADS
    from perfbench.tracing import checkpoint_probe, eventlog_cpu_probe

    wl, tr = b.wl, b.tracer
    m: dict[str, dict] = {}
    notes: list[str] = []
    # no untraced job runs here: one more job would push the run past its
    # time limit, and a single pair of jobs differs mostly by noise on a
    # shared host; the tracing's own CPU is measured instead
    evdir = b._dir("eventlog")
    spark = b.setup(eventlog=evdir)
    skew_ok = _skew_property(spark, wl) if wl.giant_convs else None
    with (
        checkpoint_probe(CheckpointedExtraction, tr),
        eventlog_cpu_probe(type(spark)) as evlog_cpu,
        tr.span("job") as job_span,
    ):
        traced = b.call("traced")
    ev = eventlog.read(next(evdir.iterdir()), since=job_span.start)
    tr.attach_stages(ev.stages, job_span)

    b.setup(master="local[1]")
    single = b.call("local1", max_chunks=1)

    probe = _bare_kernel(b)

    # kernel
    cpu, rows, hits = probe.cpu, probe.rows, probe.hits
    stages = ("tool_json", "html", "layout", "bilingual", "cleanup", "reject_gate", "fields", "spans")
    ratio = lambda a, d: a / d if d else 0.0  # noqa: E731
    m.update({
        "kernel.extract.cpu_s": _metric(cpu["extract"], "CPU-s"),
        "kernel.extract.turns_per_cpu_s": _metric(ratio(wl.turns, cpu["extract"]), "turns/CPU-s"),
        "kernel.extract.self_cpu_s": _metric(cpu["extract"] - sum(cpu[s] for s in stages), "CPU-s"),
        "kernel.extract.tool_json.cpu_s": _metric(cpu["tool_json"], "CPU-s"),
        "kernel.html.cpu_s": _metric(cpu["html"], "CPU-s"),
        "kernel.html.rows": _metric(rows["html"], "count"),
        "kernel.layout.cpu_s": _metric(cpu["layout"], "CPU-s"),
        "kernel.layout.rows": _metric(rows["layout"], "count"),
        "kernel.bilingual.cpu_s": _metric(cpu["bilingual"], "CPU-s"),
        "kernel.bilingual.candidates": _metric(rows["bilingual"], "count"),
        "kernel.bilingual.split_ratio": _metric(ratio(hits["bilingual"], rows["bilingual"]), "ratio"),
        "kernel.cleanup.cpu_s": _metric(cpu["cleanup"], "CPU-s"),
        "kernel.extract.reject_gate.cpu_s": _metric(cpu["reject_gate"], "CPU-s"),
        "kernel.extract.reject_gate.candidates": _metric(rows["reject_gate"], "count"),
        "kernel.extract.reject_gate.reject_ratio": _metric(
            ratio(hits["reject_gate"], rows["reject_gate"]), "ratio"
        ),
        "kernel.fields.cpu_s": _metric(cpu["fields"], "CPU-s"),
        "kernel.fields.rows": _metric(rows["fields"], "count"),
        "kernel.extract.spans.cpu_s": _metric(cpu["spans"], "CPU-s"),
    })

    # pipeline (event log of the traced job, /proc for the Python workers)
    p50, pmax = ev.kernel_task_stats()
    jvm = {cls: traced.usage.cpu_s.get(f"jvm.{cls}", 0.0) for cls in JVM_THREADS}
    busy = eventlog.busy_seconds([(a, z) for a, z, _ in ev.stages], job_span.start, job_span.end)
    m.update({
        "pipeline.python.init_s": _metric(ev.python[eventlog.PY_INIT] / 1e3, "s"),
        "pipeline.python.start_s": _metric(ev.python[eventlog.PY_START] / 1e3, "s"),
        "pipeline.python.run_s": _metric(ev.python[eventlog.PY_RUN] / 1e3, "s"),
        "pipeline.arrow.sent_mb": _metric(ev.python[eventlog.PY_SENT] / 1e6, "MB"),
        "pipeline.arrow.returned_mb": _metric(ev.python[eventlog.PY_RETURNED] / 1e6, "MB"),
        "pipeline.kernel_rows_per_turn": _metric(ev.kernel_rows / wl.turns, "ratio"),
        "pipeline.exchange.write_mb": _metric(ev.shuffle_write_bytes / 1e6, "MB"),
        "pipeline.exchange.write_s": _metric(ev.shuffle_write_s, "s"),
        "pipeline.exchange.fetch_wait_s": _metric(ev.fetch_wait_s, "s"),
        "pipeline.kernel_tasks": _metric(len(ev.kernel_task_s), "count"),
        "pipeline.kernel_task_s_p50": _metric(p50, "s"),
        "pipeline.kernel_task_s_max": _metric(pmax, "s"),
        "pipeline.kernel_task_skew": _metric(ratio(pmax, p50), "ratio"),
        "pipeline.jvm_cpu_s": _metric(ev.jvm_cpu_s, "CPU-s"),
        "pipeline.gc_s": _metric(ev.gc_s, "s"),
        "pipeline.jvm_jit_cpu_s": _metric(jvm["jit"], "CPU-s"),
        "pipeline.jvm_gc_cpu_s": _metric(jvm["gc"], "CPU-s"),
        "pipeline.jvm_driver_cpu_s": _metric(jvm["driver"], "CPU-s"),
        "pipeline.python_worker_cpu_s": _metric(traced.usage.cpu_s["python"], "CPU-s"),
        "pipeline.python_peak_rss_mb": _metric(traced.usage.peak_rss_mb["python"], "MB"),
        "pipeline.driver_jvm_peak_rss_mb": _metric(traced.usage.peak_rss_mb["driver+jvm"], "MB"),
        "pipeline.driver_gap_s": _metric(traced.wall_s - busy, "s"),
        # first chunk (same buckets, same turns) at local[1] vs local[nproc]
        "pipeline.scaling_eff": _metric(
            ratio(single.chunk_s[0], b.nproc * traced.chunk_s[0]), "ratio"
        ),
    })

    # checkpoint (driver-side spans of the traced job)
    chunks = tr.named("checkpoint.chunk")
    span_s = lambda name: sum(s.end - s.start for s in tr.named(name))  # noqa: E731
    in_chunks = sum(
        1 for a, _, _ in ev.stages if any(c.start <= a < c.end for c in chunks)
    )
    files = list((traced.out / "data").rglob("*.parquet"))
    m.update({
        "checkpoint.chunks": _metric(len(chunks), "count"),
        "checkpoint.stages_per_chunk": _metric(ratio(in_chunks, len(chunks)), "count"),
        "checkpoint.resume_scan_s": _metric(span_s("checkpoint.resume_scan"), "s"),
        "checkpoint.data_commit_s": _metric(span_s("checkpoint.data_commit"), "s"),
        "checkpoint.lineage_commit_s": _metric(span_s("checkpoint.lineage_commit"), "s"),
        "checkpoint.validate_s": _metric(span_s("checkpoint.validate"), "s"),
        "checkpoint.output_files": _metric(len(files), "count"),
        "checkpoint.output_mb": _metric(sum(f.stat().st_size for f in files) / 1e6, "MB"),
    })

    # trace: what the layers above do not cover, and what tracing costs
    tree_cpu = traced.usage.total_cpu_s
    # pipeline: every JVM thread (tasks, JIT, GC, and the threads that plan
    # and schedule for the driver) and the Python workers; checkpoint: the
    # Python driver
    attributed = sum(jvm.values()) + traced.usage.cpu_s["python"] + traced.usage.cpu_s["driver"]
    share = ratio(cpu["extract"], tree_cpu)
    m.update({
        "trace.tree_cpu_s": _metric(tree_cpu, "CPU-s"),
        "trace.unattributed_cpu_frac": _metric(1 - ratio(attributed, tree_cpu), "ratio"),
        # the event-log writer thread and the /proc sampler
        "trace.overhead_frac": _metric(
            ratio(evlog_cpu["cpu_s"] + traced.usage.cpu_s["sampler"], tree_cpu), "ratio"
        ),
        "trace.kernel_cpu_share": _metric(share, "ratio"),
    })
    if wl.name == "mixed":
        holds, claim = share >= 0.5, f"kernel share of job CPU {share:.3f} >= 0.5"
    elif wl.name == "chat_short":
        holds, claim = share <= 0.2, f"kernel share of job CPU {share:.3f} <= 0.2"
    else:
        holds, claim = bool(skew_ok), "each giant conversation within one scan split"
    m["workload.property_holds"] = _metric(int(holds), "count")
    notes.append(
        f"tracing CPU: event-log writer {evlog_cpu['cpu_s']:.2f} s, "
        f"/proc sampler {traced.usage.cpu_s['sampler']:.2f} s"
    )
    notes.append(f"workload property: {claim}: {'holds' if holds else 'DOES NOT HOLD'}")
    return m, notes


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (JOB.is_file() and (ROOT / "ocr_spark" / "checkpoint.py").is_file()):
        print(f"perfbench: the extraction job is missing under {ROOT}", file=sys.stderr)
        return 2

    _environment()
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads
    from perfbench.proctree import ProcTree

    t = time.perf_counter()
    wl = workloads.prepare(args.workload, args.seed, WORK, ROOT)
    prepare_s = time.perf_counter() - t
    run_dir = WORK / "runs" / f"{wl.name}-{wl.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    with ProcTree(threads=bool(args.trace)) as tree:
        b = Bench(wl, tree, run_dir, len(os.sched_getaffinity(0)))
        try:
            if args.trace:
                metrics, notes = run_traced(b)
                b.tracer.write(run_dir / "trace.json")
            else:
                metrics, notes = run_untraced(b, args.seconds), []
        finally:
            b.close()
    for c in b.calls:
        shutil.rmtree(c.out, ignore_errors=True)
    if not args.trace:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = sum(c.turns for c in b.calls)
    failed = sum(c.failed_turns for c in b.calls)
    chunk_n = sum(len(c.chunk_s) for c in b.calls)
    print(f"workload {wl.name} seed {wl.seed}: {wl.turns} turns, prepared in {prepare_s:.1f} s")
    print(f"{len(b.calls)} jobs, {len(b.setups)} setups, {chunk_n} chunk intervals")
    for name, v in metrics.items():
        print(f"  {name:42s} {v['value']:14.4f} {v['unit']}")
    for n in notes:
        print(n)
    print(f"failed_turn_frac {failed / max(attempted, 1):.6f} ({failed} of {attempted} turns)")
    correct = failed == 0 and attempted > 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
