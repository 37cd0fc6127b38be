"""Spans and layer probes for the traced run.

Everything here wraps names the layers expose, from outside the program:

- ``KernelProbe`` rebinds the stage functions that ``kernel/extract.py``
  looks up at call time and charges ``time.process_time`` to each;
- ``checkpoint_probe`` wraps ``CheckpointedExtraction`` methods with wall
  spans (run -> chunk -> data/lineage commit);
- ``eventlog_cpu_probe`` reads, as the job stops its session, the CPU of
  the JVM thread that writes the event log.

Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import json
import time
import types
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from perfbench.eventlog import busy_seconds


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, parent: Span | None = None, **attrs) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(len(self.spans), parent.id if parent else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def attach_stages(self, stages: list[tuple[float, float, str]], root: Span) -> None:
        """Hang Spark stages under the deepest span of ``root``'s subtree
        that contains their submission time."""
        below = {root.id}
        for s in self.spans:  # parents precede children
            if s.parent in below:
                below.add(s.id)
        scope = [s for s in self.spans if s.id in below and s.end > s.start]
        for start, end, name in stages:
            owner = root
            for s in scope:
                if s.start <= start < s.end and s.id > owner.id:
                    owner = s
            self.open("spark.stage", parent=owner, stage=name).start = start
            self.spans[-1].end = end

    def self_times(self) -> dict[int, dict]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out = {}
        for s in self.spans:
            ch = kids[s.id]
            row = {"self_s": (s.end - s.start) - busy_seconds([(c.start, c.end) for c in ch], s.start, s.end)}
            if "cpu_s" in s.attrs:
                row["self_cpu_s"] = s.attrs["cpu_s"] - sum(c.attrs.get("cpu_s", 0.0) for c in ch)
            out[s.id] = row
        return out

    def write(self, path: Path) -> None:
        selfs = self.self_times()
        rows = [
            {
                "id": s.id, "parent": s.parent, "name": s.name,
                "start": s.start, "end": s.end, **s.attrs, **selfs[s.id],
            }
            for s in self.spans
        ]
        path.write_text(json.dumps(rows, indent=1))


class KernelProbe:
    """CPU, calls and outcome counts per kernel stage."""

    def __init__(self):
        self.cpu: dict[str, float] = defaultdict(float)
        self.rows: Counter = Counter()
        self.hits: Counter = Counter()

    def _wrap(self, name, fn, rows=None, hit=None):
        def wrapped(*args, **kwargs):
            t = time.process_time()
            out = fn(*args, **kwargs)
            self.cpu[name] += time.process_time() - t
            self.rows[name] += rows(args) if rows else 1
            if hit is not None and hit(args, out):
                self.hits[name] += 1
            return out

        return wrapped

    @contextmanager
    def installed(self, kx: types.ModuleType):
        """Rebind the stage names in ``ocr_spark.kernel.extract`` (``kx``)."""
        series_len = lambda args: len(args[0])  # noqa: E731
        wrapped = {
            "_tool_output": self._wrap("tool_json", kx._tool_output),
            "html_extract": self._wrap("html", kx.html_extract),
            "layout_extract": self._wrap("layout", kx.layout_extract),
            "bilingual": types.SimpleNamespace(
                PREFILTER_PAT=kx.bilingual.PREFILTER_PAT,
                split_blocks=self._wrap(
                    "bilingual", kx.bilingual.split_blocks,
                    hit=lambda args, out: len(out) > len(args[0]),
                ),
            ),
            "cleanup_series": self._wrap("cleanup", kx.cleanup_series, rows=series_len),
            "_is_american": self._wrap("reject_gate", kx._is_american, hit=lambda args, out: bool(out)),
            "extract_fields_series": self._wrap("fields", kx.extract_fields_series, rows=series_len),
            "_spans_and_counts": self._wrap("spans", kx._spans_and_counts, rows=series_len),
        }
        saved = {name: getattr(kx, name) for name in wrapped}
        for name, fn in wrapped.items():
            setattr(kx, name, fn)
        try:
            yield self
        finally:
            for name, fn in saved.items():
                setattr(kx, name, fn)


@contextmanager
def checkpoint_probe(cls: type, tracer: Tracer):
    """Wall spans around ``CheckpointedExtraction`` methods."""
    saved = {n: getattr(cls, n) for n in ("run", "completed_buckets", "_commit_data", "_commit_lineage", "validate")}
    chunk: list[Span] = []

    def spanned(name, fn):
        def wrapped(self, *args, **kwargs):
            with tracer.span(name):
                return fn(self, *args, **kwargs)

        return wrapped

    def close_chunk():
        tracer._stack.remove(chunk[-1])
        chunk[-1].end = time.time()

    def commit_data(self, out):
        chunk.append(tracer.open("checkpoint.chunk"))
        tracer._stack.append(chunk[-1])
        try:
            with tracer.span("checkpoint.data_commit"):
                return saved["_commit_data"](self, out)
        except BaseException:
            close_chunk()
            raise

    def commit_lineage(self, rows):
        try:
            with tracer.span("checkpoint.lineage_commit"):
                return saved["_commit_lineage"](self, rows)
        finally:
            close_chunk()

    cls.run = spanned("checkpoint.run", saved["run"])
    cls.completed_buckets = spanned("checkpoint.resume_scan", saved["completed_buckets"])
    cls.validate = spanned("checkpoint.validate", saved["validate"])
    cls._commit_data = commit_data
    cls._commit_lineage = commit_lineage
    try:
        yield
    finally:
        for name, fn in saved.items():
            setattr(cls, name, fn)


EVENTLOG_THREAD = "spark-listener-group-eventLog"


@contextmanager
def eventlog_cpu_probe(session_cls: type):
    """Yields a dict whose ``cpu_s`` is, once the session stops, the CPU of
    the event-log writer thread (JVM ``ThreadMXBean``, read over py4j)."""
    saved = session_cls.stop
    out = {"cpu_s": 0.0}

    def stop(self):
        mx = self.sparkContext._jvm.java.lang.management.ManagementFactory.getThreadMXBean()
        for tid in mx.getAllThreadIds():
            info = mx.getThreadInfo(tid)
            if info is not None and info.getThreadName() == EVENTLOG_THREAD:
                out["cpu_s"] += mx.getThreadCpuTime(tid) / 1e9
        return saved(self)

    session_cls.stop = stop
    try:
        yield out
    finally:
        session_cls.stop = saved
