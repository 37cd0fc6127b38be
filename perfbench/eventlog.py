"""Read a Spark event log (uncompressed, non-rolling) into layer numbers.

The traced session writes its log with ``spark.eventLog.compress=false``
and ``spark.eventLog.rolling.enabled=false``, so each application is one
JSON-lines file.  Per task this reads the executor metrics (CPU, GC,
shuffle) and the PySpark accumulables of the ``MapInPandas`` node, which is
where the kernel runs.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PY_INIT = "time to initialize Python workers"
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
_PY_ACCUMS = (PY_INIT, PY_START, PY_RUN, PY_SENT, PY_RETURNED)
KERNEL_NODE = "MapInPandas"


@dataclass
class EventLogSummary:
    python: dict[str, float] = field(default_factory=lambda: {k: 0.0 for k in _PY_ACCUMS})
    kernel_rows: int = 0
    kernel_task_s: list[float] = field(default_factory=list)
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_write_s: float = 0.0
    fetch_wait_s: float = 0.0
    stages: list[tuple[float, float, str]] = field(default_factory=list)  # (start, end, name), epoch s

    def kernel_task_stats(self) -> tuple[float, float]:
        if not self.kernel_task_s:
            return 0.0, 0.0
        return statistics.median(self.kernel_task_s), max(self.kernel_task_s)


def _kernel_row_accums(plan: dict, out: set[int]) -> None:
    if plan.get("nodeName") == KERNEL_NODE:
        out.update(
            m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == "number of output rows"
        )
    for child in plan.get("children", ()):
        _kernel_row_accums(child, out)


def read(path: Path, since: float = 0.0) -> EventLogSummary:
    """Stages submitted and tasks launched from ``since`` (epoch s) on."""
    events = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    rows_ids: set[int] = set()
    for e in events:
        if "sparkPlanInfo" in e:  # SQL execution start and adaptive plan updates
            _kernel_row_accums(e["sparkPlanInfo"], rows_ids)
    s = EventLogSummary()
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info.get("Submission Time", 0) >= since * 1e3 and "Completion Time" in info:
                s.stages.append(
                    (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3, info["Stage Name"])
                )
        if kind != "SparkListenerTaskEnd" or e["Task Info"]["Launch Time"] < since * 1e3:
            continue
        tm = e.get("Task Metrics") or {}
        s.jvm_cpu_s += (tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0)) / 1e9
        s.gc_s += tm.get("JVM GC Time", 0) / 1e3
        w = tm.get("Shuffle Write Metrics", {})
        s.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
        s.shuffle_write_s += w.get("Shuffle Write Time", 0) / 1e9
        s.fetch_wait_s += tm.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0) / 1e3
        info = e["Task Info"]
        runs_kernel = False
        for acc in info.get("Accumulables", ()):
            name = acc.get("Name")
            if name in s.python:
                s.python[name] += int(acc.get("Update", 0))
                runs_kernel = True
            elif acc.get("ID") in rows_ids:
                s.kernel_rows += int(acc.get("Update", 0))
        if runs_kernel:
            s.kernel_task_s.append((info["Finish Time"] - info["Launch Time"]) / 1e3)
    return s


def busy_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total
