"""CPU and RSS of this process and all its descendants, read from /proc.

The tree is the benchmark's driver process, the Spark JVM it launches and
the PySpark daemon with its forked workers.  Processes come and go during a
job, so a background thread samples the tree and keeps each member's last
reading:

- a member's CPU is its own time plus the time of children it reaped;
- when a member dies and its member parent reaped it, its time lives on in
  the parent's reaped-children counter and moves to the parent's kind;
- when it dies unreaped by a member (an orphaned worker at shutdown), its
  last reading is kept.

So a whole-tree total misses only what a dying orphan used after its last
sample.

With ``threads=True`` the sampler also reads each JVM thread and sums CPU
by thread class (``JVM_THREADS``), keeping a dead thread's last reading.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")

KINDS = ("driver", "jvm", "python", "other")
# summed-RSS groups whose peaks are tracked: the whole tree; the driver and
# the JVM, which holds the persisted chunk; the PySpark daemon and workers
RSS_GROUPS = {"tree": KINDS, "driver+jvm": ("driver", "jvm"), "python": ("python",)}
# JVM thread classes, reported as "jvm.<class>" CPU beside the kinds: the JIT
# compilers; garbage collection; the task threads; and the rest (py4j calls
# from the Python driver, query planning, scheduling, RPC)
JVM_THREADS = ("jit", "gc", "task", "driver")


def _read_stat(pid: str):
    """(ppid, own ticks, reaped-children ticks, start time, rss pages)."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read()
    rest = raw[raw.rindex(b")") + 2 :].split()
    return (
        int(rest[1]),
        int(rest[11]) + int(rest[12]),
        int(rest[13]) + int(rest[14]),
        int(rest[19]),
        int(rest[21]),
    )


def _read_threads(pid: int) -> dict[tuple[int, int], tuple[str, int]]:
    """(tid, start time) -> (thread class, own ticks) of one process."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read()
            rest = raw[raw.rindex(b")") + 2 :].split()
            name = raw[raw.index(b"(") + 1 : raw.rindex(b")")]
            out[(int(tid), int(rest[19]))] = (_thread_class(name), int(rest[11]) + int(rest[12]))
        except (OSError, ValueError, IndexError):
            pass  # exited while listing
    return out


def _thread_class(name: bytes) -> str:
    if name.startswith((b"C1 CompilerThre", b"C2 CompilerThre")):
        return "jit"
    if name.startswith((b"GC Thread", b"G1 ", b"VM Thread")):
        return "gc"
    if name.startswith(b"Executor task"):
        return "task"
    return "driver"


def _kind_of(pid: int, root: int) -> str:
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            argv = f.read().split(b"\0")
    except OSError:
        return "other"
    if os.path.basename(argv[0]) == b"java":
        return "jvm"
    if any(b"pyspark.daemon" in a or b"pyspark.worker" in a for a in argv):
        return "python"
    return "other"


@dataclass
class _Member:
    kind: str
    ppid: int
    own: int
    kids: int
    rss: int


@dataclass
class Usage:
    """Tree usage between two marks."""

    # by kind; also "sampler" (this sampler's own CPU, not in "driver") and,
    # when threads are sampled, "jvm.<thread class>"
    cpu_s: dict[str, float]
    peak_rss_mb: dict[str, float]  # by RSS_GROUPS name

    @property
    def total_cpu_s(self) -> float:
        return sum(self.cpu_s[k] for k in KINDS)


@dataclass
class _Mark:
    cpu: dict[str, float]
    peak: dict[str, float] = field(default_factory=lambda: dict.fromkeys(RSS_GROUPS, 0.0))


class ProcTree:
    """Background sampler of the process tree rooted at this process.

    ``mark()`` starts an interval and ``since(mark)`` ends it, returning CPU
    per process kind and the peak summed RSS of each group seen in between.  The
    sampler's own CPU is subtracted from the driver.
    """

    def __init__(self, interval: float = 0.1, threads: bool = False):
        self.root = os.getpid()
        self.interval = interval
        self.threads = threads
        self._thread_ticks: dict[tuple[int, int], tuple[str, int]] = {}
        self._members: dict[tuple[int, int], _Member] = {}
        self._gone = {k: 0 for k in KINDS}  # ticks of dead members, by kind
        self._sampler_cpu = 0.0
        self._lock = threading.Lock()
        self._marks: list[_Mark] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "ProcTree":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="proctree", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            t = time.thread_time()
            self.sample()
            with self._lock:
                self._sampler_cpu += time.thread_time() - t

    def sample(self) -> None:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    stats[int(name)] = _read_stat(name)
                except (OSError, ValueError, IndexError):
                    pass  # exited while listing
        with self._lock:
            self._update(stats)
            jvms = [pid for (pid, _), m in self._members.items() if m.kind == "jvm"] if self.threads else []
        if jvms:
            seen = {}
            for pid in jvms:
                seen.update(_read_threads(pid))
            with self._lock:
                self._thread_ticks.update(seen)

    def _update(self, stats: dict) -> None:
        children: dict[int, list[int]] = {}
        for pid, st in stats.items():
            children.setdefault(st[0], []).append(pid)
        alive = {(pid, stats[pid][3]) for pid in (self.root,) if pid in stats}
        # members stay members after reparenting; their descendants join
        alive |= {key for key in self._members if stats.get(key[0], (0, 0, 0, -1))[3] == key[1]}
        stack = [pid for pid, _ in alive]
        while stack:
            for c in children.get(stack.pop(), ()):
                key = (c, stats[c][3])
                if key not in alive:
                    alive.add(key)
                    stack.append(c)
        prev = self._members
        now: dict[tuple[int, int], _Member] = {}
        for pid, start in alive:
            ppid, own, kids, _, rss = stats[pid]
            old = prev.get((pid, start))
            # a launcher script may exec the JVM, so "other" is looked up again
            kind = old.kind if old and old.kind != "other" else _kind_of(pid, self.root)
            now[(pid, start)] = _Member(kind, ppid, own, kids, rss)
        parents = {key[0]: (key, m) for key, m in now.items()}
        for key, m in prev.items():
            if key in now:
                continue
            reaper = parents.get(m.ppid)
            old_reaper = prev.get(reaper[0]) if reaper else None
            if reaper and old_reaper and reaper[1].kids > old_reaper.kids:
                # reaped by a member: the time is inside its kids counter now
                self._gone[m.kind] += m.own + m.kids
                self._gone[reaper[1].kind] -= m.own + m.kids
            else:
                self._gone[m.kind] += m.own + m.kids
        self._members = now
        # a member's RSS counts from its second sample on: a process the JVM
        # spawns shares the JVM's pages until it execs, so counting it in its
        # first sample would count the JVM twice
        settled = [m for key, m in now.items() if key in prev]
        for group, kinds in RSS_GROUPS.items():
            rss_mb = sum(m.rss for m in settled if m.kind in kinds) * _PAGE / 1e6
            for mk in self._marks:
                mk.peak[group] = max(mk.peak[group], rss_mb)

    def _cpu(self) -> dict[str, float]:
        ticks = dict(self._gone)
        for m in self._members.values():
            ticks[m.kind] += m.own + m.kids
        for cls, t in self._thread_ticks.values():
            ticks[f"jvm.{cls}"] = ticks.get(f"jvm.{cls}", 0) + t
        cpu = {k: v / _TICK for k, v in ticks.items()}
        cpu["driver"] -= self._sampler_cpu
        cpu["sampler"] = self._sampler_cpu
        return cpu

    def mark(self) -> _Mark:
        self.sample()
        with self._lock:
            mk = _Mark(self._cpu())
            self._marks.append(mk)
        self.sample()
        return mk

    def since(self, mk: _Mark) -> Usage:
        self.sample()
        with self._lock:
            self._marks.remove(mk)
            end = self._cpu()
        return Usage({k: end[k] - mk.cpu.get(k, 0.0) for k in end}, mk.peak)

    def live_descendants(self) -> list[int]:
        self.sample()
        with self._lock:
            return [pid for pid, _ in self._members if pid != self.root]
