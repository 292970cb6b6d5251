"""Benchmark-side tracing: spans around calls into the program's layers,
Spark job/stage/task counts per operation, and CPU/RSS of the process
tree read from ``/proc``.

Nothing here reaches into the program or into private PySpark
attributes: layers are traced by wrapping their public module
attributes and methods in place for the duration of a traced run, job
counts come from ``SparkContext.setJobGroup`` + ``statusTracker()``,
and the JVM and Python workers are found as descendants of this
process in ``/proc``.
"""

from __future__ import annotations

import functools
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# /proc: the benchmark's process tree (driver, JVM, Python workers)
# ---------------------------------------------------------------------------

def proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                data = fh.read()
        except OSError:  # exited while listing
            continue
        f = data[data.rindex(")") + 2:].split()
        # f[1] ppid; f[11..14] utime stime cutime cstime; f[21] rss
        out[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]), int(f[21]))
    return out


def tree_pids(root: int | None = None,
              table: dict | None = None) -> list[int]:
    root = root or os.getpid()
    table = table if table is not None else proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(cpu seconds, rss MB) summed over the process tree. A process's
    cutime/cstime already holds its reaped children, so nothing is
    counted twice."""
    table = proc_table()
    pids = tree_pids(root, table)
    cpu = sum(table[p][1] for p in pids) / _TICK
    rss = sum(table[p][2] for p in pids) * _PAGE / 2**20
    return cpu, rss


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (0 where the kernel does not report it)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / _TICK if len(f) > 8 else 0.0


class RssSampler:
    """Peak RSS of the process tree, sampled on a background thread
    (every half second: each sample reads all of ``/proc`` while holding
    the GIL the client thread needs)."""

    def __init__(self, interval: float = 0.5):
        self.peak_mb = 0.0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_usage()[1])
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_usage()[1])


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, op id, attrs).

    ``wrap`` replaces a module attribute or class method with a timing
    wrapper until ``restore``; ``enabled`` gates recording so one run can
    interleave traced and untraced operations through the same wrappers.
    Spans are only recorded on the thread that drives the workload."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def start(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "op": self.op_id})
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def wrap(self, owner, attr: str, name, on_result=None) -> None:
        """Trace ``owner.attr``. ``name`` is a span name or a callable
        (args, kwargs) -> span name; ``on_result(result)`` returns extra
        span attributes read from the return value."""
        orig = vars(owner)[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            idx = tracer.start(span_name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer.end(idx)
            if idx is not None and on_result is not None:
                tracer.spans[idx].update(on_result(result))
            return result

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: total self time in seconds (duration minus the
    duration of its direct children; spans come from one thread, so
    children never overlap)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = {}
    for i, s in enumerate(spans):
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[i])
    return out


# ---------------------------------------------------------------------------
# Spark job counts per operation
# ---------------------------------------------------------------------------

class JobCounter:
    """Tags each operation with its own job group and reads the jobs,
    stages and tasks it ran from the public status tracker."""

    def __init__(self, sc):
        self._sc = sc
        self._n = 0

    def tag(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self._sc.setJobGroup(group, label)
        return group

    def counts(self, group: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks completed) for one group. Skipped
        stages (reused shuffle output) have no completed tasks and are
        not counted."""
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for sid in stage_ids:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks
        return len(jobs), stages, tasks
