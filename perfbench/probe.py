"""Measurement helpers: spans, percentiles, process-tree memory and I/O,
host CPU steal, and Spark's own counters (status store, query-planning
tracker).

Everything here observes the program from outside; nothing patches it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import urllib.request

# ---------------------------------------------------------------------------
# percentiles


def p50_and_tail(samples: list[float]) -> dict[str, float]:
    """Median and the highest percentile with at least ten samples beyond
    it (never below the median), with that percentile and the count."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    med = statistics.median(xs)
    if n < 21:
        return {"p50": med, "tail": med, "tail_pct": 50.0, "n": n}
    return {"p50": med, "tail": xs[n - 11], "tail_pct": round(100 * (n - 10) / n, 2), "n": n}


# ---------------------------------------------------------------------------
# spans


class Tracer:
    """Spans kept in memory: name, start, end, parent and operation id.

    A disabled tracer records nothing, so the untraced run pays only a
    context-manager call per span.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op = 0

    def new_op(self) -> int:
        self._op += 1
        return self._op

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = self.spans[parent]["op"] if parent is not None else 0
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "op": op})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name of time not covered by child spans."""
        child_cover = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child_cover[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, cover in zip(self.spans, child_cover):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - cover
        return out

    def op_accounting(self, is_layer) -> dict[str, float]:
        """Wall time of the root spans, and the share of it that is self
        time of layer spans (``is_layer(name)``). The rest is the
        benchmark's own glue: pass and operation roots, and the checks
        between calls."""
        wall = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        layer = sum(t for name, t in self.self_times().items() if is_layer(name))
        ops = len({s["op"] for s in self.spans})
        return {"ops": ops, "wall_s": wall, "layer_self_s": layer,
                "accounted": layer / wall if wall else 0.0}


# ---------------------------------------------------------------------------
# process tree: resident memory and bytes written


def _parents() -> dict[int, int]:
    """ppid of every live process."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def process_tree(parent: dict[int, int] | None = None) -> list[int]:
    """This process and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in (parent or _parents()).items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(parent: dict[int, int]) -> dict[int, int]:
    """Resident bytes of each live process in this process tree.

    A JVM starts each Python worker by forking itself and then exec'ing
    Python; until the exec the child is a copy of the JVM whose resident
    pages are the parent's, shared copy-on-write. Such a child (same
    ``java`` executable as its parent) is left out so it is not counted
    twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in process_tree(parent):
        exe = _exe(pid)
        if exe and os.path.basename(exe) == "java" and exe == _exe(parent.get(pid, 0)):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                out[pid] = int(fh.read().split()[1]) * page
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


def tree_write_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/io") as fh:
                for line in fh:
                    if line.startswith("write_bytes:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of this process and all its
    descendants (driver, JVM, Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        #: resident MB per process name at the peak
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            rss = tree_rss_bytes(_parents())
            total = sum(rss.values())
            if total > self.peak:
                self.peak = total
                by_name: dict[str, float] = {}
                for pid, b in rss.items():
                    name = _comm(pid)
                    by_name[name] = by_name.get(name, 0.0) + b / 2**20
                self.at_peak = by_name
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies (user, nice, system, idle, iowait, irq,
    softirq, steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


# ---------------------------------------------------------------------------
# Spark counters

_STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "task_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write": "shuffleWriteBytes",
    "shuffle_read": "shuffleReadBytes",
    "spill_mem": "memoryBytesSpilled",
    "spill_disk": "diskBytesSpilled",
}


class SparkCounters:
    """Cumulative job and stage counters from the status store, read
    through the local UI's REST endpoint."""

    def __init__(self, spark):
        self.spark = spark
        port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
        self.base = (
            f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"
        )

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def _drain_listener_bus(self) -> None:
        # the status store is fed asynchronously; wait until it has
        # seen every event posted so far
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict:
        self._drain_listener_bus()
        jobs = self._get("/jobs")
        stages = self._get("/stages?status=complete")
        tot = {k: sum(s.get(f, 0) or 0 for s in stages) for k, f in _STAGE_FIELDS.items()}
        tot["jobs"] = len(jobs)
        return tot

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in after}


def exec_metrics(delta: dict, wall_s: float, cores: int) -> dict[str, float]:
    mb = 1024 * 1024
    task_s = delta["task_ms"] / 1000
    return {
        "exec.jobs": delta["jobs"],
        "exec.tasks": delta["tasks"],
        "exec.task_s": task_s,
        "exec.cpu_s": delta["cpu_ns"] / 1e9,
        "exec.gc_s": delta["gc_ms"] / 1000,
        "exec.core_util": task_s / (wall_s * cores) if wall_s else 0.0,
        "exec.shuffle_write_mb": delta["shuffle_write"] / mb,
        "exec.shuffle_read_mb": delta["shuffle_read"] / mb,
        "exec.spill_mb": (delta["spill_mem"] + delta["spill_disk"]) / mb,
    }


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds from the
    query-planning tracker of a DataFrame the caller holds."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out
