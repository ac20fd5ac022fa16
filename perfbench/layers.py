"""Per-layer measurement for the traced run.

Spans are recorded from the benchmark's own code around each call into a
layer (no span lives inside `kstreamjs_spark`). Spark's scheduler layers
come from its event log, attributed to a query by job group. Streaming
phases come from each query's `recentProgress`.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PLAN_HELPERS = ("materialize_once", "widen_partitions", "broadcast_if_small")
_PYTHON_NODES = ("Python", "Pandas", "Arrow")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict


@dataclass
class Tracer:
    """In-memory spans. Off until enabled, so the plan wrappers cost one
    attribute read in untraced passes."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, attrs))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def wrap_plan_helpers(tracer: Tracer) -> None:
    """Route every call of the `kstreamjs_spark.plans` helpers through a
    span. Modules that already bound a helper by name get the wrapper too,
    so this holds whether it runs before or after the query modules are
    imported."""
    import kstreamjs_spark.plans as plans

    for name in PLAN_HELPERS:
        orig = getattr(plans, name)

        @functools.wraps(orig)
        def wrapper(*args, _orig=orig, _name=name, **kwargs):
            with tracer.span(f"plans.{_name}"):
                return _orig(*args, **kwargs)

        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("kstreamjs_spark") and (
                getattr(mod, name, None) is orig
            ):
                setattr(mod, name, wrapper)


# ------------------------------------------------------------ event log
def _union_s(intervals: list[tuple[int, int]]) -> float:
    busy, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            busy += b - a
            end = b
        elif b > end:
            busy += b - end
            end = b
    return busy / 1000.0


def read_event_log(log_dir: str) -> list[dict]:
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    events = []
    for p in paths:
        with open(p) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def spark_layers(events: list[dict], groups: set[str], cpus: int, wall_s: float) -> dict:
    """Scheduler, executor and Python-operator totals over the jobs whose
    job group is in ``groups``; ``wall_s`` is the traced wall time the
    jobs ran in, for the driver gap."""
    jobs, stage_job = {}, {}
    python_rows_ids = set()
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                jobs[ev["Job ID"]] = [ev["Submission Time"], None]
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            python_rows_ids |= _python_row_metric_ids(ev["sparkPlanInfo"])
    out = dict.fromkeys(
        (
            "spark.stages", "spark.tasks", "spark.failed_tasks", "spark.task_run_s",
            "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_write_bytes",
            "spark.shuffle_read_bytes", "spark.input_bytes", "spark.output_bytes",
            "operators.python_bytes_sent", "operators.python_bytes_received",
            "operators.python_rows_out",
        ),
        0,
    )
    stages = set()
    for ev in events:
        if ev["Event"] != "SparkListenerTaskEnd" or ev["Stage ID"] not in stage_job:
            continue
        stages.add(ev["Stage ID"])
        out["spark.tasks"] += 1
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        if info.get("Failed") or ev["Task End Reason"]["Reason"] != "Success":
            out["spark.failed_tasks"] += 1
        out["spark.task_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sw, sr = m.get("Shuffle Write Metrics", {}), m.get("Shuffle Read Metrics", {})
        out["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        out["spark.input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        out["spark.output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            upd = acc.get("Update")
            if not isinstance(upd, (int, str)) or not str(upd).lstrip("-").isdigit():
                continue
            if acc.get("Name") == "data sent to Python workers":
                out["operators.python_bytes_sent"] += int(upd)
            elif acc.get("Name") == "data returned from Python workers":
                out["operators.python_bytes_received"] += int(upd)
            elif acc.get("ID") in python_rows_ids:
                out["operators.python_rows_out"] += int(upd)
    busy = _union_s([tuple(v) for v in jobs.values() if v[1] is not None])
    out["spark.jobs"] = len(jobs)
    out["spark.stages"] = len(stages)
    out["spark.job_busy_s"] = busy
    out["spark.driver_gap_s"] = max(wall_s - busy, 0.0)
    out["spark.core_util"] = out["spark.task_run_s"] / (cpus * busy) if busy else 0.0
    return out


def _python_row_metric_ids(node: dict) -> set[int]:
    ids = set()
    if any(k in node.get("nodeName", "") for k in _PYTHON_NODES):
        ids |= {
            m["accumulatorId"]
            for m in node.get("metrics", [])
            if m.get("name") == "number of output rows"
        }
    for child in node.get("children", []):
        ids |= _python_row_metric_ids(child)
    return ids


# ------------------------------------------------------------ streaming
_PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


def trigger_ms(progress: list[dict]) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"]) for p in progress]


def streaming_layers(progress: list[dict], drain_s: float) -> dict:
    out = {"streaming.triggers": len(progress)}
    out["streaming.trigger_gap_ms"] = drain_s * 1e3 - sum(trigger_ms(progress))
    for name, key in _PHASES.items():
        out[f"streaming.{name}"] = float(
            sum(p["durationMs"].get(key, 0) for p in progress)
        )
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    last = progress[-1].get("stateOperators", []) if progress else []
    out["streaming.state_rows"] = sum(op["numRowsTotal"] for op in last)
    out["streaming.state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in last)
    out["streaming.state_commit_ms"] = float(sum(op.get("commitTimeMs", 0) for op in ops))
    out["streaming.state_update_ms"] = float(
        sum(op.get("allUpdatesTimeMs", 0) for op in ops)
    )
    out["streaming.watermark_dropped_groups"] = sum(
        op.get("numRowsDroppedByWatermark", 0) for op in ops
    )
    return out


def sink_layers(sink_dir: str) -> dict:
    files = [
        p
        for p in glob.glob(os.path.join(sink_dir, "*.parquet"))
        if not os.path.basename(p).startswith(("_", "."))
    ]
    import pyarrow.parquet as pq

    return {
        "sink.files": len(files),
        "sink.bytes": sum(os.path.getsize(p) for p in files),
        "sink.rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
    }


# ------------------------------------------------------------ processes
def forks() -> int:
    """Processes started on the host since boot (`processes` in
    /proc/stat). Without Hadoop's native library, its local file system
    starts a `readlink` process for file-status lookups, so checkpoint,
    state-store and sink writes show up here."""
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise ValueError("no processes line in /proc/stat")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")
# The JVM's own background threads, by name (cut to 15 characters): the
# JIT compilers, and G1's collector, marking and refinement threads.
_RUNTIME_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre"),
    "gc": ("GC Thread", "G1 "),
}


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name."""
    try:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM since boot, over
    all its CPUs (`steal` in /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


class ProcSampler(threading.Thread):
    """Samples this process and all its descendants (the Spark JVM, its
    Python workers and the helpers it starts) from /proc: their peak
    resident set, and the CPU time of the JVM's JIT compiler and garbage
    collector threads.

    `cpu()` gives the CPU seconds (user + system) the tree has used,
    including reaped children, and how much of that went to each kind of
    runtime thread. Runtime threads come and go, so each one's CPU is
    remembered from its last sample. Time the hypervisor steals from the
    VM is in none of them."""

    def __init__(self, period_s: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self.overhead_s = 0.0  # this sampler's own CPU
        self._kind: dict[tuple[int, int], str | None] = {}
        self._ticks: dict[tuple[int, int], int] = {}
        self._lock = threading.Lock()
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _thread_kind(self, pid: int, tid: str) -> str | None:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                comm = fh.read()
        except OSError:
            return None
        return next((k for k, pre in _RUNTIME_THREADS.items() if comm.startswith(pre)), None)

    def _sample_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for t in tids:
            key = (pid, int(t))
            if key not in self._kind:
                self._kind[key] = self._thread_kind(pid, t)
            if self._kind[key] is not None:
                f = _stat_fields(f"/proc/{pid}/task/{t}/stat")
                if f is not None:
                    self._ticks[key] = int(f[11]) + int(f[12])

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: `total` for the whole tree, and `jit` and
        `gc` for the JVM's runtime threads within it."""
        t0 = time.thread_time()
        total = rss = 0
        with self._lock:
            for pid in [os.getpid(), *descendants(os.getpid())]:
                f = _stat_fields(f"/proc/{pid}/stat")
                if f is None:
                    continue
                total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
                rss += int(f[21]) * self._page
                self._sample_threads(pid)
            out = dict.fromkeys(_RUNTIME_THREADS, 0.0) | {"total": total / _TICK}
            for key, ticks in self._ticks.items():
                out[self._kind[key]] += ticks / _TICK
            self.peak_bytes = max(self.peak_bytes, rss)
            self.overhead_s += time.thread_time() - t0
        return out

    def run(self) -> None:
        while not self._stop_evt.wait(self.period_s):
            self.cpu()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.cpu()


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile by `statistics.quantiles` (inclusive method)."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]
