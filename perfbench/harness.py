"""Spark-free helpers of the benchmark: medians, failure counting,
memory readings from ``/proc``, span tracing and event-log aggregation.

Everything here is plain Python so ``perfbench/test_harness.py`` can
test it without a Spark session.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from statistics import median


# ---------------------------------------------------------------- stats

def pass_median(pass_ops, strata=None) -> float:
    """Time of one pass as the sum, over the operations of a pass, of
    each operation's median across passes. A slow stretch of a shared
    machine that hits a different operation in each pass drops out of
    every median, where it would stay in the median of pass totals.

    ``strata``, shaped like ``pass_ops``, labels each latency; an
    operation's figure is then the median of each label's samples
    weighted by that label's share, so inputs that make up a third of
    the runs weigh a third even when none of them is the middle
    sample."""
    if strata is None:
        return sum(median(col) for col in zip(*pass_ops))
    total = 0.0
    for col, labels in zip(zip(*pass_ops), zip(*strata)):
        groups: dict = {}
        for x, label in zip(col, labels):
            groups.setdefault(label, []).append(x)
        total += sum(len(g) * median(g) for g in groups.values()) / len(col)
    return total


def supported_percentile(n: int, min_beyond: int = 10,
                         candidates=(99, 95, 90, 75, 50)):
    """Highest candidate percentile that leaves at least ``min_beyond``
    of ``n`` samples above it (40 samples support p75, 20 support p50);
    None when even the median lacks that many."""
    for p in candidates:
        if n * (100 - p) / 100.0 >= min_beyond:
            return p
    return None


class Outcomes:
    """Operations attempted and failed; an operation fails when it
    raises or its output check does not hold."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def per_layer_metrics(root: str) -> list[dict]:
    """The ``per_layer`` entries of ``BENCHMARK.json`` under ``root``."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)["per_layer"]


# ------------------------------------------------------ /proc memory

def parse_vm_kb(status_text: str, field: str = "VmHWM") -> int:
    """Value in kB of one ``/proc/<pid>/status`` field; 0 if absent
    (kernel threads and exited processes have no Vm* lines)."""
    for line in status_text.splitlines():
        if line.startswith(field + ":"):
            return int(line.split()[1])
    return 0


def _read(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the process exited between listing and reading
        return ""


def descendants(root_pid: int, proc: str = "/proc") -> list[int]:
    """``root_pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        stat = _read(os.path.join(proc, name, "stat"))
        if not stat:
            continue
        # the command name in field 2 may hold spaces: split after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def parse_cpu_ticks(stat_text: str) -> int:
    """utime + stime + cutime + cstime of one ``/proc/<pid>/stat``, in
    clock ticks: the process's own CPU time and that of its reaped
    children, so the sum over a tree does not drop when a child exits.
    Time the hypervisor stole from the CPU is not in it."""
    if not stat_text:
        return 0
    f = stat_text.rsplit(")", 1)[1].split()
    return sum(int(x) for x in f[11:15])


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # as comm shows them


def parse_thread_ticks(stat_text: str) -> int:
    """utime + stime of one ``/proc/<pid>/task/<tid>/stat``, in clock
    ticks (a thread's cutime/cstime fields are its whole process's)."""
    if not stat_text:
        return 0
    f = stat_text.rsplit(")", 1)[1].split()
    return int(f[11]) + int(f[12])


class TreeCpu:
    """CPU seconds a process tree has used, less the time of the JVM's
    JIT compiler threads.

    The compilers run in the background for minutes after start and
    take whatever CPU is idle, so their share of an operation swings
    with the load of the machine, not with the work the operation
    does."""

    def __init__(self, root_pid: int, proc: str = "/proc"):
        self.root_pid, self.proc = root_pid, proc
        self._excluded: dict[str, bool] = {}  # task dir -> excluded

    def _excluded_ticks(self, pid: int) -> int:
        base = os.path.join(self.proc, str(pid), "task")
        try:
            tids = os.listdir(base)
        except OSError:
            return 0
        ticks = 0
        for tid in tids:
            path = os.path.join(base, tid)
            hit = self._excluded.get(path)
            if hit is None:
                hit = _read(os.path.join(path, "comm")).startswith(
                    JIT_THREADS)
                self._excluded[path] = hit
            if hit:
                ticks += parse_thread_ticks(_read(os.path.join(path, "stat")))
        return ticks

    def seconds(self) -> float:
        ticks = 0
        for p in descendants(self.root_pid, self.proc):
            ticks += parse_cpu_ticks(_read(os.path.join(self.proc, str(p),
                                                        "stat")))
            ticks -= self._excluded_ticks(p)
        return ticks / os.sysconf("SC_CLK_TCK")


def tree_hwm_mb(root_pid: int, proc: str = "/proc") -> float:
    """Sum of the peak resident sizes (VmHWM) of a process tree, MB."""
    kb = sum(parse_vm_kb(_read(os.path.join(proc, str(p), "status")))
             for p in descendants(root_pid, proc))
    return kb / 1024.0


class TreePeak:
    """Largest ``tree_hwm_mb`` seen while sampling every ``every``
    seconds on a thread. Idle Python workers exit after a minute, so a
    single reading at the end would miss the ones that have gone."""

    def __init__(self, root_pid: int, every: float = 0.5,
                 proc: str = "/proc"):
        self.root_pid, self.every, self.proc = root_pid, every, proc
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb,
                           tree_hwm_mb(self.root_pid, self.proc))

    def _loop(self) -> None:
        while not self._stop.wait(self.every):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


# ------------------------------------------------------------ tracing

class Tracer:
    """Spans kept in memory and written out when the run ends.

    A span records name, start, end, its parent span and the operation
    it belongs to. With ``enabled=False`` every call is a no-op, so the
    untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        """Durations of the finished ``name`` spans that belong to an
        operation; spans of checks and warm-up passes have none."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and s["op"] is not None]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part its child spans cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_time_s": self.self_times()}, f)


# ------------------------------------------------------ Spark event log

def event_log_file(log_dir: str) -> str:
    """The one application event log Spark wrote under ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise ValueError(f"expected one event log in {log_dir}, "
                         f"found {sorted(names)}")
    return os.path.join(log_dir, names[0])


def aggregate_event_log(lines, t0_ms: float, t1_ms: float) -> dict:
    """Sum a Spark event log (JSON lines) over the window
    ``[t0_ms, t1_ms]`` of wall-clock epoch milliseconds.

    Jobs count by submission time, stages and tasks by completion
    time. Returns counts, byte totals and milliseconds/nanoseconds as
    Spark records them."""
    agg = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "gc_ms": 0,
           "executor_cpu_ns": 0, "executor_run_ms": 0}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t0_ms <= ev.get("Submission Time", -1) <= t1_ms:
                agg["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev.get("Stage Info", {})
            if t0_ms <= info.get("Completion Time", -1) <= t1_ms:
                agg["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            fin = ev.get("Task Info", {}).get("Finish Time", -1)
            if not t0_ms <= fin <= t1_ms:
                continue
            m = ev.get("Task Metrics") or {}
            agg["tasks"] += 1
            agg["executor_run_ms"] += m.get("Executor Run Time", 0)
            agg["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            agg["gc_ms"] += m.get("JVM GC Time", 0)
            agg["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
    return agg


def spark_layer_metrics(agg: dict, wall_s: float, cores: int,
                        n_ops: int) -> dict:
    """Per-operation ``spark.*`` metrics from an aggregated event log;
    ``core_busy_frac`` is executor run time over wall x cores."""
    per = 1.0 / max(n_ops, 1)
    mb = 1.0 / 2 ** 20
    return {
        "spark.jobs": (agg["jobs"] * per, "count/op"),
        "spark.stages": (agg["stages"] * per, "count/op"),
        "spark.tasks": (agg["tasks"] * per, "count/op"),
        "spark.shuffle_write_mb": (agg["shuffle_write_bytes"] * mb * per,
                                   "MB/op"),
        "spark.shuffle_read_mb": (agg["shuffle_read_bytes"] * mb * per,
                                  "MB/op"),
        "spark.spill_mb": (agg["spill_bytes"] * mb * per, "MB/op"),
        "spark.gc_s": (agg["gc_ms"] / 1e3 * per, "s/op"),
        "spark.executor_cpu_s": (agg["executor_cpu_ns"] / 1e9 * per, "s/op"),
        "spark.core_busy_frac": (
            agg["executor_run_ms"] / 1e3 / max(wall_s * cores, 1e-9),
            "fraction"),
    }
