"""Tests of the benchmark's Spark-free helpers.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def test_pass_median_takes_each_operations_median():
    passes = [[1.0, 10.0], [5.0, 2.0], [2.0, 3.0]]
    assert harness.pass_median(passes) == 2.0 + 3.0
    # the median of the pass totals (11, 7, 5) keeps the slow stretch
    assert harness.median([sum(p) for p in passes]) == 7.0
    # the one sample labelled 1 weighs a third of the first operation
    strata = [[0, 0], [1, 0], [0, 0]]
    assert harness.pass_median(passes, strata) == pytest.approx(
        (2 * 1.5 + 5.0) / 3 + 3.0)


@pytest.mark.parametrize("n, want", [(0, None), (19, None), (20, 50),
                                     (39, 50), (40, 75), (100, 90),
                                     (200, 95), (1000, 99)])
def test_supported_percentile_keeps_ten_samples_beyond(n, want):
    assert harness.supported_percentile(n) == want


def test_outcomes_count_failures_over_attempts():
    o = harness.Outcomes()
    assert o.failed_frac == 0.0
    assert o.record(True)
    assert not o.record(False, "bad row count")
    o.record(True)
    o.record(False, "raised")
    assert (o.attempted, o.failed) == (4, 2)
    assert o.failed_frac == 0.5
    assert o.errors == ["bad row count", "raised"]


STATUS = """Name:\tjava
VmPeak:\t 9000000 kB
VmHWM:\t  872024 kB
VmRSS:\t  800000 kB
"""


def test_parse_vm_kb():
    assert harness.parse_vm_kb(STATUS) == 872024
    assert harness.parse_vm_kb(STATUS, "VmRSS") == 800000
    assert harness.parse_vm_kb("Name:\tkthreadd\n") == 0


def _fake_proc(tmp_path, procs):
    for pid, (ppid, comm, hwm_kb) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(f"{pid} ({comm}) S {ppid} 1 1 0")
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_tree_hwm_sums_the_process_tree(tmp_path):
    proc = _fake_proc(tmp_path, {
        10: (1, "java", 2048),
        11: (10, "python3 -m daemon", 1024),   # command with spaces
        12: (11, "python3", 512),
        20: (1, "other", 99999),               # outside the tree
    })
    assert sorted(harness.descendants(10, proc)) == [10, 11, 12]
    assert harness.tree_hwm_mb(10, proc) == pytest.approx(3.5)


def test_tree_peak_keeps_processes_that_exit(tmp_path):
    proc = _fake_proc(tmp_path, {10: (1, "java", 2048),
                                 11: (10, "python3", 1024)})
    with harness.TreePeak(10, every=60, proc=proc) as peak:
        (tmp_path / "11" / "status").unlink()  # the worker exits
    assert peak.peak_mb == pytest.approx(3.0)


def _stat(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3-13 (state .. cmajflt), then utime stime cutime cstime
    return (f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 "
            f"{utime} {stime} {cutime} {cstime} 20 0 1 0")


def test_parse_cpu_ticks():
    assert harness.parse_cpu_ticks(_stat(7, "a b)", 1, 5, 6, 7, 8)) == 26
    assert harness.parse_thread_ticks(_stat(7, "C2", 1, 5, 6, 7, 8)) == 11
    assert harness.parse_cpu_ticks("") == 0


def test_tree_cpu_leaves_out_jit_threads(tmp_path):
    def proc(pid, ppid, ticks, threads):
        d = tmp_path / str(pid)
        (d / "task").mkdir(parents=True)
        (d / "stat").write_text(_stat(pid, "p", ppid, *ticks))
        for tid, comm, ut in threads:
            t = d / "task" / str(tid)
            t.mkdir()
            (t / "comm").write_text(comm + "\n")
            (t / "stat").write_text(_stat(tid, comm, ppid, ut, 0, 99, 99))

    proc(10, 1, (300, 100, 0, 0), [(10, "java", 50),
                                   (13, "C2 CompilerThre", 150),
                                   (14, "C1 CompilerThre", 50)])
    proc(11, 10, (40, 10, 30, 20), [(11, "python3", 50)])
    proc(20, 1, (999, 0, 0, 0), [])                      # outside the tree
    meter = harness.TreeCpu(10, proc=str(tmp_path))
    hz = os.sysconf("SC_CLK_TCK")
    # 400 + 100 of the two processes, less 200 of the compilers
    assert meter.seconds() == pytest.approx(300 / hz)
    (tmp_path / "10" / "task" / "13" / "stat").write_text(
        _stat(13, "C2 CompilerThre", 1, 250, 0))
    assert meter.seconds() == pytest.approx(200 / hz)


def _events():
    def task(finish, run_ms, cpu_ns, gc_ms, sw, rr, lr, mem, disk):
        return {"Event": "SparkListenerTaskEnd",
                "Task Info": {"Finish Time": finish},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                    "Memory Bytes Spilled": mem, "Disk Bytes Spilled": disk,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
                    "Shuffle Read Metrics": {"Remote Bytes Read": rr,
                                             "Local Bytes Read": lr}}}
    evs = [
        {"Event": "SparkListenerLogStart"},
        {"Event": "SparkListenerJobStart", "Submission Time": 500},
        {"Event": "SparkListenerJobStart", "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Submission Time": 1600},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Completion Time": 1700}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Completion Time": 400}},
        task(1700, 1000, 2_000_000_000, 10, 2 ** 20, 0, 2 ** 19, 0, 0),
        task(1800, 3000, 1_000_000_000, 30, 2 ** 20, 2 ** 19, 0, 2 ** 20, 0),
        task(5000, 9999, 9, 9, 9, 9, 9, 9, 9),  # after the window
    ]
    return [json.dumps(e) + "\n" for e in evs] + ["\n"]


def test_aggregate_event_log_sums_inside_the_window():
    agg = harness.aggregate_event_log(_events(), 1000, 2000)
    assert agg == {"jobs": 2, "stages": 1, "tasks": 2,
                   "shuffle_write_bytes": 2 ** 21,
                   "shuffle_read_bytes": 2 ** 20, "spill_bytes": 2 ** 20,
                   "gc_ms": 40, "executor_cpu_ns": 3_000_000_000,
                   "executor_run_ms": 4000}


def test_event_log_file_wants_exactly_one_log(tmp_path):
    with pytest.raises(ValueError):
        harness.event_log_file(str(tmp_path))
    (tmp_path / ".hidden.crc").write_text("")
    (tmp_path / "local-1").write_text("")
    assert harness.event_log_file(str(tmp_path)) == str(tmp_path / "local-1")
    (tmp_path / "local-2").write_text("")
    with pytest.raises(ValueError):
        harness.event_log_file(str(tmp_path))


def test_spark_layer_metrics_are_per_operation():
    agg = harness.aggregate_event_log(_events(), 1000, 2000)
    m = harness.spark_layer_metrics(agg, wall_s=1.0, cores=4, n_ops=2)
    assert m["spark.jobs"] == (1.0, "count/op")
    assert m["spark.shuffle_write_mb"] == (1.0, "MB/op")
    assert m["spark.shuffle_read_mb"] == (0.5, "MB/op")
    assert m["spark.spill_mb"] == (0.5, "MB/op")
    assert m["spark.executor_cpu_s"] == (1.5, "s/op")
    assert m["spark.gc_s"] == (0.02, "s/op")
    assert m["spark.core_busy_frac"] == (1.0, "fraction")


def test_tracer_self_time_and_disabled_noop():
    t = harness.Tracer(enabled=True)
    with t.span("warm-up"):
        pass
    t.op = 0
    with t.span("query"):
        with t.span("join.plan"):
            pass
        with t.span("join.exec"):
            pass
    assert [s["name"] for s in t.spans] == ["warm-up", "query",
                                            "join.plan", "join.exec"]
    assert t.spans[2]["parent"] == 1
    assert t.durations("warm-up") == []  # outside any operation
    total = t.durations("query")[0]
    kids = t.durations("join.plan")[0] + t.durations("join.exec")[0]
    assert t.self_times()["query"] == pytest.approx(total - kids)
    off = harness.Tracer(enabled=False)
    with off.span("query"):
        pass
    assert off.spans == [] and off.durations("query") == []


def test_per_layer_metrics_come_from_benchmark_json(tmp_path):
    layers = [{"name": "codec.decode_mb_s", "unit": "MB/s",
               "better": "higher"}]
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(
        {"per_layer": layers, "end_to_end": []}))
    assert harness.per_layer_metrics(str(tmp_path)) == layers
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    names = [m["name"] for m in harness.per_layer_metrics(root)]
    assert len(names) == len(set(names)) and "trace.overhead_s" in names
