from __future__ import annotations

import os
import subprocess
import sys


def test_driver_jit_compiler_pool_is_fixed(spark):
    """``get_spark`` starts the driver JVM with a fixed JIT compiler
    pool. HotSpot's default pool starts and retires compiler threads
    while queries run, so compiler work comes and goes at random points
    of an operation."""
    jvm = spark._jvm
    cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(cls)
    assert bean.getVMOption("UseDynamicNumberOfCompilerThreads").getValue() == "false"
    # set as the default options, so a caller's extraJavaOptions keeps it
    conf = spark.sparkContext.getConf()
    assert "-XX:-UseDynamicNumberOfCompilerThreads" in conf.get(
        "spark.driver.defaultJavaOptions")


_ZIP_SCRIPT = """
import importlib, os, sys, zipfile, zipimport
from vrtility_spark import session

arch = sys.argv[1]


def build(path, mods):
    with zipfile.ZipFile(path, "w") as z:
        for m in mods:
            z.writestr(m + ".py", "X = 1\\n")


build(arch, ["zmod_a"])
sys.path.insert(0, arch)
import zmod_a  # noqa: E402,F401  (caches a zipimporter for arch)

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: (reads.append(p), read_directory(p))[1]
importlib.invalidate_caches()
assert reads.count(arch) == 1, reads  # stock CPython: a full re-read

session._stamp_zip_importers()
importlib.invalidate_caches()
importlib.invalidate_caches()
assert reads.count(arch) == 1, reads  # unchanged archive: no re-read

build(arch + ".new", ["zmod_a", "zmod_b"])
os.replace(arch + ".new", arch)
importlib.invalidate_caches()
assert reads.count(arch) == 2, reads  # replaced archive: read once more
import zmod_b  # noqa: E402,F401  (the added module imports)
importlib.invalidate_caches()
assert reads.count(arch) == 2, reads
"""


def test_zip_stamps_reread_only_changed_archives(tmp_path):
    """With the worker's archive guard installed,
    ``importlib.invalidate_caches()`` re-reads no unchanged archive
    directory, and still re-reads one that was replaced, whose new
    module then imports. Runs in its own interpreter: the guard patches
    ``zipimporter`` for the whole process."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    r = subprocess.run([sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path / "a.zip")],
                       env=env, capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr


def test_worker_has_zip_stamps_driver_does_not(spark):
    """A Python worker that imports the package runs with the archive
    guard installed and its cached zip importers stamped; the driver
    keeps CPython's own ``zipimporter.invalidate_caches``."""
    import zipimport

    import pandas as pd

    from vrtility_spark import session

    def probe(batches):
        import sys
        import zipimport

        from vrtility_spark import session
        zips = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)]
        for _ in batches:
            yield pd.DataFrame({
                "hooked": [zipimport.zipimporter.invalidate_caches
                           is session._invalidate_if_changed],
                "stamped": [sum(hasattr(i, "_archive_stamp") for i in zips)]})

    rows = spark.range(2).mapInPandas(probe, "hooked boolean, stamped long").collect()
    assert rows and all(r.hooked and r.stamped > 0 for r in rows)
    assert zipimport.zipimporter.invalidate_caches is session._zip_invalidate_caches


def _rounds(spark, probe, n_tasks=8, rounds=3):
    """Run ``probe`` as one task per partition, ``rounds`` jobs one after
    another; the reused Python workers run tasks of several jobs."""
    sc = spark.sparkContext
    return [row for _ in range(rounds)
            for row in sc.parallelize(range(n_tasks), n_tasks)
            .mapPartitions(probe).collect()]


def test_worker_heap_is_frozen_between_tasks(spark):
    """In a worker that already ran a task, the daemon's collection
    between tasks froze the heap: the next task finds a permanent
    generation and only its own few objects tracked."""

    def probe(_):
        import gc
        import sys

        import vrtility_spark  # noqa: F401  (installs the freeze hook)
        before = getattr(sys, "_vrt_probe_tasks", 0)
        sys._vrt_probe_tasks = before + 1
        yield before, gc.get_freeze_count(), len(gc.get_objects())

    rows = _rounds(spark, probe)
    later = [r for r in rows if r[0] > 0]
    assert later, rows
    assert all(frozen > 0 and tracked < 2000 for _, frozen, tracked in later), later


def test_cyclic_garbage_of_a_task_is_collected(spark):
    """An object that references itself, made in one task and reachable
    afterwards only through a weakref, is gone when the next task of
    the same worker runs: the collection runs before the freeze."""

    def probe(_):
        import sys
        import weakref

        import vrtility_spark  # noqa: F401

        class Cycle:
            pass

        ref = getattr(sys, "_vrt_probe_ref", None)
        seen = None if ref is None else ref() is None
        c = Cycle()
        c.me = c
        sys._vrt_probe_ref = weakref.ref(c)
        yield seen

    seen = [s for s in _rounds(spark, probe) if s is not None]
    assert seen and all(seen), seen


def test_frozen_cycle_dropped_later_is_collected(spark):
    """A cycle held in module state across a task boundary is frozen;
    dropped in a later task, it is dead once the worker has run
    ``UNFREEZE_EVERY`` more tasks: the periodic unfreeze lets a full
    collection walk it again."""
    from vrtility_spark.session import UNFREEZE_EVERY

    def probe(_):
        import sys
        import weakref

        import vrtility_spark  # noqa: F401

        class Cycle:
            pass

        k = getattr(sys, "_vrt_held_tasks", 0)
        sys._vrt_held_tasks = k + 1
        if k == 0:
            c = Cycle()
            c.me = c
            sys._vrt_held = c
            sys._vrt_held_ref = weakref.ref(c)
        elif k == 1:
            del sys._vrt_held
        yield k, sys._vrt_held_ref() is None

    rows = _rounds(spark, probe, rounds=2 * UNFREEZE_EVERY)
    late = [dead for k, dead in rows if k > UNFREEZE_EVERY + 2]
    assert late and all(late), rows


def test_driver_has_no_freeze_callback():
    import gc

    from vrtility_spark import session
    assert session._freeze_after_task_gc not in gc.callbacks


def test_dataframe_call_site_capture_is_off(spark):
    """``get_spark`` turns off PySpark's per-call call-site capture, so
    a ``Column`` or ``functions`` call costs no extra py4j round trips."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
