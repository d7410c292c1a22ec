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
