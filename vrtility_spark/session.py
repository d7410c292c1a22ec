"""SparkSession factory with scale-oriented defaults.

Mirrors the execution-policy choices of the reference
(/root/reference/R/gdal-options.R:67-113 — one compute thread per
worker, parallelism at the process level) translated to Spark: AQE on,
Arrow on, bounded Arrow batches, shuffle partitions sized to cores.

Imported inside a PySpark worker (every engine UDF imports the
package, and the package imports this module), it also stops the
worker from re-reading its zip archives on every task. PySpark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
at the start of each task, and CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the whole central directory
of its archive, once per cached importer: a dozen importers on
``pyspark.zip`` and two on the spark-core jar (thousands of entries)
cost ~0.2 s of CPU per task. :func:`_stamp_zip_importers` makes that
re-read conditional on the archive file having changed. A freshly
forked worker still pays the full cost until its first engine UDF
imports the package.

It also freezes the worker's heap between tasks. A reused PySpark
worker returns to the daemon's loop after each task, and the daemon
runs ``gc.collect()`` there (``pyspark/daemon.py``). That full
collection walks every tracked object of the process (~74k once
pandas, pyarrow and the engine are loaded) for ~15-40 ms of CPU per
task, although almost all of them are module state that lives as long
as the worker. :func:`_freeze_after_task_gc` calls ``gc.freeze()`` at
the end of every generation-2 collection that runs while no task is
active (``TaskContext.get() is None``): the daemon's collection
between tasks. Everything it freezes has just survived a full
collection, so it is reachable; a task's cyclic garbage is collected
before the freeze, and refcount-freed objects are freed as always.
Freezing at import instead would miss pandas and pyarrow, which load
later. The trade-off: an object that outlives a task (a broadcast
value in PySpark's ``_broadcastRegistry``, a module cache entry) is
frozen, and if it later becomes unreachable as part of a reference
cycle, no collection sees it while it stays frozen. So every
:data:`UNFREEZE_EVERY`-th between-task collection starts with
``gc.unfreeze()`` and walks the whole heap again, which frees such
cycles: the leak is bounded by what a worker drops in that many tasks,
for one full walk per that many tasks.
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark import SparkFiles, TaskContext
from pyspark.sql import SparkSession

_zip_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _archive_stamp(path: str):
    """Identity of an archive file's current contents, None if it is gone."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive
    directory only when the file was replaced or rewritten since this
    importer last read it."""
    stamp = _archive_stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _zip_invalidate_caches(self)
        self._archive_stamp = stamp


def _stamp_zip_importers() -> None:
    """Install :func:`_invalidate_if_changed` for every ``zipimporter``
    of this process, and stamp the importers already cached as read."""
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._archive_stamp = _archive_stamp(importer.archive)
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


UNFREEZE_EVERY = 16
_between_task_gcs = 0


def _freeze_after_task_gc(phase: str, info: dict) -> None:
    """``gc.callbacks`` entry: freeze the heap once a full collection
    between two tasks has finished, and unfreeze it before every
    :data:`UNFREEZE_EVERY`-th such collection starts (see the module
    docstring)."""
    global _between_task_gcs
    if info["generation"] != 2 or TaskContext.get() is not None:
        return
    if phase == "start":
        if _between_task_gcs % UNFREEZE_EVERY == 0:
            gc.unfreeze()
        _between_task_gcs += 1
    else:
        gc.freeze()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode twin of
    ``spark-submit --py-files vrtility_spark.zip``).

    Without this, Arrow UDFs deserialize on executor workers that may
    not share the driver's ``sys.path``."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # per-checkout zip name: a fixed machine-wide path lets one clone
    # ship another clone's (or another user's) code to its executors
    import hashlib
    tag = hashlib.sha1(pkg_dir.encode()).hexdigest()[:12]
    zpath = os.path.join(tempfile.gettempdir(),
                         f"vrtility_spark_pyfiles_{tag}.zip")
    # rebuild when any source file is newer than the zip (a stale zip
    # ships old code to executors — ModuleNotFoundError at best, silent
    # old behavior at worst)
    src_mtime = max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files if f.endswith((".py", ".npz")))
    # stale → rebuild into a pid-suffixed tmp and atomically replace;
    # NEVER remove-first: a concurrent driver between the remove and
    # the replace would addPyFile a missing path (FileNotFound)
    if not os.path.exists(zpath) or os.path.getmtime(zpath) < src_mtime:
        tmp = zpath + f".{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith((".py", ".npz")):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        z.write(full, rel)
        os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)


def get_spark(
    app_name: str = "vrtility_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default ``local[*]``).
    On a real cluster these same configs apply; only ``master`` changes
    (spark-submit supplies it).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(n, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's default 64 MB advisory size is calibrated for scan-heavy
        # SQL; pixel-UDF stages are CPU-heavy per byte, and coalescing a
        # 200 MB composite shuffle into 3 tasks serializes the cluster
        # (measured 1.4x slowdown at local[8]). 4 MB keeps grouped-map
        # stages wide while still merging truly tiny partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound per-batch memory in pixel UDFs (reference sizes tiles to
        # RAM a priori, R/tiling.R:41-64; we bound the Arrow batch instead)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # bucketed tables (co-located cell joins) need a warehouse; keep
        # it out of the repo — deployments override via env
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               os.path.join(tempfile.gettempdir(),
                                            "vrtility_warehouse")))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        # a fixed JIT compiler pool: by default HotSpot starts and retires
        # compiler threads as its queue swings, and a retired thread's
        # CPU time folds into the process total at that moment, so a
        # process CPU reading that leaves the compilers out jumps by
        # seconds inside whatever query is running. defaultJavaOptions,
        # so a caller's extraJavaOptions does not drop it.
        .config("spark.driver.defaultJavaOptions",
                "-XX:-UseDynamicNumberOfCompilerThreads")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


if SparkFiles._is_running_on_worker:
    _stamp_zip_importers()
    if _freeze_after_task_gc not in gc.callbacks:
        gc.callbacks.append(_freeze_after_task_gc)
