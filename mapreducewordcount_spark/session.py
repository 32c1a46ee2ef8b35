"""SparkSession factory with scale-aware defaults.

Replaces the reference's process launcher + config loader
(``src/launcher.py:7-55``, ``src/driver.py:12-22``): instead of
spawning a Flask driver and N polling workers, we build one
SparkSession and let Spark own scheduling, shuffle and fault
tolerance (SURVEY.md §2.2).

The defaults here are chosen to be correct on ``local[N]`` (N from
``SPARK_GRAFT_CPUS``, else the host's cores) for the test scale
factors *and* to be the right starting point on a real multi-executor
cluster at 100 TB:

- **AQE on** (runtime partition coalescing, skew-join splitting):
  the reference's ``ord(first_char) % M`` partitioner is
  pathologically skewed (SURVEY.md §1.4) and real word/key
  distributions are Zipfian — AQE's skew handling is the first line
  of defense before explicit salting.
- **shuffle.partitions** sized from the env (cores locally; on a
  cluster this should be ~2-3× total cores — AQE coalesces down).
- **file splits** keep Spark's defaults: a session-wide
  ``files.minPartitionNum`` would reach every file scan, so the
  word-count sink sets it around its own action only
  (``sources/text.py``, ``per_file_splits``).
- **Arrow enabled** so any unavoidable Python stage (parity
  tokenizer, embedding UDFs) pays batch, not per-row, serde cost.
- **zip directories re-read only when the archive changed.** A reused
  Python worker runs ``importlib.invalidate_caches()`` before every
  task, and before Python 3.13 each ``zipimporter`` on the worker's
  path then re-reads its archive's central directory: Spark's core jar
  (~5,000 entries, read twice), ``pyspark.zip`` (once per subpackage)
  and the shipped package, ~0.2 s of CPU per task. On 3.13+ the call
  only drops the cached directory, and the next lookup reads it if
  needed. The package's import hook (``_skip_unchanged_zip_rereads``)
  keeps the cached directory while the archive's stat is unchanged.
- **session timezone UTC** so timestamp semantics match the DuckDB
  oracle and are deployment-independent.
- **a per-session warehouse directory** under the temp dir, unless the
  caller passes ``spark.sql.warehouse.dir``: Spark's default is
  ``<cwd>/spark-warehouse``, so a catalog table written from a
  checkout (``sources/bucketed.py``) would land inside it. The
  directory is removed when the Python process exits.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

#: broadcast anything under 64 MB — region/nation/supplier-style dims
#: stay broadcast even at 100 TB fact scale (dims grow slowly).
_BROADCAST_THRESHOLD = 64 * 1024 * 1024


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(app_name: str = "mapreducewordcount_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    ``master`` honours an existing cluster deployment (spark-submit
    sets it); standalone runs fall back to ``local[N]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(_BROADCAST_THRESHOLD))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # TIMESTAMP(NANOS) parquet (events.ts) reads as long; the
        # events loader converts to timestamp at microsecond precision
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_HOME_CLUSTER" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    extra_conf = extra_conf or {}
    if "spark.sql.warehouse.dir" not in extra_conf:
        warehouse = tempfile.mkdtemp(prefix="mrwc-warehouse-")
        atexit.register(shutil.rmtree, warehouse, True)
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (``--py-files`` analog).

    Python workers deserialize UDF/mapInPandas closures by importing
    their defining module; on a real cluster that requires shipping
    the package. ``addPyFile`` with a zip of the package covers both
    cluster executors and local-mode workers launched from a
    different CWD.

    Ships once per SparkContext: ``get_spark`` and every ``load_table``
    call this (the correctness driver hands ``load_table`` sessions
    ``get_spark`` did not build), and only the first call on a context
    writes the zip and adds it. The zip goes into a directory of its
    own that is removed when the Python process exits, so no session
    leaves one behind in the temp dir.
    """
    import zipfile

    sc = spark.sparkContext
    if getattr(sc, "_mrwc_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_dir = tempfile.mkdtemp(prefix="mrwc-pkg-")
    atexit.register(shutil.rmtree, zip_dir, True)
    zip_path = os.path.join(zip_dir, "mapreducewordcount_spark-pkg.zip")
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    # flagged only after a successful add: a failed ship leaves the
    # next call free to retry
    sc._mrwc_pkg_shipped = True


def _skip_unchanged_zip_rereads() -> None:
    """In a Python worker before 3.13, make ``zipimporter.invalidate_caches``
    re-read an archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` before each
    task, and on 3.11/3.12 that re-reads every zip on the worker's path
    (module docstring). The wrapper stats the archive first and keeps
    the cached directory while ``(mtime_ns, size, inode)`` equals the
    stamp taken before its last read, so a changed or new archive is
    still read, and path finders are invalidated as before. Installed
    once per process, on the package's import in a task.
    """
    import sys
    import zipimport

    from pyspark import TaskContext

    reread = zipimport.zipimporter.invalidate_caches
    if (sys.version_info >= (3, 13) or TaskContext.get() is None
            or hasattr(reread, "stamps")):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:  # the read fails too and drops the cached entry
            return reread(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None \
                and invalidate_caches.stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        invalidate_caches.stamps[self.archive] = stamp

    invalidate_caches.stamps = {}
    zipimport.zipimporter.invalidate_caches = invalidate_caches
