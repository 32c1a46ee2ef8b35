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
- **session timezone UTC** so timestamp semantics match the DuckDB
  oracle and are deployment-independent.
"""

from __future__ import annotations

import os
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
        # custom Python data sources (sources/pysource.py) advertise
        # file-level pushdown; off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_HOME_CLUSTER" not in os.environ:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
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
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"mapreducewordcount_spark-{__spark_pkg_version()}.zip")
    if not os.path.exists(zip_path):
        # unique temp name per process: a shared fixed ".tmp" lets two
        # concurrent sessions interleave writes and publish a corrupt zip
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(zip_path),
                                   suffix=".zip.tmp")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def __spark_pkg_version() -> str:
    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(pkg_dir)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]
