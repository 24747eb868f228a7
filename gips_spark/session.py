"""SparkSession factory for the engine.

Defaults are chosen for the engine's execution model (SURVEY.md §4):
Arrow on (every custom kernel is a vectorized pandas UDF), AQE on
(runtime broadcast/skew re-planning), shuffle partitions sized to the
local core count rather than the 200 default.  On a real cluster the
same code runs under ``spark-submit --py-files`` (see jobs/run_stage.py)
and these conf keys are supplied by the submitter instead.

In local mode the Python workers import pyspark and py4j from the same
directory install the driver runs, not from Spark's ``pyspark.zip``:
``gips_spark.pydaemon`` is their daemon, and it keeps Spark's own path
when that install does not match the zip.  pyspark is imported inside
the functions, so that daemon's ``import gips_spark`` loads no pyspark.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Big Arrow batches keep the numpy kernels amortized; ~64k rows/batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    # Parquet writes must be deterministic for golden/byte-stable tests.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def get_spark(
    app_name: str = "gips_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` means the master spark-submit was given when
    spark-submit started this driver, else ``local[$SPARK_GRAFT_CPUS]``
    (env, default 32).  In local mode the Python workers get this
    package's parent directory on their ``PYTHONPATH``, so a kernel
    unpickles whatever directory the driver was started from (on a
    cluster, ``--py-files`` ships the package), and their daemon is
    ``gips_spark.pydaemon``: they import the driver's pyspark install,
    or, when it does not match Spark's ``pyspark.zip``, Spark's own path.
    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    min(16g, physical RAM / 3); ``extra_conf`` overrides both.
    """
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = _submitted_master() or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or _parallelism_of(master, cpus)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _ENGINE_CONF.items():
        builder = builder.config(k, v)
    if master.startswith("local"):
        builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        builder = builder.config("spark.python.daemon.module", "gips_spark.pydaemon")
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    builder = builder.config("spark.default.parallelism", str(n_shuffle))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _submitted_master() -> str | None:
    """The master spark-submit was given, when spark-submit started this
    Python process (it then passes the JVM's gateway port in the
    environment); None under plain ``python``."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def _default_driver_mem() -> str:
    """min(16g, physical RAM / 3): a heap sized for the host, not past
    it — with 16g on a 15 GB host the JVM of a 10^5-query kNN grew past
    physical memory and the kernel killed it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, phys_mb // 3)}m"


def _parallelism_of(master: str, default: int) -> int:
    if master.startswith("local["):
        inside = master[len("local[") : -1]
        if inside == "*":
            return os.cpu_count() or default
        try:
            return int(inside)
        except ValueError:
            return default
    return default
