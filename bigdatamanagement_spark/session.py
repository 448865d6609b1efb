"""SparkSession factory with scale-oriented defaults.

Design notes (100 TB target, tested on local[32]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace every hand-rolled batching /
  range-scan optimization the reference performs client-side
  (e.g. adaptive INSERT batch tiers, AmazonRedshift.java:375-387).
- session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are cluster-location independent.
- Arrow enabled for any toPandas()/pandas_udf boundary crossing.
- shuffle partitions default to 2x cores locally; on a real cluster this
  is expected to be overridden (or left to AQE coalescing from a high
  initial value).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bigdatamanagement-spark"


def _default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        try:
            return int(cpus)
        except ValueError:
            pass
    return os.cpu_count() or 8


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh subdirectory under one per-process scratch root that is
    reaped at interpreter exit (atexit). Use for transient sinks (e.g.
    a foreachBatch parquet sink) instead of bare tempfile.mkdtemp, which
    leaks a directory per invocation — one per bench/sim pass."""
    global _SCRATCH_ROOT
    import atexit
    import shutil
    import tempfile

    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="bdm_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def session_key(spark: SparkSession) -> str:
    """Stable memo-cache key for a live session.

    ``id(spark)`` is unsafe for cross-call caches: after a session is
    stopped and garbage-collected CPython reuses object ids, so a NEW
    session could be handed localCheckpointed DataFrames bound to a dead
    one. The application id is unique per SparkContext lifetime."""
    return spark.sparkContext.applicationId


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """spark.sql.shuffle.partitions = ``n`` inside the ``with`` block."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a cluster deployment, pass ``master=None`` and set the master via
    spark-submit; locally defaults to ``local[$SPARK_GRAFT_CPUS|*]``.
    """
    par = _default_parallelism()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = max(par, 2 * par)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # ContextCleaner frees checkpoint/broadcast/shuffle state only
        # after a JVM GC surfaces the weak refs; the 30min default never
        # fires inside a high-query-rate session, so localCheckpoint
        # blocks from hundreds of queries accumulate and degrade
        # late-session queries (measured: warm bench pass geomean 1.24x
        # cold at default). 2min keeps a long-lived session's block
        # manager bounded at any scale.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    return builder.getOrCreate()
