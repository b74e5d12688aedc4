"""SparkSession construction.

One session per job — the reference re-creates its DB session (and re-runs
DDL!) per HTTP request (/root/reference/pkg/rest/http/server.go:16-35); we
deliberately do the opposite.

Local sessions run PySpark's Python workers under the engine's daemon,
``bloqsenjin_spark.worker_daemon`` (``spark.python.daemon.module``). Stock
PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task, and on Python 3.10–3.12 that re-reads the directory of every zip on the
worker path (``pyspark.zip``, py4j, the spark-core jar) in pure Python. On a
4-core Xeon (Python 3.11, Spark 4.1) that is ~250 ms of worker CPU per task,
paid by every Python task: the query's shard cogroup, the build stages and
each ``createDataFrame`` of a driver list. The daemon re-reads an archive
only when its file changed (~0.15 ms per task); the benchmark's per-query
Spark top-k p50 went 826 → 593 ms. The daemon is imported before any task
runs, so the package's parent directory goes on the workers' ``PYTHONPATH``;
a session started outside the repository root with ``PYTHONPATH`` unset can
therefore import the engine in its UDFs too.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the bloqsenjin_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "bloqsenjin-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local session with the engine's standard conf.

    ``cores=None`` uses ``$SPARK_GRAFT_CPUS`` (default ``local[*]``). On a real
    cluster this function is bypassed — ``spark-submit`` provides the session
    and these confs move to ``spark-defaults``.
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        # Local-test default, measured best at the bench corpus size. At real
        # data scale SIZE THIS BY DATA (~128 MB per reduce partition): AQE can
        # COALESCE an over-partitioned shuffle down to advisoryPartitionSize
        # but can never split an under-partitioned one, and oversized reduce
        # partitions cross into external-sort spill. Cluster deployments set
        # spark.sql.shuffle.partitions in spark-defaults accordingly.
        shuffle_partitions = max(2 * n, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transport for every pandas UDF / applyInPandas hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_BATCH", "16384"))
        # Idempotent per-shard re-writes on resume (see plans/build.py):
        # overwrite only the partitions present in the incoming DataFrame.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # no console progress bars: headless bench/driver runs capture stderr,
        # and the \r-animated bars bloat those captures by megabytes
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers fork from the engine daemon (module docstring); it
        # is imported before any task ships code, hence the worker path
        .config("spark.python.daemon.module", "bloqsenjin_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
