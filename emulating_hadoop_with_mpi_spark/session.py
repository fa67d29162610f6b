"""SparkSession factory.

One place to encode the session defaults the engine relies on:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast selection) — the modern replacement for the reference's
  hand-rolled static splits (``program.c:143-181, 378-413``).
- Arrow-backed Python↔JVM transfer for the few Pandas-UDF code paths.
- UTC session timezone so timestamp semantics line up with the DuckDB
  oracle (both treat the driver tables' timestamps as naive/UTC).
- ``spark.sql.legacy.parquet.nanosAsLong`` — kept on defensively: some
  writers emit ``events.ts`` as parquet TIMESTAMP(NANOS), which Spark can
  only scan as a long (no ns timestamp type).  The loader normalizes that
  long — and naive-µs TIMESTAMP_NTZ scans alike — to a UTC ``timestamp``
  (``sources/tables.py:_normalize_ts``), so downstream code is agnostic to
  the writer's choice.
- Python workers on ``local`` masters start from ``worker_daemon``, not
  ``pyspark.daemon``.  Spark puts ``pyspark.zip``, the py4j zip and the
  spark-core jar on every worker's path, and PySpark calls
  ``importlib.invalidate_caches()`` before every task; on Python 3.11/3.12
  each ``zipimporter`` then re-reads its whole archive directory, 120–230 ms
  per task.  ``worker_daemon`` drops those archives when the same PySpark
  resolves from a directory, so the archive metadata is read once per worker.
  ``spark.executorEnv.PYTHONPATH`` carries the package's parent directory so
  the module resolves from any cwd.  Other masters keep Spark's daemon:
  a cluster's executors need not have this package.  ``extra_conf``
  overrides both keys.

The master: an explicit ``master`` argument wins; otherwise a process that
``spark-submit`` (or the ``pyspark`` shell) launched keeps the master from
its launch conf (``--master``, ``spark-defaults.conf``); a plain ``python``
launch — tests, bench, perfbench, the CLI — gets
``local[$SPARK_GRAFT_CPUS]``.  There is no cluster preset: executor counts,
partition sizes and the rest of a cluster's tuning come from spark-submit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DRIVER_MEMORY_CAP_MB = 16 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half of physical memory, capped at 16g.  In local mode the driver heap
    holds every task, so a heap larger than the machine lets a runaway job
    exhaust the machine instead of failing with an OutOfMemoryError."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys_bytes // 2 >> 20, DRIVER_MEMORY_CAP_MB)}m"


def worker_conf(master: str) -> dict[str, str]:
    """The Python-worker settings for ``master``: start workers from
    ``worker_daemon`` on ``local`` masters, keep Spark's daemon elsewhere."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": "emulating_hadoop_with_mpi_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    }


def _launch_master() -> str | None:
    """``spark.master`` from the launch conf of the JVM that started this
    process (spark-submit sets ``PYSPARK_GATEWAY_PORT`` for it), or None
    for a plain ``python`` launch, which has no JVM yet."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()
    return SparkConf().get("spark.master", None)


def get_spark(
    app_name: str = "emulating-hadoop-with-mpi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` keeps the master spark-submit was given and is
    ``local[$SPARK_GRAFT_CPUS]`` (``*`` when unset) for a plain ``python``
    launch.  The worker settings follow the master that results.
    """
    if master is None:
        master = _launch_master() or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in {**worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
