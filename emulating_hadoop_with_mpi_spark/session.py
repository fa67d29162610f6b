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

Tests and bench run on ``local[N]``; on a real cluster the same builder is
used with master/deploy settings supplied by spark-submit.
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


def get_spark(
    app_name: str = "emulating-hadoop-with-mpi-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; under
    spark-submit on a cluster, leave it None and let submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
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


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 256,
    input_tb: float = 100.0,
) -> dict[str, str]:
    """Documented conf preset for the target deployment (≈1000 executors /
    100 TB inputs) — the knobs that change between local[32] and a real
    cluster.  Local mode ignores most of these; spark-submit applies them.

    Sizing logic:
    - shuffle partitions ≈ 2-3× total cores, floored so each partition of
      a full-input shuffle stays ≤ ~target_partition_mb (spill threshold).
    - maxPartitionBytes fixes scan-task granularity: 100 TB / 256 MB ≈
      400k scan tasks — coarse enough for the scheduler, fine enough for
      even distribution.
    - AQE then coalesces/splits at runtime, so these are CEILINGS, not
      exact tuning.
    """
    total_cores = executors * cores_per_executor
    by_cores = 3 * total_cores
    by_size = int(input_tb * 1024 * 1024 / target_partition_mb)
    shuffle_partitions = max(by_cores, min(by_size, 64 * total_cores))
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.files.maxPartitionBytes": str(target_partition_mb * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        # broadcast only true dimensions; at 100 TB "small" is still 256 MB
        "spark.sql.autoBroadcastJoinThreshold": str(256 * 1024 * 1024),
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        # shuffle robustness at scale
        "spark.shuffle.service.enabled": "true",
        "spark.sql.adaptive.localShuffleReader.enabled": "true",
    }
