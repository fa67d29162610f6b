"""PySpark-native analytics engine with the capabilities of
``Mahadd1111/Emulating-Hadoop-with-MPI`` (reference at /root/reference/).

The reference is a from-scratch Hadoop-MapReduce emulation on MPI whose one
built-in job is distributed integer matrix multiplication
(``program.c:479-514``).  This package re-expresses that capability — and the
general dataflow surface it implies (sources, map, shuffle, group, reduce,
sinks) — Spark-first:

- ``sources``    : parquet star-schema loaders, the reference's headerless
                   ``.dat`` binary matrix format, deterministic datagen.
- ``mapreduce``  : a generic ``map_reduce`` KV API mirroring the reference's
                   mapper/reducer surface (``program.c:184-222, 415-445``),
                   plus the flagship matrix-multiply job in both faithful
                   (flatMap-emit) and idiomatic (join-then-aggregate) forms.
- ``operators``  : relational breadth — joins, aggregation, windows, top-k,
                   set ops, rollup/cube — over the driver's TPC-H-ish tables.
- ``functions``  : scalar/text/similarity/dedup kernels for LLM-data
                   pipelines (MinHash-LSH, SimHash, cosine ANN, lang-id,
                   quality scoring, fingerprints, multimodal columns).
- ``streaming``  : Structured Streaming over the ``events`` table
                   (windows, watermarks, stateful dedup).
- ``plans``      : plan-inspection helpers used by tests to assert pushdown,
                   pruning, and broadcast decisions.
"""

__all__ = ["get_spark"]
__version__ = "0.1.0"


def __getattr__(name: str):
    # PEP 562: importing the package imports no pyspark, so Python workers
    # started through ``worker_daemon`` can filter ``sys.path`` first.
    if name == "get_spark":
        from emulating_hadoop_with_mpi_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
