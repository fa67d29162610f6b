"""Python face of the JVM Catalyst matmul extension (jvm/src/*.scala).

``matmul_catalyst(a, b)`` hands two COO DataFrames to the JVM, which
plants a logical ``MatmulNode`` in the plan; the injected optimizer rule
``DispatchMatmul`` rewrites it into Aggregate-over-Join and picks the
broadcast side FROM CATALYST'S OWN SIZE STATISTICS vs
``spark.sql.autoBroadcastJoinThreshold`` — no driver-side counts, no
Python dispatcher (VERDICT r2 item 6 / SURVEY §4 "optional later").
The blocked-GEMM variant remains Python-dispatched in ``matmul_auto``
(its physical stage is an Arrow ``mapInArrow``, which the JVM planner
cannot construct).

Requires a session started with::

    spark.jars  = emulating_hadoop_with_mpi_spark/jvm/matmul-extensions.jar
    spark.sql.extensions = emulatinghadoop.spark.matmul.MatmulExtensions

(`extension_confs()` below returns exactly that dict; the jar is built
hermetically by ``jvm/build.sh`` from the pyspark wheel's own Spark +
Scala jars.)  Sessions without the extension raise a clear error from
``matmul_catalyst`` instead of failing at plan time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

EXTENSION_CLASS = "emulatinghadoop.spark.matmul.MatmulExtensions"

JAR_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jvm", "matmul-extensions.jar")


def extension_confs() -> dict[str, str]:
    """Builder confs that enable the extension (merge into get_spark's
    extra_confs or a plain SparkSession.builder)."""
    return {
        "spark.jars": JAR_PATH,
        "spark.sql.extensions": EXTENSION_CLASS,
    }


def extension_active(spark: SparkSession) -> bool:
    return EXTENSION_CLASS in (spark.conf.get("spark.sql.extensions", "") or "")


def matmul_catalyst(a: DataFrame, b: DataFrame) -> DataFrame:
    """C = A @ B for COO DataFrames ``(i, j, v)``, planned by the JVM
    extension.  Same result contract as ``matmul_coo`` (i INT, k INT,
    v BIGINT, zero products absent)."""
    spark = a.sparkSession
    if not extension_active(spark):
        raise RuntimeError(
            "Catalyst matmul extension not loaded; start the session with "
            f"extension_confs() = {extension_confs()}"
        )
    helper = spark._jvm.emulatinghadoop.spark.matmul.MatmulPlans
    jdf = helper.coo(spark._jsparkSession, a._jdf, b._jdf)
    # identical join+group structure to matmul_coo → identical result set
    return DataFrame(jdf, spark)
