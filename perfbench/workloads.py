"""The benchmark's workloads: what a pass runs, and how each job is checked.

A workload owns its inputs and its job list.  ``register`` is the part of
set-up that goes through the package; ``run`` is one job's timed window
(plan construction plus the action that delivers the result to its user);
``check`` compares that result with an independent oracle and runs outside
the timed window.
"""

from __future__ import annotations

import datetime
import glob
import math
import os
import pathlib
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv

import datagen

STAR_QUERIES = ("q01 q03 q05 q06 q14 q16 q18 q19 q22 q30 q31 q40 q50 q51 q52 q23").split()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def result_digest(columns, rows) -> tuple:
    """(lower-cased column names, row count, order-insensitive value hash)."""
    h = 0
    for row in rows:
        h = (h + hash(tuple(_norm(v) for v in row))) & 0xFFFFFFFFFFFFFFFF
    return tuple(c.lower() for c in columns), len(rows), h


class StarSql:
    """An analyst's session: 16 JVM-only queries, results collected to the driver."""

    name = "star_sql"
    # two warm passes hold 32 jobs, enough for a tail with ten samples beyond it
    warm_passes = 2
    action_span = "exec.action"

    def __init__(self, workdir: str, seed: int):
        import duckdb

        from emulating_hadoop_with_mpi_spark.registry import all_queries

        self.sf_dir = os.path.join(workdir, "sf0.1")
        os.makedirs(self.sf_dir)
        self.table_rows = datagen.write_star_tables(self.sf_dir)
        registry = all_queries()
        self.queries = {k: next(q for n, q in registry.items() if n.startswith(k + "_"))
                        for k in STAR_QUERIES}
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in self.table_rows:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.expected = {}
        for k, q in self.queries.items():
            rel = con.sql(q.oracle)
            self.expected[k] = result_digest(rel.columns, rel.fetchall())
        con.close()
        self.jobs = list(STAR_QUERIES)
        self._input_rows: dict[str, int] = {}

    def register(self, spark) -> None:
        from emulating_hadoop_with_mpi_spark.sources.tables import register_views

        register_views(spark, self.sf_dir)

    def run(self, spark, job, tracer):
        with tracer.span("plan.construct"):
            df = self.queries[job].fn(spark, self.sf_dir)
        with tracer.span("exec.action"):
            rows = df.collect()
        return df, rows

    def check(self, job, df, rows) -> bool:
        return result_digest(df.columns, rows) == self.expected[job]

    def input_rows(self, job, df) -> int:
        """Rows of every table the query scans (its plan's input files)."""
        if job not in self._input_rows:
            tables = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
            self._input_rows[job] = sum(self.table_rows[t] for t in tables)
        return self._input_rows[job]

    @staticmethod
    def products(job) -> int:
        return 0

    @staticmethod
    def trace_job(spark, job, plan, tracer) -> dict:
        return {}


# (job, n, arm): n×n · n×n through multiply_dat_files (broadcast and block
# arms) or matmul_mapreduce (rdd); a job whose plan takes another arm fails.
MATMUL_JOBS = (("bcast256", 256, "broadcast"), ("block1024", 1024, "block"), ("rdd64", 64, "rdd"))


def plan_arm(plan: str) -> str:
    """The multiply arm an executed plan shows: block GEMM, broadcast join,
    shuffled COO join, or a scan of the RDD path's output."""
    return ("block" if "MapInArrow" in plan else "broadcast" if "BroadcastHashJoin" in plan
            else "coo" if "Join" in plan else "rdd")


class MatmulDat:
    """The reference's job: .dat matrices in, C = A·B out through the KV text sink."""

    name = "matmul_dat"
    # two warm passes: three multiplies take 8-13 s warm and 15-24 s cold.
    # With one, the tail was a single job's time, and ten runs spread 0.165
    # on it against 0.096 with two.
    warm_passes = 2
    action_span = "sink.write"  # the sink write is the action that runs the multiply

    def __init__(self, workdir: str, seed: int):
        from emulating_hadoop_with_mpi_spark.sources.datagen import generate_matrix_file, generate_matrix_numpy

        self.workdir = workdir
        self.inputs, self.expected, self.n = {}, {}, {}
        for tag, n, _ in MATMUL_JOBS:
            seeds = [zlib.crc32(f"{seed}/{tag}/{side}".encode()) for side in "ab"]
            self.inputs[tag] = tuple(generate_matrix_file(workdir, n, n, seed=s, file_id=f"{tag}{side}")
                                     for s, side in zip(seeds, "ab"))
            a, b = (generate_matrix_numpy(n, n, seed=s).astype(np.float64) for s in seeds)
            # float64 products of cells < 10 are exact far beyond these sizes
            self.expected[tag] = (a @ b).astype(np.int64)
            self.n[tag] = n
        self.arm = {tag: arm for tag, _, arm in MATMUL_JOBS}
        self.jobs = [tag for tag, _, _ in MATMUL_JOBS]

    def register(self, spark) -> None:
        from emulating_hadoop_with_mpi_spark.sources.matrix import read_matrix_coo

        for pa_, pb in self.inputs.values():
            read_matrix_coo(spark, pa_)
            read_matrix_coo(spark, pb)

    def coo_pair(self, spark, job):
        from emulating_hadoop_with_mpi_spark.sources.matrix import read_matrix_coo

        return tuple(read_matrix_coo(spark, p) for p in self.inputs[job])

    def run(self, spark, job, tracer):
        from emulating_hadoop_with_mpi_spark.mapreduce.matmul import matmul_mapreduce, multiply_dat_files
        from emulating_hadoop_with_mpi_spark.sources.sinks import write_kv_text

        n = self.n[job]
        with tracer.span("plan.construct"):
            if self.arm[job] == "rdd":
                c = matmul_mapreduce(spark, *self.coo_pair(spark, job), (n, n, n))
            else:
                c = multiply_dat_files(spark, *self.inputs[job])
        with tracer.span("sink.write"):
            write_kv_text(c, self.out_dir(job))
        return c, None

    def out_dir(self, job) -> str:
        return os.path.join(self.workdir, f"C_{job}")

    def check(self, job, df, rows) -> bool:
        """The plan took the job's arm, and the sink's ``(i,k):v`` lines,
        read back, equal NumPy A·B."""
        from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

        if plan_arm(executed_plan(df)) != self.arm[job]:
            return False
        n = self.n[job]
        blob = b"".join(pathlib.Path(p).read_bytes() for p in sorted(glob.glob(f"{self.out_dir(job)}/part-*")))
        blob = blob.replace(b"(", b"").replace(b"):", b",")
        if not blob:
            return False
        t = pacsv.read_csv(pa.py_buffer(blob), read_options=pacsv.ReadOptions(column_names=["i", "k", "v"]),
                           convert_options=pacsv.ConvertOptions(column_types={c: pa.int64() for c in "ikv"}))
        i, k, v = (t.column(c).to_numpy() for c in "ikv")
        if len(v) != n * n:
            return False
        got = np.full((n, n), -1, dtype=np.int64)
        got[i, k] = v
        return bool(np.array_equal(got, self.expected[job]))

    def input_rows(self, job, df) -> int:
        return 2 * self.n[job] ** 2  # COO cells of A and B

    def products(self, job) -> int:
        return self.n[job] ** 3

    def trace_job(self, spark, job, plan, tracer) -> dict:
        """The sink's bytes, and a traced read-only job over both inputs
        (the decode alone)."""
        sink_bytes = sum(e.stat().st_size for e in os.scandir(self.out_dir(job)))
        with tracer.span("matrix.decode"):
            for coo in self.coo_pair(spark, job):
                coo.write.format("noop").mode("overwrite").save()
        return {"sink_bytes": sink_bytes}


WORKLOADS = {w.name: w for w in (MatmulDat, StarSql)}
