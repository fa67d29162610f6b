"""Check the generated star tables against a copy of the engine's seed-42 test data.

Run from the repository root:

    python3 perfbench/fidelity.py --reference <directory of the sf0.1 parquet files> --passes 3

The tables are generated into ``.perfbench/fidelity/``.  The report has three parts:

- every table a ``star_sql`` query reads: rows, schema, and whether every
  value equals the reference's;
- every ``star_sql`` query: the DuckDB oracle's output rows and value digest
  on both datasets;
- with ``--passes N`` (N > 0): each query's input rows and its median over N
  warm runs on both datasets.  One Spark session runs them, alternating the
  datasets so machine drift hits both alike.

The exit code is 1 when a table or an oracle result differs.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq

import datagen
from workloads import STAR_QUERIES, result_digest

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")


def compare_tables(gen_dir: str, ref_dir: str) -> bool:
    same = True
    print(f"{'table':10s} {'rows':>8s} {'schema':>7s} {'values':>7s}")
    for t in STAR_TABLES:
        g = pq.read_table(os.path.join(gen_dir, f"{t}.parquet")).replace_schema_metadata(None)
        r = pq.read_table(os.path.join(ref_dir, f"{t}.parquet")).replace_schema_metadata(None)
        schema, values = g.schema == r.schema, g.equals(r)
        same &= schema and values
        print(f"{t:10s} {r.num_rows:8d} {str(schema):>7s} {str(values):>7s}")
    return same


def oracle_digests(sf_dir: str, queries: dict) -> dict:
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for k, q in queries.items():
        rel = con.sql(q.oracle)
        out[k] = result_digest(rel.columns, rel.fetchall())
    con.close()
    return out


def warm_medians(dirs: dict, queries: dict, passes: int) -> tuple[dict, dict]:
    """{dataset: {query: median warm seconds}}, {dataset: {query: input rows}}."""
    from emulating_hadoop_with_mpi_spark.session import get_spark
    from emulating_hadoop_with_mpi_spark.sources.tables import register_views

    rows = {name: {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows for t in STAR_TABLES}
            for name, d in dirs.items()}
    spark = get_spark(app_name="perfbench-fidelity", extra_conf={"spark.ui.showConsoleProgress": "false"})
    times = {name: {k: [] for k in queries} for name in dirs}
    inputs = {name: {} for name in dirs}
    try:
        for p in range(passes + 1):  # pass 0 warms up and is not counted
            order = list(dirs) if p % 2 == 0 else list(reversed(dirs))
            for name in order:
                register_views(spark, dirs[name])
                for k, q in queries.items():
                    t0 = time.perf_counter()
                    df = q.fn(spark, dirs[name])
                    df.collect()
                    if p:
                        times[name][k].append(time.perf_counter() - t0)
                    tables = {os.path.basename(f).split(".")[0] for f in df.inputFiles()}
                    inputs[name][k] = sum(rows[name].get(t, 0) for t in tables)
    finally:
        spark.stop()
    return {n: {k: statistics.median(v) for k, v in ts.items()} for n, ts in times.items()}, inputs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True, help="directory holding the reference <table>.parquet files")
    ap.add_argument("--passes", type=int, default=0, help="warm Spark passes per dataset (0: none)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    from emulating_hadoop_with_mpi_spark.registry import all_queries

    work = os.path.join(root, ".perfbench", "fidelity")
    shutil.rmtree(work, ignore_errors=True)
    gen_dir = os.path.join(work, "sf0.1")
    os.makedirs(gen_dir)
    datagen.write_star_tables(gen_dir)
    ref_dir = os.path.abspath(args.reference)

    same = compare_tables(gen_dir, ref_dir)
    registry = all_queries()
    queries = {k: next(q for n, q in registry.items() if n.startswith(k + "_")) for k in STAR_QUERIES}
    gen_o, ref_o = oracle_digests(gen_dir, queries), oracle_digests(ref_dir, queries)
    timed = warm_medians({"generated": gen_dir, "reference": ref_dir}, queries, args.passes) if args.passes else None

    print(f"\n{'query':6s} {'out rows':>9s} {'digest':>7s}" +
          (f" {'in rows gen/ref':>17s} {'warm s gen':>10s} {'warm s ref':>10s} {'gen/ref':>7s}" if timed else ""))
    for k in queries:
        equal = gen_o[k] == ref_o[k]
        same &= equal
        line = f"{k:6s} {ref_o[k][1]:9d} {str(equal):>7s}"
        if timed:
            med, inp = timed
            g, r = med["generated"][k], med["reference"][k]
            line += (f" {inp['generated'][k]:>8d}/{inp['reference'][k]:<8d}"
                     f" {g:10.3f} {r:10.3f} {g / r:7.3f}")
        print(line)
    if timed:
        g, r = (sum(timed[0][n].values()) for n in ("generated", "reference"))
        print(f"{'pass':6s} {'':>9s} {'':>7s} {'':>17s} {g:10.3f} {r:10.3f} {g / r:7.3f}")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
