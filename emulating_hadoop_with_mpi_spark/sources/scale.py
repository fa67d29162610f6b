"""Local scale-factor upscaler: synthesize sf-N data from a smaller driver
scale factor so the scale SLOPE (t_sfN / t_sf0.1) can be measured, not
argued.

The driver ships sf0.001/0.01/0.1 only; every "would this survive 100x"
claim needs at least one measured decade above the bench SF.  ``upscale``
tiles each scaling table ``factor`` times with per-copy key offsets so
join cardinalities scale linearly exactly as TPC-H's own SF knob does
(1 order : 1 customer, ~4 lineitems : 1 order, ...).  Fixed dims
(region/nation) stay fixed, as in TPC-H.

Two details matter for workload realism:

- ``documents.text`` is word-perturbed per copy (a keyed hash renames ~1/3
  of words) so copies are NOT exact/near duplicates of each other.  Naive
  tiling would hand q72/q73 a corpus where every doc has ``factor`` exact
  twins — candidate-pair structure (and thus measured cost) would be a
  artifact of the tiling, not the algorithm.  Within-copy planted near-dups
  survive untouched, so dedup finds the same per-copy structure at every
  scale.
- ``events.ts`` is shifted by one day per copy so event-time windows and
  sessions scale in NUMBER (linearly) rather than in per-window density.

Everything is expressed as Spark projections over the source parquet — the
upscaler itself is a distributed job that would run fine on a cluster at
real scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.sources.tables import TABLES, load_table

def _key_span(df: DataFrame, col: str) -> int:
    """Offset stride for a key column: next power of ten above max(key),
    so per-copy keyspaces never collide and stay human-readable."""
    mx = df.agg(F.max(col)).collect()[0][0] or 0
    span = 1
    while span <= mx:
        span *= 10
    return span


def _perturb_text(copy: int) -> str:
    """SQL expression renaming ~1/3 of words, keyed on (word, position,
    copy): deterministic, cheap (pure JVM higher-order functions), and it
    drops cross-copy trigram Jaccard to ~(2/3)^3 ~= 0.3 — far below the
    0.8 near-dup threshold."""
    return (
        "array_join(transform(split(text, ' '), (w, j) -> "
        f"CASE WHEN pmod(hash(w, j, {copy}), 3) = 0 THEN concat(w, 'v{copy}') ELSE w END), ' ')"
    )


def upscale(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    factor: int = 10,
    partitions_per_copy: int = 4,
    only: tuple[str, ...] | None = None,
) -> None:
    """Write a ``factor``-times-larger copy of ``src_dir`` into ``dst_dir``.

    ``only`` restricts output to the named tables (e.g. a documents-only
    second slope decade for the dedup family) — the full plan set is still
    built lazily, so restricted runs cost only what they write."""
    os.makedirs(dst_dir, exist_ok=True)
    src = {name: load_table(spark, src_dir, name) for name in TABLES}
    spans = {
        "c": _key_span(src["customer"], "c_custkey"),
        "s": _key_span(src["supplier"], "s_suppkey"),
        "p": _key_span(src["part"], "p_partkey"),
        "o": _key_span(src["orders"], "o_orderkey"),
        "e": _key_span(src["events"], "event_id"),
        "u": _key_span(src["events"], "user_id"),
        "d": _key_span(src["documents"], "doc_id"),
        "v": _key_span(src["embeddings"], "vec_id"),
    }

    def tiled(name: str, project) -> DataFrame:
        copies = [project(src[name], i) for i in range(factor)]
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        return out

    plans: dict[str, DataFrame] = {
        "region": src["region"],
        "nation": src["nation"],
        "customer": tiled(
            "customer",
            lambda df, i: df.withColumn("c_custkey", F.col("c_custkey") + i * spans["c"]),
        ),
        "supplier": tiled(
            "supplier",
            lambda df, i: df.withColumn("s_suppkey", F.col("s_suppkey") + i * spans["s"]),
        ),
        "part": tiled(
            "part",
            lambda df, i: df.withColumn("p_partkey", F.col("p_partkey") + i * spans["p"]),
        ),
        "orders": tiled(
            "orders",
            lambda df, i: df.withColumn("o_orderkey", F.col("o_orderkey") + i * spans["o"])
            .withColumn("o_custkey", F.col("o_custkey") + i * spans["c"]),
        ),
        "lineitem": tiled(
            "lineitem",
            lambda df, i: df.withColumn("l_orderkey", F.col("l_orderkey") + i * spans["o"])
            .withColumn("l_partkey", F.col("l_partkey") + i * spans["p"])
            .withColumn("l_suppkey", F.col("l_suppkey") + i * spans["s"]),
        ),
        "events": tiled(
            "events",
            lambda df, i: df.withColumn("event_id", F.col("event_id") + i * spans["e"])
            .withColumn("user_id", F.col("user_id") + i * spans["u"])
            .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} DAYS")),
        ),
        "documents": tiled(
            "documents",
            lambda df, i: df.withColumn("doc_id", F.col("doc_id") + i * spans["d"])
            .withColumn("text", F.expr(_perturb_text(i)))
            .withColumn("n_chars", F.length("text").cast("long")),
        ),
        "embeddings": tiled(
            "embeddings",
            lambda df, i: df.withColumn("vec_id", F.col("vec_id") + i * spans["v"])
            # keyed +-1% jitter so copies aren't exact duplicate vectors
            .withColumn(
                "embedding",
                F.expr(
                    f"transform(embedding, (x, j) -> cast(x * (1.0 + (pmod(hash(vec_id, j, {i}), 201) - 100) / 10000.0) as float))"
                ),
            ),
        ),
    }
    for name, df in plans.items():
        if only is not None and name not in only:
            continue
        n_parts = 1 if name in ("region", "nation") else factor * partitions_per_copy
        df.repartition(n_parts).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{name}.parquet")
        )


def main() -> None:  # pragma: no cover — CLI convenience
    import argparse

    from emulating_hadoop_with_mpi_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/root/repo/localdata/sf1")
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--only", default=None, help="comma-separated table subset")
    args = ap.parse_args()
    spark = get_spark(app_name="upscale")
    spark.sparkContext.setLogLevel("ERROR")
    only = tuple(args.only.split(",")) if args.only else None
    upscale(spark, args.src, args.dst, factor=args.factor, only=only)
    spark.stop()


if __name__ == "__main__":  # pragma: no cover
    main()
