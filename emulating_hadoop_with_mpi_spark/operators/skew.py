"""Skew-handling utilities.

The reference's answer to load imbalance is a random 60/40 role split and
contiguous row ranges with the remainder dumped on the last worker
(``program.c:122-135, 154-157``) — a hot key melts one rank.  Spark gives
two real tools:

- AQE skew-join splitting (``spark.sql.adaptive.skewJoin.enabled``, on in
  session.py): oversized shuffle partitions are split at runtime.  This is
  the default answer.
- Explicit SALTING, below, for when the skew is known and extreme (one key
  holding >> a partition's worth): replicate the small side R ways, spread
  the big side's hot keys across R sub-keys, join on (key, salt).

Aggregations need no salting: HashAggregate's map-side partial sends a hot
key of a decomposable aggregate (sum/count/min/max) to its final task as
at most one row per map partition (pinned in tests/test_skew.py).

``salted_join`` is semantics-preserving for inner equi-joins — proven
against the plain join in tests/test_skew.py on a deliberately skewed key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Inner/left equi-join on `key` with the big side's rows scattered
    across `salt` sub-partitions per key and the small side replicated
    `salt` ways — a hot key becomes `salt` shuffle partitions instead of
    one.  Shuffle volume: |big| + salt·|small| (cheap when small is small,
    which is the only time you salt).

    Only inner/left are semantics-preserving under salting: with
    'right'/'full', small-side rows with no big-side match would surface
    once per salt replica."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left' only (got {how!r}): "
            "right/full would duplicate unmatched small-side rows salt times"
        )
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt)).cast("int")
    )
    small_salted = small.crossJoin(
        F.broadcast(
            big.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = big_salted.join(small_salted, [key, "__salt"], how)
    return out.drop("__salt")
