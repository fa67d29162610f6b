"""Range (point-in-interval) join — SURVEY §2.15 breadth: not in the
reference, but a staple of event/telemetry analytics the as-of join (q23)
doesn't cover: match every point to EVERY interval containing it, not just
the latest preceding row.

Spark has no native range-join optimization: a theta join on
``start <= p < end`` plans as BroadcastNestedLoopJoin (small side) or a
cartesian product — O(points × intervals) comparisons, a non-starter at
100 TB.  The scale path here is the classic bucketization rewrite:

1. each point maps to exactly ONE bucket: ``p div width``;
2. each interval EXPLODES to every bucket its span covers;
3. hash equi-join on bucket (shuffle-able, AQE-able, skew-saltable);
4. refine with the exact containment predicate.

Each qualifying (point, interval) pair meets exactly once — in the
point's bucket — so no dedup is needed.  Join cost drops from |P|·|I|
comparisons to one hash join of |P| + Σ(span/width) rows.  ``width``
trades explode factor against bucket selectivity; pick it near the median
interval span (same tuning story as the MinHash band width,
functions/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BUCKET_COL = "__range_bucket"


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int = 3600,
) -> DataFrame:
    """Bucketized point-in-interval join (see module docstring).  Columns
    must be integer-typed (epoch seconds/ns, ids...); intervals are
    half-open ``[start, end)`` and empty intervals (end <= start) match
    nothing.  Output = every points-row × containing intervals-row, the
    theta join's contract (pinned against it in tests/test_rangejoin.py)."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive (got {bucket_width})")
    p = points.withColumn(
        BUCKET_COL, F.expr(f"{point_col} div {bucket_width}").cast("long")
    )
    iv = (
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn(
            BUCKET_COL,
            F.explode(
                F.sequence(
                    F.expr(f"{start_col} div {bucket_width}"),
                    F.expr(f"({end_col} - 1) div {bucket_width}"),
                )
            ),
        )
    )
    return (
        p.join(iv, BUCKET_COL)
        .filter(
            (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) < F.col(end_col))
        )
        .drop(BUCKET_COL)
    )
