"""Plan-inspection helpers — the engine's scale guardrails.

The reference hand-schedules its physical plan (§4 of SURVEY: static row
splits, full-replication shuffle, serial group-by).  Here Catalyst owns the
physical plan, and these helpers let tests ASSERT the physical properties
we rely on at 100 TB: filters pushed into parquet scans, unused columns
pruned from the read schema, small dimensions broadcast, and no Python
evaluation in JVM-only pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Corpus-size boundary of the scale paths' physical regime (the dedup,
# semantic and TF-IDF verify/df joins): below it Catalyst may broadcast
# the corpus-derived frames (single-exchange plans win on one heap);
# above it those joins are pinned shuffle_hash, because broadcasting an
# O(corpus) frame to every executor fails at cluster scale whatever the
# driver heap.  Tests force the large regime by setting it to 1.
PARTITIONED_BYTES = 64 * 1024 * 1024


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True if ANY scan in the plan carries a non-empty PushedFilters list
    (a multi-scan plan may legitimately mix filtered and unfiltered scans)."""
    import re

    return re.search(r"PushedFilters: \[[^\]]", formatted_plan(df)) is not None


def read_schema_columns(df: DataFrame, table_hint: str = "") -> list[str]:
    """Columns actually read from parquet (column pruning check)."""
    import re

    plan = formatted_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols.extend(c.split(":")[0] for c in m.group(1).split(",") if c)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def python_eval_free(df: DataFrame) -> bool:
    """True when no Python UDF/eval shows up in the physical plan (the
    whole-stage-codegen fast path)."""
    plan = executed_plan(df)
    return not any(tok in plan for tok in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"))


def shuffle_count(df: DataFrame) -> int:
    return executed_plan(df).count("Exchange")


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for a frame (None if unavailable) —
    file size for parquet scans, no job.  The basis for physical-strategy
    dispatch in the dedup/text scale paths: below a corpus-size boundary
    broadcast-heavy plans win single-node; above it O(corpus)-frame
    broadcasts are pinned away (they cannot survive cluster scale no
    matter the driver heap).

    Unknown-stats sentinel (ADVICE r11): Catalyst never reports "no
    stats" — leaves without sizes get spark.sql.defaultSizeInBytes
    (Long.MaxValue by default) substituted, so a stats-less frame used to
    read as "astronomically large" instead of "unknown".  Estimates at or
    above the sentinel are mapped to None here so callers' documented
    unknown-stats fallbacks (bounded probes, count() gates) actually
    fire."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — stats are advisory; None = assume big
        return None
    try:
        default = int(df.sparkSession.conf.get("spark.sql.defaultSizeInBytes"))
    except Exception:  # noqa: BLE001 — internal conf; fall back to its default
        default = (1 << 63) - 1
    return None if size >= default else size


def partitioned(df: DataFrame) -> bool:
    """True when ``df`` belongs to the partitioned regime: its Catalyst
    size estimate is unknown or above :data:`PARTITIONED_BYTES`."""
    size = plan_size_bytes(df)
    return size is None or size > PARTITIONED_BYTES
