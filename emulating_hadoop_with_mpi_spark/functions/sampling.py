"""Deterministic dataset-splitting and sampling — the selection ops of a
training-data pipeline (train/val/test carving, per-stratum downsampling).

Not in the reference (its datagen is the nearest analogue,
``filecreation.c:8-28``); added for the LLM-pipeline surface.  The split
and keep columns (``split_column``, ``stratified_keep``,
``mixture_keep_case``) are map-only JVM expressions: no shuffle, no driver
state, stable under repartitioning — the properties that make a split
REPRODUCIBLE on 100 TB across cluster sizes and re-runs (a row's
assignment depends only on its key, never on partition layout or task
order, unlike ``rand()``-based splitting which changes with the
partitioning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SPLIT_DENOM = 10_000  # basis points: fractions are exact to 0.01%

# Default range count of ranged_running_total (output is invariant to
# boundary placement, so the approximate percentiles only set task
# balance, never results).
ORDER_NUM_RANGES = 64

# The canonical train/val/test carve (defined here, next to the operator
# that implements it; functions/pipeline.py and q86's registered split
# column both import it).
DEFAULT_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def split_bucket(key_col: str | Column, salt: str = "") -> Column:
    """Engine-portable split bucket: md5 of the key's string form (first
    15 hex chars = 60 bits → always-non-negative long) mod SPLIT_DENOM —
    the same Spark/DuckDB-identical digest convention as the DSIR/LM/
    SimHash families.  Round 12 (VERDICT r11 item 3): the split moved
    from xxhash64 to md5 so the assignment every training run trusts is
    reproducible OUTSIDE Spark byte-for-byte — the driver's DuckDB
    oracle re-derives it per row (q86's ``split`` column), and any
    engine with md5 can re-audit which documents were test-set."""
    return F.pmod(order_key(key_col, salt=salt), F.lit(SPLIT_DENOM))


def split_column(key_col: str | Column, splits: dict[str, float], salt: str = "") -> Column:
    """Label expression assigning each row to a named split by hashing its
    key: ``split_bucket(key, salt)`` (md5-derived, engine-portable)
    landing in consecutive basis-point ranges.  Fractions must sum to 1
    (±1e-9).  Deterministic in (key, salt): re-runs, repartitions, and
    different cluster sizes all produce the identical assignment; change
    ``salt`` to draw a fresh independent split."""
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1 (got {total})")
    bucket = split_bucket(key_col, salt=salt)
    expr = None
    cum = 0
    names = list(splits)
    for name in names[:-1]:
        cum += int(round(splits[name] * SPLIT_DENOM))
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    return (last if expr is None else expr.otherwise(names[-1])).alias("split")


def split_oracle_case(key_sql: str, splits: dict[str, float], salt: str = "") -> str:
    """The DuckDB twin of :func:`split_column` — a CASE expression over
    the identical md5 bucket, for embedding in driver oracles (q86 does).
    ``key_sql`` is the SQL expression for the key column; it is CAST to
    VARCHAR exactly like the Spark side's ``key.cast("string")``."""
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1 (got {total})")
    if any("'" in name for name in splits):
        raise ValueError("split names must not contain single quotes")
    bucket = split_bucket_oracle_sql(key_sql, salt=salt)
    names = list(splits)
    if len(names) == 1:
        return f"'{names[0]}'"
    parts = ["CASE"]
    cum = 0
    for name in names[:-1]:
        cum += int(round(splits[name] * SPLIT_DENOM))
        parts.append(f"WHEN {bucket} < {cum} THEN '{name}'")
    parts.append(f"ELSE '{names[-1]}' END")
    return " ".join(parts)


def stratified_keep(
    key_col: str | Column,
    strata_col: str | Column,
    fractions: dict[str, float],
    default: float = 1.0,
    salt: str = "",
) -> Column:
    """Layout-independent stratified sampling as a boolean KEEP column
    (round 12): a row survives iff its md5 split bucket falls under its
    stratum's fraction — ``split_bucket(key, salt) < frac · 10000``.
    Deterministic in (key, salt) like split_column, so re-runs,
    repartitions, and other engines reproduce the identical selection
    (q82 registers one as ``sample_keep``; the DuckDB oracle re-derives
    it per row).  Strata absent from ``fractions`` keep ``default``
    mass (1.0 = keep all).  The per-stratum keep rate is exact to a
    basis point in expectation; unlike Spark's ``sampleBy`` the draws for
    equal keys are identical — the same leakage-coupling property
    :func:`split_column` provides."""
    for name, frac in fractions.items():
        if not 0.0 <= frac <= 1.0:
            raise ValueError(f"fraction for {name!r} must be in [0, 1] (got {frac})")
    if not 0.0 <= default <= 1.0:
        raise ValueError(f"default fraction must be in [0, 1] (got {default})")
    bucket = split_bucket(key_col, salt=salt)
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    thr: Column | None = None
    for name, frac in fractions.items():
        lim = F.lit(int(round(frac * SPLIT_DENOM)))
        thr = F.when(strata == name, lim) if thr is None else thr.when(strata == name, lim)
    lim_default = F.lit(int(round(default * SPLIT_DENOM)))
    thr = lim_default if thr is None else thr.otherwise(lim_default)
    return (bucket < thr).alias("sample_keep")


def mixture_rate_values(
    df: DataFrame,
    strata_col: str,
    weight_col: str,
    weights: dict[str, int],
    strict: bool = True,
) -> dict[str, int]:
    """Data-mixture resampling rates (the DoReMi/Pile-style "mix domains
    to target proportions" op): given per-row weights (token or character
    counts) and integer target proportions ``weights`` (e.g. ``{"en": 2,
    "zh": 1}`` = two parts English per part Chinese BY MASS), derive the
    per-stratum keep rate (basis points) that downsamples every stratum
    to the largest achievable corpus with those proportions — the
    binding stratum (smallest weight-mass relative to its target share)
    keeps ~everything, all others are thinned to match.

    ALL arithmetic is 64-bit integer (sums, floor div, basis points) so
    the rates are bit-reproducible in any engine — the DuckDB oracle twin
    (:func:`mixture_oracle_ctes`) re-derives them exactly, which is what
    keeps the math under q82's cross-engine hash even though this side
    computes in Python.  With W = Σ weights and T_s = Σ weight over
    stratum s:

        B       = min_s (T_s · W) div w_s     (achievable total mass)
        rate_s  = min(10000, (10000 · ((B · w_s) div W)) div T_s)

    EAGER and LOUD: runs ONE tiny aggregate (|strata| rows — the bounded
    driver-collect class the classifier/CC/BPE ops already use) and, with
    ``strict`` (the default), raises if any weighted stratum is absent or
    has zero mass — a typo'd mixture must fail, not silently drop the
    corpus (``strict=False`` restores ignore-the-absent for exploratory
    use).  The returned dict becomes plan literals via
    :func:`mixture_keep_case` — a map-only CASE, no broadcast join.
    Headroom: T_s ≤ ~9·10^14 keeps every intermediate below 2^63 for
    W ≤ 10^4 (a 100 TB corpus is ~10^13 tokens).
    """
    if not weights:
        raise ValueError("weights must be non-empty")
    for name, w in weights.items():
        if not isinstance(w, int) or w <= 0:
            raise ValueError(f"weight for {name!r} must be a positive int (got {w})")
    total_w = sum(weights.values())
    totals = {
        r[0]: int(r[1] or 0)
        for r in df.groupBy(strata_col)
        .agg(F.sum(F.col(weight_col)).cast("long").alias("__t"))
        .collect()
    }
    bad = sorted(s for s in weights if totals.get(s, 0) <= 0)
    if bad and strict:
        raise ValueError(
            f"mixture strata with no mass in the data: {bad} "
            f"(present: {sorted(k for k, v in totals.items() if v > 0)}); "
            "fix the weights or pass strict=False to ignore them"
        )
    live = {s: w for s, w in weights.items() if totals.get(s, 0) > 0}
    if not live:
        raise ValueError("no weighted stratum has any mass in the data")
    b = min(totals[s] * total_w // w for s, w in live.items())
    return {
        s: min(SPLIT_DENOM, SPLIT_DENOM * (b * w // total_w) // totals[s])
        for s, w in live.items()
    }


def mixture_keep_case(
    key_col: str | Column,
    strata_col: str | Column,
    rates: dict[str, int],
    salt: str = "",
) -> Column:
    """Map-only keep decision from :func:`mixture_rate_values` output as
    plan literals: a row survives iff its md5 bucket falls under its
    stratum's rate; strata outside the mixture get rate 0 (dropped).
    Zero joins, zero shuffles — the classifier-weights-as-literals idiom."""
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    thr: Column | None = None
    for name, rate in rates.items():
        lim = F.lit(int(rate))
        thr = F.when(strata == name, lim) if thr is None else thr.when(strata == name, lim)
    thr = F.lit(0) if thr is None else thr.otherwise(F.lit(0))
    return (split_bucket(key_col, salt=salt) < thr).alias("mix_keep")


def mixture_oracle_ctes(
    base_sql: str,
    weights: dict[str, int],
    prefix: str = "mix",
) -> str:
    """DuckDB twin of :func:`mixture_rate_values` as chained CTEs.  ``base_sql``
    must be a relation producing (stratum VARCHAR, w BIGINT) rows — one
    per input row of the Spark side.  Emits ``{prefix}_rate(stratum,
    rate_bp)``; embed with a LEFT JOIN + COALESCE(rate_bp, 0) and the
    split-bucket CASE from :func:`stratified_keep_oracle_case`'s idiom.
    DuckDB ``//`` on BIGINTs truncates like Spark ``div``; every operand
    here is non-negative, so the two floor conventions agree.  Zero-mass
    strata are filtered in ``{prefix}_j`` to mirror the Python side's
    live-strata semantics (``mixture_rate_values(strict=False)`` excludes
    them) — without it a weighted stratum whose rows all carry w=0 would
    drive ``b`` to 0 and zero out every rate."""
    if not weights:
        raise ValueError("weights must be non-empty")
    if any("'" in name for name in weights):
        raise ValueError("strata names must not contain single quotes")
    total_w = sum(weights.values())
    vals = ", ".join(f"('{k}', CAST({int(v)} AS BIGINT))" for k, v in weights.items())
    return f"""{prefix}_t AS (
        SELECT stratum, CAST(SUM(w) AS BIGINT) AS t FROM ({base_sql}) GROUP BY stratum
    ),
    {prefix}_j AS (
        SELECT t.stratum, t.t, w.wgt
        FROM {prefix}_t t JOIN (VALUES {vals}) AS w(stratum, wgt) USING (stratum)
        WHERE t.t > 0
    ),
    {prefix}_b AS (SELECT MIN((t * {total_w}) // wgt) AS b FROM {prefix}_j),
    {prefix}_rate AS (
        SELECT stratum,
               CASE WHEN t <= 0 THEN 0
                    ELSE LEAST({SPLIT_DENOM},
                               ({SPLIT_DENOM} * ((b * wgt) // {total_w})) // t) END
                   AS rate_bp
        FROM {prefix}_j CROSS JOIN {prefix}_b
    )"""


def split_bucket_oracle_sql(key_sql: str, salt: str = "") -> str:
    """DuckDB twin of :func:`split_bucket` (the bare basis-point bucket)
    for oracles that compare it against a data-derived threshold —
    q82's mix_keep does."""
    return f"({order_key_oracle_sql(key_sql, salt=salt)} % {SPLIT_DENOM})"


def order_key(key_col: str | Column, salt: str = "") -> Column:
    """60-bit md5-derived order key (the split_bucket digest WITHOUT the
    basis-point mod): the engine-portable 'random but reproducible' sort
    key that deterministic training-order shuffling rides on."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 15), 16, 10
    ).cast("long")


def order_key_oracle_sql(key_sql: str, salt: str = "") -> str:
    """DuckDB twin of :func:`order_key` for driver oracles."""
    if "'" in salt:
        raise ValueError("salt must not contain single quotes")
    return (
        f"CAST('0x' || substring(md5(CAST({key_sql} AS VARCHAR) || '{salt}'), 1, 15)"
        f" AS BIGINT)"
    )


# Bounded plan-keyed cache registry for ranged_running_total's staged
# frames (round 14, VERDICT r13 item 4 — repeated pipeline invocations
# must not accumulate executor storage; see functions/framecache.py for
# the reuse/eviction contract).  Capacity 5: one q85 call interleaves
# five ranged consumers — the standalone token-budget section, the DSIR
# and LM rank selections, the curate budget stage and the curate
# packing (text.pack_sequences) — so all five stay warm while storage
# stays bounded at five compact staged frames.
from emulating_hadoop_with_mpi_spark.functions.framecache import (  # noqa: E402
    PlanKeyedFrameCache,
)

_RANGED_CACHE = PlanKeyedFrameCache(capacity=5)


def unpersist_ranged_cache() -> None:
    """Release every staged frame persisted by
    :func:`ranged_running_total` calls (no-op if none) — for pipelines
    that want the executor storage back immediately after materializing
    their results."""
    _RANGED_CACHE.release_all()


def ranged_running_total(
    df: DataFrame,
    ord_col: Column,
    tie_col: str,
    val_col: Column,
    out_col: str,
    num_ranges: int = ORDER_NUM_RANGES,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Distributed running total of ``val_col`` over the global
    (``ord_col``, ``tie_col``) order of a numeric order key — restarted
    per ``group_cols`` value when given.  The one prefix sum of the
    package (sequence packing, token-budget and rank selection, the
    training-order shuffle).  NOT a bare ``Window.orderBy``, which would
    move the whole corpus to one task:

    1. ``approx_percentile`` range boundaries over the order key, global
       across groups (output is invariant to boundary placement — any
       contiguous-in-order range split yields the same prefix — so
       approximate percentiles only affect task balance: they make
       ranges count-balanced for sparse or skewed key spaces alike);
    2. per-range running totals, window partitioned by
       (``group_cols``, range id);
    3. per-range grand totals + an offset window partitioned by
       ``group_cols`` (a single partition of num_ranges rows without
       groups — fixed-size, not data-scale);
    4. total = range offset + in-range running total via a broadcast
       join, null-safe on ``group_cols`` (a NULL group is one group).

    Rows with equal order keys share a range id by construction (range
    id = #boundaries strictly below the key), and ``tie_col`` must be
    unique, so the order — and therefore the output — is total and
    deterministic.  ``num_ranges=1`` is the degenerate single-range case
    (legal, but a single-task window per group — only for tiny frames);
    the range machinery is skipped entirely rather than built from an
    empty percentile list, whose NULL bounds would NULL ``__rng`` and
    silently drop every row at the range join.

    EAGER at call time (ADVICE r14 — callers constructing frames
    speculatively pay this): merely BUILDING the returned frame runs the
    percentile-bounds aggregate over the input (a full input scan) and
    registers the staged frame in the bounded persist registry; the
    result itself stays lazy.  On a registry hit the collected bounds
    are reused from the entry's metadata, so a warm re-invocation is
    METADATA-ONLY — no aggregate, no scan (safe because the output is
    invariant to boundary placement; any cached split of the same data
    is as good as a fresh one).

    Storage contract: the staged frame is persisted (two consumers —
    range totals and the windowed pass — would otherwise each recompute
    the input lineage; the boundary agg doubles as the eager cache
    fill) through the bounded plan-keyed registry above — identical
    re-invocations reuse the warm frame, new plans evict the
    least-recently-used entry beyond capacity 5, so storage stays
    bounded no matter how many times a pipeline invokes shuffle/budget
    selection.  Call :func:`unpersist_ranged_cache` for an explicit
    early release.
    """
    from pyspark.sql import Window

    if num_ranges < 1:
        raise ValueError(f"num_ranges must be >= 1 (got {num_ranges})")
    g = list(group_cols or [])
    staged, meta = _RANGED_CACHE.lookup_entry(
        df.withColumn("__ord", ord_col).withColumn("__val", val_col.cast("long"))
    )
    # num_ranges=1 needs no bounds: the empty list puts every row in range 0
    bounds_key = f"bounds:{num_ranges}"
    bounds = meta.get(bounds_key) if num_ranges > 1 else []
    if bounds is None:
        probs = [i / num_ranges for i in range(1, num_ranges)]
        row = staged.agg(
            F.percentile_approx(
                "__ord", F.array(*[F.lit(p) for p in probs]), 10000
            ).alias("__bounds")
        ).collect()[0]
        bounds = [b for b in (row["__bounds"] or []) if b is not None]
        meta[bounds_key] = bounds
    if bounds:
        # ONE parsed array expression, not one py4j F.lit per bound
        # (~0.5 s for pack_sequences' 1,023); str(float) round-trips
        lits = [f"{b}L" if isinstance(b, int) else f"CAST('{b}' AS DOUBLE)" for b in bounds]
        arr = F.expr(f"array({', '.join(lits)})")
        rng = F.size(F.filter(arr, lambda b: b < F.col("__ord")))
    else:  # one range, or empty input (NULL percentiles, but no rows to range)
        rng = F.lit(0)
    staged = staged.withColumn("__rng", rng.cast("long"))
    w_in = Window.partitionBy(*g, "__rng").orderBy("__ord", tie_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = staged.withColumn("__cum_in", F.sum("__val").over(w_in))
    range_totals = staged.groupBy(*g, "__rng").agg(F.sum("__val").alias("__rt"))
    w_rng = Window.partitionBy(*(g or [F.lit(1)])).orderBy("__rng").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # joined null-safely on renamed keys: a NULL group is one group, as in
    # the windows and the range totals (an equi-join would drop its rows)
    keys = {k: f"__k{i}" for i, k in enumerate([*g, "__rng"])}
    offsets = range_totals.select(
        *[F.col(k).alias(r) for k, r in keys.items()],
        F.coalesce(F.sum("__rt").over(w_rng), F.lit(0)).alias("__off"),
    )
    on = [F.col(k).eqNullSafe(F.col(r)) for k, r in keys.items()]
    return (
        local.join(F.broadcast(offsets), on)
        .withColumn(out_col, (F.col("__off") + F.col("__cum_in")).cast("long"))
        .drop("__ord", "__val", "__rng", "__cum_in", "__off", *keys.values())
    )


def global_order_index(
    df: DataFrame,
    key_col: str,
    salt: str = "",
    pos_col: str = "shuffle_pos",
    num_ranges: int = ORDER_NUM_RANGES,
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets its
    1-based position under the md5-keyed order (``order_key``, ties by
    the unique ``key_col``) — the reproducible "shuffle the corpus
    before sharding" op every training run needs, with none of
    ``rand()``'s layout dependence.  position = distributed prefix COUNT
    (``ranged_running_total`` with value 1), so re-runs, repartitions,
    and other engines (``ROW_NUMBER() OVER (ORDER BY md5key, key)`` —
    q86's oracle re-derives it) produce the identical permutation.

    EAGER at call time like ``ranged_running_total`` (which it wraps —
    ADVICE r14): building the frame runs the percentile-bounds scan and
    registers a persisted staged frame in the bounded registry; warm
    plan-identical re-invocations are metadata-only."""
    return ranged_running_total(
        df,
        ord_col=order_key(key_col, salt=salt),
        tie_col=key_col,
        val_col=F.lit(1),
        out_col=pos_col,
        num_ranges=num_ranges,
    )


def stratified_keep_oracle_case(
    key_sql: str,
    strata_sql: str,
    fractions: dict[str, float],
    default: float = 1.0,
    salt: str = "",
) -> str:
    """The DuckDB twin of :func:`stratified_keep` for driver oracles."""
    if any("'" in name for name in fractions):
        raise ValueError("strata names must not contain single quotes")
    bucket = split_bucket_oracle_sql(key_sql, salt=salt)
    if not fractions:
        return f"({bucket} < {int(round(default * SPLIT_DENOM))})"
    whens = " ".join(
        f"WHEN '{name}' THEN {int(round(frac * SPLIT_DENOM))}"
        for name, frac in fractions.items()
    )
    return (
        f"({bucket} < CASE {strata_sql} {whens} "
        f"ELSE {int(round(default * SPLIT_DENOM))} END)"
    )
