#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Results are materialized with the noop sink (full execution, no driver
collect) — measuring the engine, not the driver's row transfer.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from emulating_hadoop_with_mpi_spark import get_spark
from emulating_hadoop_with_mpi_spark.registry import all_queries

# Fixed-work calibration canary (VERDICT r8 item 2): rounds 7→8 showed the
# official headline swinging 1.3-1.7× from host throttling alone, which made
# the ratchet unreadable.  Two deterministic probes measured at bench start
# AND end let a reader normalize any run against the box's speed that day:
# - py_1core:   a pure-Python arithmetic loop (GIL-pinned, BLAS-free) —
#               tracks single-core clock (throttling shows up here first).
# - spark_32core: a tiny fixed Spark job (range → xxhash64 → sum) across
#               all cores — tracks the whole-box throughput the basket sees.
# REF constants were measured on this sandbox at calm load (loadavg < 2,
# round 9); "value_normalized" = value · (PROBE_REF_SEC / probe_median),
# i.e. normalization rides the MEDIAN of the per-entry 1/10-scale python
# probes (falling back to the py canary mean when no probes ran) — the
# spark canary is recorded for the reader but unused in normalization
# (ADVICE r9: this comment previously described a spark-ref formula the
# code never implemented).
CANARY_PY_LOOP_N = 20_000_000
CANARY_SPARK_ROWS = 1 << 30
# Calm-load reference (this sandbox, round 9, loadavg ~1, measured by
# bench.py's own in-function probe — function-local loop variables run
# ~1.7× faster than a module-scope calibration, so refs MUST come from
# this code path): py legs 1.65-1.74 s, spark warm-min 0.24-0.39 s.
# Normalization uses the py probe — single-core, GIL-pinned, no
# JIT/scheduler variance — which moves 1:1 with the clock throttling
# NOTES r8 diagnosed (a loadavg-14 control read it at 2.1-2.2 s).
CANARY_PY_REF_SEC = 1.70
CANARY_SPARK_REF_SEC = 0.30

# Load-aware headline protocol (round 16, VERDICT r15 item 1): each
# headline leg is bracketed by a tiny fixed 32-core Spark job (half the
# canary's rows) — the only signal that actually sees CO-TENANT multi-core
# contention on this sandbox.  Measured round 16: /proc/loadavg here is
# NAMESPACE-LOCAL (read 0.4-2.7 while a 32-proc burn got ~half the box and
# the spark canary ran 6× slow), so the r15 loadavg field can NOT detect
# neighbors — only self-load.  A leg invocation counts as CALM when both
# its bracketing probes are fast in BOTH senses:
#   absolute — ≤ SPARK_PROBE_ABS_CALM_SEC (2× the calm-box reference), or
#   relative — ≤ SPARK_PROBE_REL_FACTOR × the run's own probe floor
#              (robust to a uniformly slower host SKU between rounds).
# Legs with no calm invocation get bounded end-of-run retries; a headline
# with legs that NEVER saw a calm window is annotated, not silently slow.
SPARK_PROBE_ROWS = 1 << 29
# Re-anchored from the SHIPPED calm artifact (round 17, VERDICT r16 item
# 2): the official r16 driver run — headline_load "calm", 11/11 gates —
# recorded spark_probe_floor 0.127 with a 70-probe distribution of
# median 0.17 / p75 0.20 / max 0.35.  The ref is the artifact floor
# (rounded): the box's demonstrated reference-class multi-core
# throughput measured by THIS code path.  Its only classification role
# is the degraded_host bar (probe_floor > 2× ref = 0.26 s — a run whose
# calmest window is 2× the demonstrated floor never reached
# reference-class throughput); the per-leg calm bar is the independent
# absolute constant below.  (The original 0.20 was derived from the
# 1<<30 canary ref before any calm artifact existed; a stale r16-era
# comment here claimed the box "never went calm: floor 1.06" — that was
# a mid-round contended LOCAL run, superseded by the calm official
# artifact the same round.)
SPARK_PROBE_REF_SEC = 0.13
# Calm bar, round-16 run 2 calibration — UNCHANGED by the r17 ref
# re-anchor (it is an absolute bar against the measured 0.13-0.23 calm
# band, ~1.5-1.75× the calm-day median 0.17, and 96% of the calm r16
# artifact's probes sit under it): at the old 2×-ref bar (0.40) legs
# whose brackets read 0.33-0.37 still ran 2-3× slow (q84 3.62 at
# [0.374, 0.33]; q05 2.66 at [0.306, 0.233]) — the probe is a short
# burst and under-reads sustained contention, so its calm bar must sit
# close to the calm band.  A mid-leg stripe that both brackets straddle
# remains invisible by construction — min-of-reps and the stage-sum
# gates are the layers that absorb that case.
SPARK_PROBE_ABS_CALM_SEC = 0.30
SPARK_PROBE_REL_FACTOR = 1.6
HEADLINE_RETRY_ROUNDS = 2

# Registered-leg gate ceilings for the five gated sf10 legs — defined
# ONCE so the conditional calm third pass and the gate block can never
# drift apart.  These are the loose catastrophic backstops (the primary
# gates are the stage-leg sums); their calibration history lives at the
# respective gate call sites.
SF10_GATED_CEILINGS = {
    "sf10_q70_dedup_exact": 24.0,
    # 75 → 65 (round 17, VERDICT r16 item 3, confirm-then-tighten):
    # registered min-of-2 band — calm 33.1-36.5 (r11/r13), contended-day
    # samples 52.0 normalized 67.4 (r16, load 23.8, passed only against
    # 75) and 43.3 (r17 run 1, both samples mid-leg-striped at calm
    # brackets); 65 keeps ~1.8× over calm while the old 75 sat above
    # even the worst contended reading ever recorded.  A striped sample
    # past 65 with no calm bracket reads indeterminate, not fail.
    "sf10_q73_minhash_lsh_neardup": 65.0,
    # 60 → 45 (round 17): registered min-of-2 band 25.9/29.4 raw (r16
    # runs), 33.4 normalized (r16 official), 25.9/28.0 in r17's two
    # runs.  45 (not the verdict's ~40): r17 run 2's second q74 sample
    # striped to 37.3 at calm brackets (min-of-2 absorbed it), and the
    # sibling sim120 registered leg striped to 40.6 the same run — a
    # both-samples-striped event would false-red a 40 ceiling on green
    # code, while the sim64-collapse class this ceiling exists for
    # (132 s at r8) is unmissable at 45 too.
    "sf10_q74_simhash_neardup": 45.0,
    # 90 → 70 (round 17): registered min-of-2 band — calm 27.6-35.2,
    # striped-at-calm-brackets readings 44.1 (r12) and 47.8 (r17 run 2,
    # both samples slow under calm probe pairs while the stage sum read
    # 20.8).  70 ≈ 2× the calm band top and 1.45× the worst observed
    # green-code reading (the verdict's ~60 had only 1.25× margin over
    # r17's own 47.8); the old 90 predates the calm-retry machinery.
    "sf10_ppjoin_pairs": 70.0,
    "sf10_simhash120_neardup": 60.0,
}

# Extras legs eligible for the bounded end-of-run calm retry (round 17,
# VERDICT r16 item 1): the multi-second informational reads whose
# cross-round comparisons carried contention noise the headline no
# longer does (r16 shipped q85_chunk_documents at 20.89 s under
# recorded load 14 vs quiet-box 15.7-16.6; matmul_auto_2048 at 14.95
# under load 21.6; sf10_q73 registered at 52.0 under load 23.8 vs calm
# stage-sum 24.0), plus every sf1/sf3 slope numerator/denominator — a
# contended denominator silently inflates its slope even when both
# gates stay green.  One retry round, reps=1, min-merged: worst case
# ~5-6 min added wall, only on a run whose first samples were all
# contended.
EXTRAS_RETRY = (
    "q85_chunk_documents",
    "curate_extended",
    "matmul_auto_2048",
    "matmul_auto_rect_128x4096x4096",
    "sf10_q70_dedup_exact",
    "sf10_q73_minhash_lsh_neardup",
    "sf10_q74_simhash_neardup",
    "sf10_q84_tfidf_top_terms",
    "sf10_ppjoin_pairs",
    "sf10_simhash120_neardup",
    "sf1_q01_pricing_summary",
    "sf1_q05_region_revenue",
    "sf1_q70_dedup_exact",
    "sf1_q72_ngram_jaccard_pairs",
    "sf1_q73_minhash_lsh_neardup",
    "sf1_q74_simhash_neardup",
    "sf1_q84_tfidf_top_terms",
    "sf1_ppjoin_pairs",
    "sf1_simhash120_neardup",
    "sf1_q71_fuzzy_dedup",
    "sf1_semantic_neardup_lsh",
    "sf1_q86_pack_sequences",
    "sf1_curate_extended",
    "sf1_duplicate_spans_n10",
    "sf1_dsir_scores",
    "sf1_clf_train_score",
    "sf1_lm_xent",
    "sf1_bpe_train_encode_48",
    "sf3_q70_dedup_exact",
    "sf3_q72_ngram_jaccard_pairs",
    "sf3_q73_minhash_lsh_neardup",
    "sf3_ppjoin_pairs",
    "sf3_q71_fuzzy_dedup",
)

HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q03_top_revenue_orders",
    "q05_region_revenue",
    "q06_forecast_revenue",
    "q14_distinct_agg",
    # windows / events
    "q30_window_topk_per_customer",
    "q31_window_running_total",
    "q50_time_buckets",
    "q51_sessionize",
    "q52_json_extract",
    "q23_asof_join",
    # flagship matmul
    "q60_matmul_gram",
    # LLM-pipeline ops
    "q70_dedup_exact",
    "q72_ngram_jaccard_pairs",
    "q73_minhash_lsh_neardup",
    "q76_cosine_topk",
    "q80_token_stats",
    "q81_quality_score",
    "q83_fingerprint",
    "q84_tfidf_top_terms",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry = all_queries()

    # warm the JVM + file listing with a trivial action
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    def run_canary() -> dict[str, float]:
        """One fixed-work probe pair; called at bench start and end."""
        t0 = time.perf_counter()
        acc = 0
        for i in range(CANARY_PY_LOOP_N):
            acc += i * i & 1023
        py_sec = round(time.perf_counter() - t0, 3)
        spark_legs = []
        for _ in range(3):  # min-of-3: discard whole-stage-codegen JIT warmup
            t0 = time.perf_counter()
            spark.range(CANARY_SPARK_ROWS).selectExpr(
                "bit_xor(xxhash64(id)) AS s"  # overflow-free under ANSI mode
            ).collect()  # 1-row collect: bounded, measures the 32-core job
            spark_legs.append(round(time.perf_counter() - t0, 3))
        return {"py_1core_sec": py_sec, "spark_32core_sec": min(spark_legs)}

    canary_start = run_canary()

    samples: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    probes: dict[str, float] = {}

    # Per-entry clock probe (round 9): the start/end canary pair proved
    # insufficient — the sandbox's throttling OSCILLATES on minute
    # timescales, so a run can read calm at both ends while individual
    # entries land in a 2-4× slow window (run 4: flat canaries, q80 at
    # 4.4× with all three reps slow).  A 1/10-scale python loop (~0.17 s
    # calm) timed immediately before each entry attributes drift
    # per-entry; value_normalized uses the MEDIAN probe (robust to
    # oscillation), and BENCH_DETAIL carries every probe so any slow
    # entry can be checked against the clock it actually ran under.
    PROBE_LOOP_N = CANARY_PY_LOOP_N // 10
    PROBE_REF_SEC = CANARY_PY_REF_SEC / 10

    def _py_probe() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(PROBE_LOOP_N):
            acc += i * i & 1023
        return round(time.perf_counter() - t0, 3)

    # Host load per leg (round 15): the 1-core probe is blind to
    # MULTI-CORE contention — the r15 ppjoin false-red read 70.6 s with a
    # calm 0.137 probe while /proc/loadavg sat at 15-20 from co-tenants
    # (32-thread shuffle legs degrade 2-3× in that state).  Recording the
    # 1-minute loadavg next to each leg's probe makes that forensics a
    # field in the artifact instead of a manual session-time check.
    # NOTE: once OUR OWN Spark legs are running the value includes
    # self-load — read it relative to the ~leg-parallelism baseline, and
    # treat high values on the FIRST leg (before any self-load) as the
    # unambiguous co-tenant signal.
    def _host_load() -> float:
        try:
            with open("/proc/loadavg") as f:
                return float(f.read().split()[0])
        except Exception:
            return -1.0

    # max-merged across a label's repeats: the field is an alarm bell —
    # a LOW max proves no sample ran contended, a high max says at least
    # one did (the min-merged TIME may still have come from a calm pass).
    # CAVEAT (round 16): this sandbox's /proc/loadavg is namespace-local —
    # it records OUR self-load only and is blind to co-tenants (measured:
    # loadavg 0.4-2.7 while a 32-proc burn got ~half the box).  Kept as a
    # self-load record; co-tenant detection is the spark probe below.
    loads: dict[str, float] = {}

    # 32-core spark micro-probe — the co-tenant contention detector (see
    # the SPARK_PROBE_* constants).  All values pool into one list so the
    # run's floor (its calmest observed window) anchors the relative calm
    # test; per-leg (before, after) pairs classify each invocation.
    spark_probe_values: list[float] = []
    spark_probe_pairs: dict[str, list[tuple[float, float]]] = {}

    def _spark_probe() -> float:
        t0 = time.perf_counter()
        spark.range(SPARK_PROBE_ROWS).selectExpr(
            "bit_xor(xxhash64(id)) AS s"
        ).collect()
        v = round(time.perf_counter() - t0, 3)
        spark_probe_values.append(v)
        return v

    def _probe_calm_threshold() -> float:
        floor = min(spark_probe_values) if spark_probe_values else 0.0
        return max(SPARK_PROBE_ABS_CALM_SEC, SPARK_PROBE_REL_FACTOR * floor)

    def _calm_legs() -> set[str]:
        """Labels with ≥1 invocation whose bracketing probes BOTH read
        calm — contention that starts mid-leg trips the after-probe."""
        thr = _probe_calm_threshold()
        return {
            label
            for label, pairs in spark_probe_pairs.items()
            if any(max(b, a) <= thr for b, a in pairs)
        }

    def run_timed(
        build, label: str | None = None, reps: int = 3, spark_probe: bool = False
    ) -> float:
        """min of three runs — steady-state, less single-JVM JIT/GC noise.
        All per-leg samples are recorded into the JSON so a ratchet reader
        can tell noise (one bad leg) from regression (all legs slow).
        Long scale legs (sf10) pass reps=1 and are instead RE-RUN in a
        second non-consecutive pass (see the sf10 block): NOTES r9's
        lesson is that a calm before-leg probe cannot see throttle that
        starts MID-leg, so single-sample sf10 numbers must be read as
        min-across-runs — which re-invocation makes official.  Repeat
        calls with the same label MERGE: samples accumulate, the probe
        keeps its minimum (the calmest clock, pairing with the min leg),
        and the caller keeps the min time."""
        if label is not None:
            p = _py_probe()
            probes[label] = min(probes.get(label, p), p)
            load = _host_load()
            loads[label] = max(loads.get(label, load), load)
        probe_before = _spark_probe() if spark_probe and label is not None else None
        legs: list[float] = []
        for _ in range(reps):
            # Collect py4j plan-object garbage BEFORE each leg (round 15):
            # plan-heavy builds (the curate composition) leave tens of
            # thousands of JVM-side objects alive via py4j references
            # until Python's cyclic GC runs; without this, q85's reps
            # read 49 → 79 → 157 s (measured) — a 3× artifact of
            # driver-side garbage, not of the query.  Untimed.
            gc.collect()
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            legs.append(round(time.perf_counter() - t0, 3))
        # queries that cache intermediates (q72/q73) must not carry memory
        # pressure into the next measurement
        spark.catalog.clearCache()
        if probe_before is not None:
            probe_after = _spark_probe()
            spark_probe_pairs.setdefault(label, []).append(
                (probe_before, probe_after)
            )
        if label is not None:
            samples.setdefault(label, []).extend(legs)
        return min(legs)

    def run_entry(
        label: str,
        build,
        sink: dict[str, float],
        reps: int = 3,
        spark_probe: bool = False,
    ) -> None:
        """Failure-isolated: one broken query records an error entry and
        the rest of the bench still produces numbers.  Re-running a label
        keeps the min across invocations (sf10 min-of-2 protocol)."""
        try:
            t = run_timed(build, label, reps=reps, spark_probe=spark_probe)
            sink[label] = min(sink.get(label, t), t)
        except Exception as e:  # noqa: BLE001 — harness must degrade per-entry
            spark.catalog.clearCache()
            errors[label] = f"{type(e).__name__}: {e}"[:500]

    def stage_timed(label: str, thunk) -> None:
        """One stage leg: probe + time + min-merge (run_entry's merge
        semantics for manually-timed stages).  Defined at main scope
        (round 17) so the matmul_auto_2048 stage pass can share it with
        the sf10 stage passes; results land in ``extras``."""
        p = _py_probe()
        probes[label] = min(probes.get(label, p), p)
        load = _host_load()
        loads[label] = max(loads.get(label, load), load)
        t0 = time.perf_counter()
        thunk()
        v = round(time.perf_counter() - t0, 3)
        samples.setdefault(label, []).append(v)
        extras[label] = min(extras.get(label, v), v)

    # Builders retained per extras label (round 17, VERDICT r16 item 1)
    # so the end-of-run calm retry pass can re-invoke the expensive
    # informational legs exactly as the headline pass re-invokes its —
    # see EXTRAS_RETRY for which labels actually get retried.
    extras_builders: dict = {}

    def run_extra(label, build, sink, reps: int = 3, spark_probe: bool = True) -> None:
        """run_entry with the extras discipline: spark-probe bracketing
        ON by default — every extras leg carries (before, after) probe
        pairs like the gated legs, so BENCH_DETAIL readers can tell a
        contended informational sample from a calm one — and the builder
        retained for the EXTRAS_RETRY end-of-run pass.  Only EXTRAS_RETRY
        labels are retained: several non-retry legs (the zipf corpus
        legs, matmul_dat_768) close over TemporaryDirectory-backed files
        that are deleted before the retry pass runs — retaining their
        builders would be a landmine for anyone extending the retry
        list without checking input lifetimes."""
        if label in EXTRAS_RETRY:
            extras_builders[label] = build
        run_entry(label, build, sink, reps=reps, spark_probe=spark_probe)

    # JIT-warm the probe's exact codegen shape before any classification
    # sample lands in the pool (the very first probe carries C2 compilation
    # — measured 12.0 s vs 1.5 s steady on the same window).
    for _ in range(2):
        _spark_probe()
    spark_probe_values.clear()

    # Builders retained per headline label so the end-of-run load-aware
    # retry pass can re-invoke any leg (run_entry min-merges).
    headline_builders: dict = {}

    timings: dict[str, float] = {}
    for name in HEADLINE:
        q = registry[name]
        headline_builders[name] = (lambda q=q: q.fn(spark, sf_dir))
        run_entry(name, headline_builders[name], timings, spark_probe=True)

    # flagship matrix-multiply at generated scale (the reference's own job;
    # 768^3 = 906M scalar products vs its 32^3 default)
    from emulating_hadoop_with_mpi_spark.mapreduce import matmul_block, matmul_coo
    from emulating_hadoop_with_mpi_spark.sources.datagen import generate_matrix_df

    for label, n, fn in (
        ("matmul_coo_768", 768, lambda a, b: matmul_coo(a, b)),
        ("matmul_block_768", 768, lambda a, b: matmul_block(a, b, block=128)),
    ):
        a = generate_matrix_df(spark, n, n, seed=1, num_partitions=int(cpus))
        b = generate_matrix_df(spark, n, n, seed=2, num_partitions=int(cpus))
        headline_builders[label] = (lambda fn=fn, a=a, b=b: fn(a, b))
        run_entry(label, headline_builders[label], timings, spark_probe=True)

    extras: dict[str, float] = {}

    # matmul_auto above the block boundary (VERDICT r8 item 6): both
    # shapes dispatch to blocked GEMM under the measured 1B-product
    # crossover (see matmul_auto's docstring for the full strategy A/B —
    # at 2.1B products on the rectangle, block 4.3 s vs broadcast-A
    # 33.2 s vs COO 20.4 s).  dims passed explicitly, so no count jobs
    # run before the multiply.
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import matmul_auto as _mm_auto

    big_a = generate_matrix_df(spark, 2048, 2048, seed=1, num_partitions=int(cpus))
    big_b = generate_matrix_df(spark, 2048, 2048, seed=2, num_partitions=int(cpus))
    run_extra(
        "matmul_auto_2048",
        lambda: _mm_auto(big_a, big_b, dims=(2048, 2048, 2048)),
        extras,
        reps=1,
    )
    rect_a = generate_matrix_df(spark, 128, 4096, seed=3, num_partitions=int(cpus))
    rect_b = generate_matrix_df(spark, 4096, 4096, seed=4, num_partitions=int(cpus))
    run_extra(
        "matmul_auto_rect_128x4096x4096",
        lambda: _mm_auto(rect_a, rect_b, dims=(128, 4096, 4096)),
        extras,
        reps=1,
    )

    # Stage-sum basis for matmul_auto_2048 (round 17, VERDICT r16 item
    # 5): the one remaining multi-second matmul leg gets the q70/q73
    # treatment — short stage legs min-merged across two NON-CONSECUTIVE
    # passes (here and in the end-of-run second-pass block), whose SUM
    # is the contention-robust read a gate could later ride.  The stages
    # are the SHIPPED dispatch's plan (matmul_auto at 2048^3 -> blocked
    # GEMM, block=256): stage 1 = the two B×B tile-build exchanges
    # (cached, as the join will consume them); stage 2 = the bk tile
    # join + Arrow GEMM + final (i,k) aggregation over the cached tiles,
    # injected via matmul_block's tiles_a=/tiles_b= (the ranked=/cands=
    # idiom; equivalence pinned in test_matmul.py).
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import (
        block_tiles_a,
        block_tiles_b,
        matmul_block as _mm_block,
    )

    def matmul2048_stage_pass() -> None:
        gc.collect()
        ta = block_tiles_a(big_a, 256).cache()
        tb = block_tiles_b(big_b, 256).cache()

        def _tiles_build() -> None:
            ta.write.format("noop").mode("overwrite").save()
            tb.write.format("noop").mode("overwrite").save()

        stage_timed("matmul2048_stage1_tiles", _tiles_build)
        stage_timed(
            "matmul2048_stage2_join_gemm_agg",
            lambda: _mm_block(big_a, big_b, block=256, tiles_a=ta, tiles_b=tb)
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        ta.unpersist()
        tb.unpersist()

    def matmul2048_stage_guarded() -> None:
        """Same degrade discipline as the sf10 stage passes: a crashed
        pass records an error entry instead of killing the run."""
        try:
            matmul2048_stage_pass()
        except Exception as e:  # noqa: BLE001 — harness must degrade
            spark.catalog.clearCache()
            errors["matmul2048_stage_pass"] = f"{type(e).__name__}: {e}"[:500]

    matmul2048_stage_guarded()

    # .dat scan + multiply end-to-end: times the vectorized binary reader
    # (sources/matrix.py byte-range splits + Arrow batches) on the
    # reference's own file format, not just generated DataFrames.
    import tempfile

    import numpy as np

    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import multiply_dat_files
    from emulating_hadoop_with_mpi_spark.sources.matrix import write_matrix_dat

    with tempfile.TemporaryDirectory() as dat_dir:
        rng = np.random.default_rng(7)
        pa = write_matrix_dat(
            rng.integers(0, 100, (768, 768), dtype=np.int32), dat_dir, 1
        )
        pb = write_matrix_dat(
            rng.integers(0, 100, (768, 768), dtype=np.int32), dat_dir, 2
        )
        run_extra("matmul_dat_768", lambda: multiply_dat_files(spark, pa, pb), extras)

    # Training-batch assembly ops (q85/q86, registered late round 3): in
    # extras, not the ratcheted headline basket, to keep the 22-entry
    # basket comparable across rounds.
    # q76b (IVF==brute equivalence, incl. k-means training) is an extra,
    # not headline: q76 stays brute-only so the 22-entry basket timing is
    # comparable across rounds (ADVICE r6).
    # q85's curate section registers localCheckpoint()ed anchors that
    # SURVIVE run_timed's catalog.clearCache() (checkpoint blocks are
    # RDD-level) — release them per rep so min-of-3 times the cold
    # composition, not a checkpoint re-read.
    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        release_curate_cache,
    )

    for name in (
        "q85_chunk_documents",
        "q86_pack_sequences",
        "q76b_ivf_equals_brute",
        "q74_simhash_neardup",
        # round 17: q27 joined the timed extras after the distinct-rewrite
        # pathology fix (operators/advanced.py — 24.7 s → 2.4 s at sf0.1);
        # recorded so any regression back toward sketch-per-order state
        # is visible in the artifact, not just in driver correctness time.
        "q27_approx_sketches",
    ):
        q = registry[name]
        if name == "q85_chunk_documents":
            def _cold_q85(q=q):
                release_curate_cache()
                return q.fn(spark, sf_dir)

            run_extra(name, _cold_q85, extras)
        else:
            run_extra(name, lambda q=q: q.fn(spark, sf_dir), extras)

    # simhash120: q74's contract at 120-bit sketch width — the documented
    # corpus-scale configuration (24-bit pigeonhole blocks cut random
    # collision mass ~2^11×; see functions/dedup.py SIMHASH120_BLOCKS).
    from emulating_hadoop_with_mpi_spark.functions.dedup import simhash120_neardup_pairs
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    sf_docs = load_table(spark, sf_dir, "documents")
    run_extra("simhash120_neardup", lambda: simhash120_neardup_pairs(sf_docs), extras)

    # cross-document duplicated-span detection (round 9): substring-level
    # dedup — two exchanges of the token stream (see duplicate_spans) —
    # plus its remediation (keep-first span cutting) and the PII scrub
    # pass (map-only regexp chain), so the curation additions stay
    # measured per-round.
    from emulating_hadoop_with_mpi_spark.functions.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from emulating_hadoop_with_mpi_spark.functions.pipeline import redact_pii

    run_extra("duplicate_spans_n10", lambda: duplicate_spans(sf_docs, n=10), extras)
    run_extra(
        "remove_duplicate_spans_n10",
        lambda: remove_duplicate_spans(sf_docs.select("doc_id", "text"), n=10),
        extras,
    )
    run_extra("redact_pii", lambda: redact_pii(sf_docs), extras)

    # DSIR importance scoring (round 10): hashed-bigram LLR selection —
    # one bucket-count exchange + K-row broadcast weights (dsir.py).
    from pyspark.sql import functions as _F

    from emulating_hadoop_with_mpi_spark.functions.dsir import dsir_scores

    run_extra(
        "dsir_scores",
        lambda: dsir_scores(
            sf_docs.select("doc_id", "lang", "text"),
            is_target=_F.col("lang") == "en",
        ),
        extras,
    )

    # Quality-classifier training + scoring (round 10): 16 full-batch GD
    # iterations over the cached feature frame + map-only inference
    # (classifier.py) — per-iteration cost is a cache scan + one-row agg.
    from emulating_hadoop_with_mpi_spark.functions.classifier import quality_clf_scores
    from emulating_hadoop_with_mpi_spark.functions.text import quality_scores

    run_extra(
        "clf_train_score",
        lambda: quality_clf_scores(quality_scores(sf_docs.select("doc_id", "text"))),
        extras,
    )

    # Bigram-LM cross-entropy (round 10): CCNet-style perplexity filter —
    # one token-stream exchange builds the per-doc profile; the LM tables
    # are vocabulary-sized reductions of it (lm.py).
    from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent

    run_extra(
        "lm_xent",
        lambda: bigram_lm_xent(sf_docs.select("doc_id", "text")),
        extras,
    )

    # BPE tokenizer training + encoding (round 10): one corpus-sized
    # shuffle builds the word table; each of the 48 merge rounds is a
    # vocab-sized job; encode is a map-only nested-replace projection
    # (bpe.py).  run_timed needs a DataFrame, so train INSIDE the thunk
    # and return the encode frame — the timed leg covers both.
    from emulating_hadoop_with_mpi_spark.functions.bpe import bpe_encode, bpe_train

    run_extra(
        "bpe_train_encode_48",
        lambda: bpe_encode(
            sf_docs.select("doc_id", "text"),
            bpe_train(sf_docs.select("doc_id", "text"), num_merges=48, batch_k=8),
        ),
        extras,
        reps=1,
    )

    # BM25 ranked retrieval (round 10): query-vocabulary semi-join keeps
    # postings candidate-bounded (search.py).
    from emulating_hadoop_with_mpi_spark.functions.search import bm25_topk

    run_extra(
        "bm25_topk",
        lambda: bm25_topk(
            sf_docs, ["spark hash join", "table scan fast", "window sort"], k=10
        ),
        extras,
    )

    # q75b: bucketed embedding near-dup over the full embeddings table
    # (the dedup-family scale path on the vector side, round 8).  Since
    # round 10 the registered query also carries the SemDeDup 'drop'
    # section (connected components over the pair graph), so this entry
    # absorbed the CC rounds — expect it above its r9 figure with the
    # added functionality.
    q75b = registry["q75b_semantic_neardup_lsh"]
    run_extra("semantic_neardup_lsh", lambda: q75b.fn(spark, sf_dir), extras)

    # The full curation composition (functions/pipeline.py): quality gate
    # -> exact dedup -> leakage-safe split -> chunk -> grouped pack ->
    # chunk-text join, materialized end-to-end.
    from emulating_hadoop_with_mpi_spark.functions.pipeline import curate_corpus
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    run_extra("pipeline_curate", lambda: curate_corpus(docs), extras)

    # Benchmark decontamination over the full documents table: the
    # "benchmark" is a deterministic slice of corpus texts (every 97th
    # doc's first 24 tokens) so hits actually occur; broadcast n-gram
    # match, corpus shingles never shuffled.
    from emulating_hadoop_with_mpi_spark.functions.pipeline import decontaminate
    from pyspark.sql import functions as F

    bench_prompts = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 24)).alias("text"))
    )
    run_extra("decon_documents", lambda: decontaminate(docs, bench_prompts), extras)

    # The EXTENDED curate composition as its own leg (round 15, VERDICT
    # r14 item 2): the exact q85 'curate' config — quality → decon →
    # dedup → span cut (in-pass re-scoring) → DSIR top-fraction →
    # mixture → token budget → chunk → split → pack — materialized
    # end-to-end.  build() includes the composition's EAGER
    # plan-construction actions (rank bounds, rate aggregate, prefix
    # bounds, anchor persists), which is exactly the job-count overhead
    # class that bit r13; the sf1 twin below gives this cost its first
    # measured decade point.
    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        PII_PATTERNS_RE2,
        curate_frames,
    )
    from emulating_hadoop_with_mpi_spark.functions.text import (
        CHUNK_STRIDE,
        CHUNK_WINDOW,
        CURATE_DSIR_KEEP,
        CURATE_LM_KEEP,
        CURATE_MIN_QUALITY,
        CURATE_MIX_SALT,
        CURATE_MIXTURE,
        CURATE_SPAN_N,
        CURATE_TOKEN_BUDGET,
        DECON_SECTION_MOD,
        DECON_SECTION_N,
        DECON_SECTION_PROMPT,
        PACK_BUDGET,
        tokens_col,
    )

    def _curate_extended(frame):
        release_curate_cache()  # cold per rep: see the q85 entry note
        prompts = frame.filter(
            F.pmod(F.col("doc_id"), F.lit(DECON_SECTION_MOD)) == 0
        ).select(
            F.concat_ws(" ", F.slice(tokens_col(), 1, DECON_SECTION_PROMPT)).alias(
                "text"
            )
        )
        return curate_frames(
            frame,
            min_quality=CURATE_MIN_QUALITY,
            window=CHUNK_WINDOW,
            stride=CHUNK_STRIDE,
            budget=PACK_BUDGET,
            benchmark=prompts,
            decon_ngram=DECON_SECTION_N,
            cut_span_ngram=CURATE_SPAN_N,
            dsir_target=F.col("lang") == "en",
            dsir_keep_frac=CURATE_DSIR_KEEP,
            lm_keep_frac=CURATE_LM_KEEP,
            mixture=CURATE_MIXTURE,
            mixture_salt=CURATE_MIX_SALT,
            token_budget=CURATE_TOKEN_BUDGET,
            # round 16: the shipped composition ends with RE2 redaction
            # (q85 carries it under the driver hash); the timed extended
            # leg runs the same chain — on the PII-free sf corpus the
            # rewrite is a no-op, but the regex projection cost is real
            redact=True,
            redact_patterns=PII_PATTERNS_RE2,
        )["curated"]

    run_extra("curate_extended", lambda: _curate_extended(docs), extras)

    # (headline total is computed AFTER the load-aware retry pass below)

    # Skewed-key join legs (VERDICT r2 item 4): one hot key holding 80% of
    # a generated fact table, joined to a 1k-row dim with broadcast joins
    # DISABLED (the regime where salting matters — when the small side
    # can't broadcast, e.g. it's only small relative to the fact table).
    # Like matmul_dat_768, reported under "extras", NOT in the headline
    # total, so the ratcheted total stays comparable across rounds (same
    # 22-entry basket).
    extras.update(bench_skew_join(spark, run_timed, run_entry, rows=16_000_000))

    # PPJoin crossover (VERDICT r5 item 6): on a long-tail Zipfian corpus
    # the prefix-filtered exact join must beat the direct shingle
    # self-join; on the driver's tiny-vocab corpus it loses (documented in
    # q72's docstring).  Both measured so the crossover is data, not lore.
    # The corpus is MATERIALIZED to parquet before any timed leg (VERDICT
    # r6 what's-wrong #3) so leg 1 measures the join, not datagen.
    from emulating_hadoop_with_mpi_spark.functions.dedup import (
        exact_jaccard_pairs,
        ppjoin_pairs,
    )
    from emulating_hadoop_with_mpi_spark.sources.datagen import zipf_corpus

    with tempfile.TemporaryDirectory() as zipf_dir:
        zp = os.path.join(zipf_dir, "zipf.parquet")
        zipf_corpus(
            spark, n_docs=20_000, doc_len=60, vocab=200_000, num_partitions=int(cpus)
        ).write.parquet(zp)
        zipf = spark.read.parquet(zp)
        zipf.count()  # warm file listing; the scan itself is the measured input
        run_extra(
            "zipf_direct_jaccard",
            lambda: exact_jaccard_pairs(zipf, persist=True),
            extras,
        )
        run_extra(
            "zipf_ppjoin_jaccard", lambda: ppjoin_pairs(zipf, persist=True), extras
        )
        # The crossover legs (VERDICT r6 item 2, settled round 7): at the
        # classic near-dup threshold J ≥ 0.8 the prefix keeps only ~20% of
        # each doc's shingles, and at 200k docs PPJoin beats the direct
        # join (measured: min 16.05 s vs 17.39 s).  At t = 0.5 (the q72
        # contract) the prefix keeps half the shingles and the direct join
        # wins at every size measured up to 200k — both claims are data.
        zp2 = os.path.join(zipf_dir, "zipf200k.parquet")
        zipf_corpus(
            spark, n_docs=200_000, doc_len=60, vocab=200_000, num_partitions=int(cpus)
        ).write.parquet(zp2)
        zipf2 = spark.read.parquet(zp2)
        zipf2.count()
        run_extra(
            "zipf200k_ppjoin_jaccard_t08",
            lambda: ppjoin_pairs(zipf2, persist=True, t_num=4, t_den=5),
            extras,
        )
        run_extra(
            "zipf200k_direct_jaccard_t08",
            lambda: exact_jaccard_pairs(zipf2, persist=True, t_num=4, t_den=5),
            extras,
        )
    run_extra("docs_ppjoin_jaccard", lambda: ppjoin_pairs(docs, persist=True), extras)

    # Scale-slope legs (VERDICT r3/r4/r5 standing order): the same queries
    # at a decade above the bench SF, generated locally by
    # sources/scale.py (the driver ships nothing above sf0.1).  The
    # t_sf1/t_sf0.1 ratio is the measured answer to "would this survive a
    # scale-up" — recorded per query as slope_<name>.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(repo_dir, "localdata", "sf1")
    )
    if os.path.isdir(sf1_dir):
        slope_set = [
            "q01_pricing_summary",
            "q05_region_revenue",
            "q70_dedup_exact",
            "q72_ngram_jaccard_pairs",
            "q73_minhash_lsh_neardup",
            "q74_simhash_neardup",
            "q84_tfidf_top_terms",
        ]
        for name in slope_set:
            q = registry[name]
            run_extra(f"sf1_{name}", lambda q=q: q.fn(spark, sf1_dir), extras)
        # (slope_<name> ratios are computed ONCE, in the final
        # post-retry recompute table — round 17 removed the in-loop
        # duplicates that could only ever disagree with the shipped
        # values)
        sf1_docs = load_table(spark, sf1_dir, "documents")
        run_extra("sf1_ppjoin_pairs", lambda: ppjoin_pairs(sf1_docs, persist=True), extras)
        # first of two non-consecutive samples (the second runs in the
        # end-of-run pass): r11 read this leg at 11.6-11.9 s with only
        # one sample per artifact (VERDICT r11 item 6)
        run_extra(
            "sf1_semantic_neardup_lsh",
            lambda: registry["q75b_semantic_neardup_lsh"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        # sim120 standalone at sf1: the base leg for the gated slope3 below
        run_extra(
            "sf1_simhash120_neardup",
            lambda: simhash120_neardup_pairs(sf1_docs),
            extras,
        )
        # q86 at the decade (round 14, VERDICT r13 item 3): the one r13
        # op with no measured scale point — global_order_index's
        # percentile-range prefix count (shuffle_pos) rides the
        # registered q86 next to the pack prefix sum.  Informational
        # first round; min-of-3 like the slope_set legs.
        run_extra(
            "sf1_q86_pack_sequences",
            lambda: registry["q86_pack_sequences"].fn(spark, sf1_dir),
            extras,
        )
        # every slope division guards its denominator (ADVICE r14): a 0.0
        # min-of-N base (clock quantization on a pathologically fast leg)
        # must skip the ratio, not ZeroDivisionError outside run_entry's
        # try and kill the rest of the run
        # extended curate composition at the decade (round 15, VERDICT
        # r14 item 2): the one cost class with no measured scale point —
        # its fixed job-count overhead should amortize, so the slope
        # reads how much of the sf0.1 time was overhead vs data
        run_extra(
            "sf1_curate_extended",
            lambda: _curate_extended(sf1_docs),
            extras,
            reps=1,
        )
        run_extra(
            "sf1_duplicate_spans_n10",
            lambda: duplicate_spans(sf1_docs, n=10),
            extras,
        )
        run_extra(
            "sf1_dsir_scores",
            lambda: dsir_scores(
                sf1_docs.select("doc_id", "lang", "text"),
                is_target=_F.col("lang") == "en",
            ),
            extras,
        )
        run_extra(
            "sf1_clf_train_score",
            lambda: quality_clf_scores(
                quality_scores(sf1_docs.select("doc_id", "text"))
            ),
            extras,
        )
        run_extra(
            "sf1_lm_xent",
            lambda: bigram_lm_xent(sf1_docs.select("doc_id", "text")),
            extras,
        )
        # BPE slope: the word-count pass scales with the corpus; the 48
        # merge rounds run on the vocabulary, which the synthetic corpus
        # barely grows — slope ≈ startup-dominated sublinear by design.
        run_extra(
            "sf1_bpe_train_encode_48",
            lambda: bpe_encode(
                sf1_docs.select("doc_id", "text"),
                bpe_train(sf1_docs.select("doc_id", "text"), num_merges=48, batch_k=8),
            ),
            extras,
            reps=1,
        )
        # end-to-end fuzzy-dedup pipeline (candidates -> lev verify ->
        # distributed CC) a decade up — exercises the pointer-jumping
        # component stage on real near-dup clusters; reps=1, iterative
        run_extra(
            "sf1_q71_fuzzy_dedup",
            lambda: registry["q71_fuzzy_dedup_pipeline"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        # Stage attribution for the fuzzy pipeline (VERDICT r8 item 4):
        # nested prefixes of the same plan, timed incrementally on a
        # CLEARED cache so stage 1 pays the candidate cost itself —
        # stage1 = MinHash-LSH candidates + Jaccard verify,
        # stage2 ≈ banded-levenshtein gate on cached candidates,
        # stage3 ≈ connected components + keeper window on cached edges.
        spark.catalog.clearCache()
        from emulating_hadoop_with_mpi_spark.functions.dedup import (
            EDIT_DEN,
            EDIT_NUM,
            _norm_text,
            minhash_verified_pairs,
        )
        from emulating_hadoop_with_mpi_spark.operators.graph import (
            connected_components,
        )

        t0 = time.perf_counter()
        jac = minhash_verified_pairs(sf1_docs).select("doc_a", "doc_b").cache()
        jac.count()
        extras["sf1_q71_stage1_candidates"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        norm = sf1_docs.select("doc_id", _norm_text().alias("norm"))
        verified = (
            jac.join(norm.selectExpr("doc_id AS doc_a", "norm AS norm_a"), "doc_a")
            .join(norm.selectExpr("doc_id AS doc_b", "norm AS norm_b"), "doc_b")
            .filter(
                F.expr(
                    f"levenshtein(norm_a, norm_b, ({EDIT_NUM} * "
                    f"greatest(length(norm_a), length(norm_b), 1)) DIV {EDIT_DEN}) >= 0"
                )
            )
            .select("doc_a", "doc_b")
            .cache()
        )
        verified.count()
        extras["sf1_q71_stage2_lev_verify"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        edges = verified.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
            verified.selectExpr("doc_b AS src", "doc_a AS dst")
        )
        connected_components(edges).count()
        extras["sf1_q71_stage3_components"] = round(time.perf_counter() - t0, 3)
        jac.unpersist()
        verified.unpersist()

    # Second slope decade for the dedup family (VERDICT r6 item 3): a 3×
    # documents-only upscale of sf1 (sources/scale.py --only documents).
    # slope2_<name> = t_sf3 / t_sf1 over a 3× data step — 3.0 is linear,
    # 9.0 is quadratic; q72's Σ df² concern is measured, not argued.
    sf3_dir = os.environ.get(
        "SPARK_GRAFT_SF3_DIR", os.path.join(repo_dir, "localdata", "sf3")
    )
    if os.path.isdir(sf3_dir):
        for name in ("q70_dedup_exact", "q72_ngram_jaccard_pairs", "q73_minhash_lsh_neardup"):
            q = registry[name]
            run_extra(f"sf3_{name}", lambda q=q: q.fn(spark, sf3_dir), extras)
        sf3_docs = load_table(spark, sf3_dir, "documents")
        run_extra("sf3_ppjoin_pairs", lambda: ppjoin_pairs(sf3_docs, persist=True), extras)
        # fuzzy pipeline slope over the 3× step (VERDICT r8 item 4): the
        # banded-lev verify and CC stages must track near-dup density, not
        # corpus size — slope2 ≈ 3 is linear, gated ≤ 4 below.
        run_extra(
            "sf3_q71_fuzzy_dedup",
            lambda: registry["q71_fuzzy_dedup_pipeline"].fn(spark, sf3_dir),
            extras,
            reps=1,
        )

    # Third slope decade — the dedup-family gate (VERDICT r7 item 2): a
    # documents-only 10× upscale of sf1 (sources/scale.py --only documents,
    # ~600k docs / ~73 MB parquet), the first leg that puts real memory and
    # spill pressure on the 128 GiB sandbox.  slope3_<name> = t_sf10/t_sf1
    # over a full 10× decade — ≈1 is sublinear startup-dominated, ≈10 is
    # linear, ≫10 is superlinear.  q72's Σ df² baseline is deliberately NOT
    # gated here (documented quadratic; its scale siblings are) — the gate
    # set is q70 / q73 / q74 / ppjoin.
    sf10_dir = os.environ.get(
        "SPARK_GRAFT_SF10_DIR", os.path.join(repo_dir, "localdata", "sf10")
    )
    if os.path.isdir(sf10_dir):
        sf10_docs = load_table(spark, sf10_dir, "documents")

        # TWO non-consecutive passes over the whole sf10 leg set, gated
        # on the min (VERDICT r9 item 2): throttle here oscillates on
        # minute timescales and can start MID-leg, where the before-leg
        # probe cannot see it (NOTES r9: a calm-probe sim120 leg read
        # 48.9 s vs 24.6 s best).  Interleaving the other legs between a
        # leg's two runs de-correlates them from one burst-credit window;
        # run_entry/run_timed merge repeats by min.
        # Builders retained per leg (round 16) so the conditional calm
        # third pass below can re-invoke any gated leg; every sf10 leg
        # is spark-probe-bracketed so its gate can tell a contended
        # window from a slow query.
        sf10_builders = {
            f"sf10_{name}": (lambda q=registry[name]: q.fn(spark, sf10_dir))
            for name in (
                "q70_dedup_exact",
                "q73_minhash_lsh_neardup",
                # q74-as-registered joined in round 10: its sim64 section
                # now size-gates to empty above SIM64_MAX_DOCS (13-bit
                # blocks are quadratic at this decade — 132 s at r8), so
                # the registered union costs ~the sim120 branch + one
                # metadata count.
                "q74_simhash_neardup",
                # q84 at the decade (VERDICT r12 item 5): the only
                # headline-basket corpus query that had no sf10 leg —
                # its 100 TB claims (size-dispatched df side, persisted
                # posting frame above the boundary) get a measured
                # decade read.  Informational this round.
                "q84_tfidf_top_terms",
            )
        }
        sf10_builders["sf10_ppjoin_pairs"] = lambda: ppjoin_pairs(
            sf10_docs, persist=True
        )
        # the 120-bit width lever, measured at the decade it exists
        # for: same Hamming<=9 contract, ~2^11 less collision mass
        # than the 64-bit layout (sf10 ~19 s vs ~64 s when added)
        sf10_builders["sf10_simhash120_neardup"] = lambda: simhash120_neardup_pairs(
            sf10_docs
        )

        def sf10_pass() -> None:
            for label, build in sf10_builders.items():
                run_extra(label, build, extras, reps=1, spark_probe=True)

        sf10_pass()
        sf10_pass()

        # --- Stage attribution, now MIN-OF-2 NON-CONSECUTIVE and the
        # GATE BASIS for q70/q73 (VERDICT r12 item 1): absolute ceilings
        # on the registered legs failed green code twice under throttle
        # stripes (15 s r11, 18 s r12 — the day it was set), while the
        # same runs' stage legs summed to the calm figure.  The stage
        # legs are short, spread across the run, and min-merged across
        # two interleaved passes, so one minute-scale stripe cannot
        # inflate all of them at once: their SUM is the throttle-robust
        # read of the query's true cost.  Gates below ride these sums;
        # the registered-leg ceilings survive only as loose catastrophic
        # backstops (~2× worst calm). ---
        # (stage_timed is defined at main scope, shared with the matmul
        # stage pass — round 17)

        # q70: which section family absorbs the sf10 cost — the
        # hash-groupBy ledger sections, the two token-stream span
        # exchanges, or the flag+cut consumers of the cached span frame.
        from emulating_hadoop_with_mpi_spark.functions.dedup import (
            NUM_PERM,
            SPAN_MIN_COUNT,
            SPAN_N,
            _norm_text as _q70_norm_text,
            flag_span_duplicated_docs,
            lsh_candidates,
            minhash_combined,
            minhash_verified_pairs,
            simhash120_df,
        )

        def q70_stage_pass() -> None:
            spark.catalog.clearCache()

            def _s1() -> None:
                exact_part = sf10_docs.groupBy(F.xxhash64("text")).agg(
                    F.min("doc_id"), F.count(F.lit(1))
                )
                norm_part = sf10_docs.select(
                    F.xxhash64(_q70_norm_text()).alias("k")
                ).groupBy("k").agg(F.count(F.lit(1)))
                exact_part.write.format("noop").mode("overwrite").save()
                norm_part.write.format("noop").mode("overwrite").save()

            stage_timed("sf10_q70_stage1_exact_norm", _s1)
            sf10_spans = duplicate_spans(
                sf10_docs, n=SPAN_N, min_count=SPAN_MIN_COUNT
            ).cache()
            stage_timed(
                "sf10_q70_stage2_span_exchanges", lambda: sf10_spans.count()
            )

            def _s3() -> None:
                flag_span_duplicated_docs(sf10_docs, spans=sf10_spans).write.format(
                    "noop"
                ).mode("overwrite").save()
                remove_duplicate_spans(
                    sf10_docs.select("doc_id", "text"), n=SPAN_N, spans=sf10_spans
                ).write.format("noop").mode("overwrite").save()

            stage_timed("sf10_q70_stage3_flag_and_cut", _s3)
            sf10_spans.unpersist()
            spark.catalog.clearCache()

        # q73: the shared signature+shset groupBy (the one corpus
        # exchange), the LSH band self-join, and the candidate-bounded
        # exact-Jaccard verify — the same frames the registered path
        # builds, injected via minhash_verified_pairs(combined=, cands=)
        # so stage 3 times ONLY the verify joins.
        def q73_stage_pass() -> None:
            spark.catalog.clearCache()
            combined = minhash_combined(sf10_docs)
            stage_timed(
                "sf10_q73_stage1_signatures", lambda: combined.count()
            )
            sigs = combined.select("doc_id", *[f"h{i}" for i in range(NUM_PERM)])
            cands = lsh_candidates(sigs).cache()
            stage_timed("sf10_q73_stage2_band_join", lambda: cands.count())
            stage_timed(
                "sf10_q73_stage3_verify",
                lambda: minhash_verified_pairs(
                    sf10_docs, combined=combined, cands=cands
                ).write.format("noop").mode("overwrite").save(),
            )
            spark.catalog.clearCache()

        # sim120 (round 14, VERDICT r13 item 1): the last gate still on a
        # tight absolute single-leg ceiling (9 % raw headroom — the exact
        # profile that failed green code twice for q70) moves onto the
        # same stage-sum basis.  Two separable stages, both the SHIPPED
        # plan: the sketch build (the one corpus-sized token-hash
        # sign-sum exchange, persisted exactly as the registered path
        # persists it) and the pigeonhole candidates+verify join over the
        # cached sketch, injected via simhash120_neardup_pairs(sims=).
        def sim120_stage_pass() -> None:
            spark.catalog.clearCache()
            sf10_sims = simhash120_df(sf10_docs).persist()
            stage_timed("sf10_sim120_stage1_sketch", lambda: sf10_sims.count())
            stage_timed(
                "sf10_sim120_stage2_pairs",
                lambda: simhash120_neardup_pairs(sf10_docs, sims=sf10_sims)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
            spark.catalog.clearCache()

        # ppjoin joins the stage-sum protocol (round 15): its absolute
        # 60 s ceiling was the last gate in the failed-green class — the
        # r15 local run read the registered leg at 70.6/87.8 while
        # byte-identical dedup.py code, an identical sf1 leg time (6.29
        # vs r14's 6.48), calm 1-core probes, healthy disk (382 MB/s dd),
        # and a host loadavg of 15-20 with nothing of ours running proved
        # SUSTAINED co-tenant contention, not code (NOTES r15).  Stages
        # via the ranked=/cands= injection (the q73 idiom), each min-of-2
        # across the interleaved passes: the rarity-ranked shingle build
        # (the corpus-sized df join + two windows — the leg that absorbs
        # contention worst), the prefix self-join, and the
        # candidate-bounded verify.
        from emulating_hadoop_with_mpi_spark.functions.dedup import (
            ppjoin_candidates,
            ppjoin_ranked,
        )

        def ppjoin_stage_pass() -> None:
            spark.catalog.clearCache()
            ranked = ppjoin_ranked(sf10_docs).cache()
            stage_timed("sf10_ppjoin_stage1_ranked", lambda: ranked.count())
            cands = ppjoin_candidates(ranked).cache()
            stage_timed("sf10_ppjoin_stage2_prefix_join", lambda: cands.count())
            stage_timed(
                "sf10_ppjoin_stage3_verify",
                lambda: ppjoin_pairs(sf10_docs, ranked=ranked, cands=cands)
                .write.format("noop")
                .mode("overwrite")
                .save(),
            )
            spark.catalog.clearCache()

        # interleaved: each family's two passes are non-consecutive, so
        # one burst-credit window cannot cover both samples of any leg.
        # Failure-isolated like run_entry — BUT a crashed pass must not
        # silently DELETE its gate (missing stage keys would skip the
        # stagesum gate and read as green): the error lands in errors[]
        # under a key the gate block checks, turning the gate
        # "indeterminate" with the error attached.
        def stage_pass_guarded(fn, family: str) -> None:
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — harness must degrade
                spark.catalog.clearCache()
                errors[f"{family}_stage_pass"] = f"{type(e).__name__}: {e}"[:500]

        stage_pass_guarded(q70_stage_pass, "sf10_q70")
        stage_pass_guarded(q73_stage_pass, "sf10_q73")
        stage_pass_guarded(sim120_stage_pass, "sf10_sim120")
        stage_pass_guarded(ppjoin_stage_pass, "sf10_ppjoin")
        stage_pass_guarded(q70_stage_pass, "sf10_q70")
        stage_pass_guarded(q73_stage_pass, "sf10_q73")
        stage_pass_guarded(sim120_stage_pass, "sf10_sim120")
        stage_pass_guarded(ppjoin_stage_pass, "sf10_ppjoin")

        # Conditional calm THIRD pass (round 16): a gate-carrying
        # registered leg whose both interleaved passes ran under a
        # contended multi-core window (no calm spark-probe bracket) and
        # whose current min exceeds its gate ceiling gets ONE more
        # attempt after a bounded wait for calm — the headline-leg
        # discipline applied to the five gated sf10 legs.  Round 16's
        # first full run is the motivating case: a co-tenant stripe
        # covered BOTH ppjoin/sim120 passes (samples [345, 188] / [272,
        # 69] at recorded loads 21-29) while their stage sums read 24.8
        # and 24.3 — green code, unusable window, red backstops.
        sf10_retry = [
            l
            for l, thr in SF10_GATED_CEILINGS.items()
            if l in extras and extras[l] > thr and l not in _calm_legs()
        ]
        if sf10_retry:
            for _ in range(3):
                if _spark_probe() <= _probe_calm_threshold():
                    break
                time.sleep(40)
            for l in sf10_retry:
                run_extra(l, sf10_builders[l], extras, reps=1, spark_probe=True)

    # --- Second NON-CONSECUTIVE pass (VERDICT r10 items 1 + 8) over
    # (a) every leg that feeds a gated slope ratio — one striped
    # single-sample denominator can flip a gate on green code — and
    # (b) the noisy single-rep extras, so A/B claims about them stop
    # depending on NOTES forensics.  run_entry merges repeats by min;
    # all ratios are recomputed from the per-leg minima afterwards. ---
    if os.path.isdir(sf1_dir):
        run_extra(
            "sf1_q71_fuzzy_dedup",
            lambda: registry["q71_fuzzy_dedup_pipeline"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        run_extra(
            "sf1_simhash120_neardup",
            lambda: simhash120_neardup_pairs(load_table(spark, sf1_dir, "documents")),
            extras,
            reps=1,
        )
        run_extra(
            "sf1_q70_dedup_exact",
            lambda: registry["q70_dedup_exact"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        run_extra(
            "sf1_q73_minhash_lsh_neardup",
            lambda: registry["q73_minhash_lsh_neardup"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        # q75b union (pairs + SemDeDup drop) a decade up — the CC stage's
        # scale leg (VERDICT r10 item 3 done-criterion)
        run_extra(
            "sf1_semantic_neardup_lsh",
            lambda: registry["q75b_semantic_neardup_lsh"].fn(spark, sf1_dir),
            extras,
            reps=1,
        )
        # slope3_ppjoin's denominator — the one gated-family sf1 leg the
        # r11 second pass missed (VERDICT r11 item 2)
        run_extra(
            "sf1_ppjoin_pairs",
            lambda: ppjoin_pairs(load_table(spark, sf1_dir, "documents"), persist=True),
            extras,
            reps=1,
        )
    if os.path.isdir(sf3_dir):
        run_extra(
            "sf3_q71_fuzzy_dedup",
            lambda: registry["q71_fuzzy_dedup_pipeline"].fn(spark, sf3_dir),
            extras,
            reps=1,
        )
        # the noisiest informational sf3 leg (33.0 vs 9.4 s across the
        # two r11 artifacts — VERDICT r11 item 6)
        run_extra(
            "sf3_q72_ngram_jaccard_pairs",
            lambda: registry["q72_ngram_jaccard_pairs"].fn(spark, sf3_dir),
            extras,
            reps=1,
        )
    run_extra(
        "matmul_auto_2048",
        lambda: _mm_auto(big_a, big_b, dims=(2048, 2048, 2048)),
        extras,
        reps=1,
    )
    run_extra(
        "matmul_auto_rect_128x4096x4096",
        lambda: _mm_auto(rect_a, rect_b, dims=(128, 4096, 4096)),
        extras,
        reps=1,
    )
    run_extra(
        "bpe_train_encode_48",
        lambda: bpe_encode(
            sf_docs.select("doc_id", "text"),
            bpe_train(sf_docs.select("doc_id", "text"), num_merges=48, batch_k=8),
        ),
        extras,
        reps=1,
    )

    # second non-consecutive matmul_auto_2048 stage pass (round 17,
    # VERDICT r16 item 5) — min-merges with the early pass; the recorded
    # stagesum is the contention-robust informational read
    matmul2048_stage_guarded()
    if (
        "matmul2048_stage1_tiles" in extras
        and "matmul2048_stage2_join_gemm_agg" in extras
    ):
        extras["matmul_auto_2048_stagesum"] = round(
            extras["matmul2048_stage1_tiles"]
            + extras["matmul2048_stage2_join_gemm_agg"],
            3,
        )

    # ---- Load-aware extras retry (round 17, VERDICT r16 item 1) ----
    # The calm-sample discipline the headline and gated sf10 legs got in
    # r16 now reaches the expensive informational extras: every extras
    # leg is spark-probe-bracketed (run_extra), and the EXTRAS_RETRY
    # legs — multi-second informational reads plus every slope
    # numerator/denominator — get ONE bounded retry when no invocation
    # saw a calm window.  run_entry min-merges, so a retry can only
    # improve the recorded minimum; all slope ratios are recomputed
    # AFTER this pass (and after the headline retry, whose minima feed
    # the sf1/sf0.1 slope denominators).
    extras_pending = [
        l
        for l in EXTRAS_RETRY
        if l in extras
        and l in extras_builders
        and l not in _calm_legs()
        and l not in errors
    ]
    if extras_pending:
        for _ in range(3):
            if _spark_probe() <= _probe_calm_threshold():
                break
            time.sleep(40)
        for l in extras_pending:
            run_entry(l, extras_builders[l], extras, reps=1, spark_probe=True)


    # ---- Load-aware headline retry (round 16, VERDICT r15 item 1) ----
    # Headline legs whose every invocation ran under a contended window
    # (no calm (before, after) probe pair) get bounded non-consecutive
    # retries here, at run end — r15's driver run was contended at start
    # (spark canary 0.694) and calm at end (0.243), so the end of the run
    # is a genuinely different sample.  Each retry round first waits (≤
    # 3×40 s) for the probe to read calm — retrying INTO a contended
    # window burns samples without information.  run_entry min-merges, so
    # retries can only improve the headline.  Worst case added wall: 2
    # rounds × (~26 legs × (1 rep + 2 probes) + 120 s wait) — bounded.
    headline_order = list(timings)
    for _attempt in range(HEADLINE_RETRY_ROUNDS):
        pending = [
            l for l in headline_order
            if l not in _calm_legs() and l not in errors
        ]
        if not pending:
            break
        for _ in range(3):
            if _spark_probe() <= _probe_calm_threshold():
                break
            time.sleep(40)
        for l in pending:
            run_entry(l, headline_builders[l], timings, reps=1, spark_probe=True)
    total = round(sum(timings.values()), 3)

    # EVERY slope ratio, recomputed from the FINAL per-leg minima — after
    # the extras retry AND the headline retry (round 17: previously the
    # slope_<name> sf1/sf0.1 ratios were frozen before the retries, so a
    # retried denominator left a stale slope in the artifact).  Bases may
    # live in the headline dict (sf0.1 denominators) or extras.
    def _leg_min(key: str):
        return extras.get(key, timings.get(key))

    for slope, num, den in (
        ("slope_q01_pricing_summary", "sf1_q01_pricing_summary", "q01_pricing_summary"),
        ("slope_q05_region_revenue", "sf1_q05_region_revenue", "q05_region_revenue"),
        ("slope_q70_dedup_exact", "sf1_q70_dedup_exact", "q70_dedup_exact"),
        ("slope_q72_ngram_jaccard_pairs", "sf1_q72_ngram_jaccard_pairs", "q72_ngram_jaccard_pairs"),
        ("slope_q73_minhash_lsh_neardup", "sf1_q73_minhash_lsh_neardup", "q73_minhash_lsh_neardup"),
        ("slope_q74_simhash_neardup", "sf1_q74_simhash_neardup", "q74_simhash_neardup"),
        ("slope_q84_tfidf_top_terms", "sf1_q84_tfidf_top_terms", "q84_tfidf_top_terms"),
        ("slope_q86_pack_sequences", "sf1_q86_pack_sequences", "q86_pack_sequences"),
        ("slope_curate_extended", "sf1_curate_extended", "curate_extended"),
        ("slope_duplicate_spans_n10", "sf1_duplicate_spans_n10", "duplicate_spans_n10"),
        ("slope_dsir_scores", "sf1_dsir_scores", "dsir_scores"),
        ("slope_clf_train_score", "sf1_clf_train_score", "clf_train_score"),
        ("slope_lm_xent", "sf1_lm_xent", "lm_xent"),
        ("slope_bpe_train_encode_48", "sf1_bpe_train_encode_48", "bpe_train_encode_48"),
        ("slope2_q71_fuzzy_dedup", "sf3_q71_fuzzy_dedup", "sf1_q71_fuzzy_dedup"),
        ("slope3_simhash120_neardup", "sf10_simhash120_neardup", "sf1_simhash120_neardup"),
        ("slope_sf0.1_sf10_simhash120", "sf10_simhash120_neardup", "simhash120_neardup"),
        ("slope2_q70_dedup_exact", "sf3_q70_dedup_exact", "sf1_q70_dedup_exact"),
        ("slope2_q72_ngram_jaccard_pairs", "sf3_q72_ngram_jaccard_pairs", "sf1_q72_ngram_jaccard_pairs"),
        ("slope2_q73_minhash_lsh_neardup", "sf3_q73_minhash_lsh_neardup", "sf1_q73_minhash_lsh_neardup"),
        ("slope3_q70_dedup_exact", "sf10_q70_dedup_exact", "sf1_q70_dedup_exact"),
        ("slope3_q73_minhash_lsh_neardup", "sf10_q73_minhash_lsh_neardup", "sf1_q73_minhash_lsh_neardup"),
        ("slope3_q84_tfidf_top_terms", "sf10_q84_tfidf_top_terms", "sf1_q84_tfidf_top_terms"),
        ("slope3_ppjoin_pairs", "sf10_ppjoin_pairs", "sf1_ppjoin_pairs"),
        ("slope2_ppjoin_pairs", "sf3_ppjoin_pairs", "sf1_ppjoin_pairs"),
        ("slope_semantic_neardup_lsh", "sf1_semantic_neardup_lsh", "semantic_neardup_lsh"),
    ):
        num_v, den_v = _leg_min(num), _leg_min(den)
        if num_v is not None and den_v:
            extras[slope] = round(num_v / den_v, 2)

    # Three-state headline annotation (the done-criterion of VERDICT r15
    # item 1): "calm" only when every headline leg has a calm-bracketed
    # sample AND the run's probe floor is within 2× the calm-box ref;
    # "indeterminate" when some leg never saw a calm window (its min is
    # an upper bound, not a measurement); "degraded_host" when the whole
    # run's floor shows the box never reached reference-class multi-core
    # throughput (per-leg retries cannot fix that — raw values are not
    # comparable to calm-box rounds; read value_normalized + probe_floor).
    headline_no_calm = sorted(
        l for l in headline_order if l not in _calm_legs() and l not in errors
    )
    # same provenance read for the probed extras (round 17, VERDICT r16
    # item 1): which informational legs never saw a calm window — their
    # minima are upper bounds, not measurements, and cross-round extras
    # comparisons should skip them
    extras_no_calm = sorted(
        l
        for l in spark_probe_pairs
        if l in extras and l not in _calm_legs() and l not in errors
    )
    probe_floor = min(spark_probe_values) if spark_probe_values else None
    if headline_no_calm:
        headline_load = "indeterminate"
    elif probe_floor is not None and probe_floor > 2 * SPARK_PROBE_REF_SEC:
        headline_load = "degraded_host"
    else:
        headline_load = "calm"

    # Closing canary: drift DURING the run (start vs end) is itself signal —
    # NOTES r8's afternoon throttling would have shown as end/start > 1.2.
    canary_end = run_canary()
    canary = {
        "start": canary_start,
        "end": canary_end,
        "py_ref_sec": CANARY_PY_REF_SEC,
        "spark_ref_sec": CANARY_SPARK_REF_SEC,
    }
    # host_speed_factor from the MEDIAN per-entry probe — the start/end
    # pair alone misses minute-scale throttle oscillation (run 4 r9: flat
    # canaries, individual entries 2-4× slow); the median over ~50 probes
    # spread across the whole run is robust to both tails.
    probe_list = sorted(probes.values())
    if probe_list:
        probe_median = probe_list[len(probe_list) // 2]
        canary["probe_median_sec"] = probe_median
        canary["probe_ref_sec"] = PROBE_REF_SEC
        canary["probe_worst_sec"] = probe_list[-1]
        canary["host_speed_factor"] = round(PROBE_REF_SEC / probe_median, 3)
    else:
        py_mean = (canary_start["py_1core_sec"] + canary_end["py_1core_sec"]) / 2
        canary["host_speed_factor"] = round(CANARY_PY_REF_SEC / py_mean, 3)
    value_normalized = round(total * canary["host_speed_factor"], 3)

    def _norm(label: str, t: float) -> float:
        """Per-entry clock-normalized time: scale by the probe measured
        right before the entry ran (falls back to the global factor)."""
        p = probes.get(label)
        f = (PROBE_REF_SEC / p) if p else canary["host_speed_factor"]
        return round(t * f, 3)

    # Decade gates (VERDICT r8 item 1, rebuilt r10 per ADVICE r9): the
    # SimHash-family scale configuration must stay survivable at sf10.
    # Gate logic is RAW-FIRST — with the min-of-2 non-consecutive sf10
    # protocol the raw min is the trustworthy number, so a raw pass is
    # final.  Normalization may only RESCUE a raw miss when the entry's
    # probe sits inside a 2× sanity band of its calm-load reference (a
    # mildly-throttled box, trusted correction); outside the band the
    # correction itself is untrustworthy — a slow probe before a calm
    # leg would deflate the value — so the gate records
    # status="indeterminate" rather than pass or fail.
    PROBE_SANITY_FACTOR = 2.0

    def _gate(label_for_probe: str, raw: float, norm_v: float, thr: float) -> dict:
        p = probes.get(label_for_probe)
        probe_sane = p is not None and p <= PROBE_SANITY_FACTOR * PROBE_REF_SEC
        # Multi-core calm evidence (round 16): when the leg is
        # spark-probe-bracketed and NO invocation — including the
        # conditional calm third pass — got a calm bracket, a raw miss is
        # a contended-window reading, not a measurement of the query: the
        # 1-core probe provably cannot rescue or even see this state
        # (r16 run 1: ppjoin min-of-2 188 s at py-probe 0.145 — calm —
        # while its stage sum read 24.8).  Status "indeterminate", never
        # "fail", mirroring the headline_load discipline.
        pairs = spark_probe_pairs.get(label_for_probe)
        never_calm = bool(pairs) and label_for_probe not in _calm_legs()
        if raw <= thr:
            status = "pass"
        elif probe_sane and norm_v <= thr:
            status = "pass"  # rescued by a trusted, mild correction
        elif never_calm or not probe_sane:
            status = "indeterminate"
        else:
            status = "fail"
        return {
            "raw": raw, "value": norm_v, "threshold": thr,
            "probe": p, "probe_sane": probe_sane,
            "spark_probe_pairs": pairs,
            "multi_core_calm_sample": bool(pairs) and not never_calm,
            "pass": status == "pass", "status": status,
        }

    def _gate_stage_sum(stage_keys: list[str], thr: float) -> dict:
        """Gate on the SUM of min-of-2 non-consecutive stage legs
        (VERDICT r12 item 1).  Each leg is short and min-merged across
        two interleaved passes, so a minute-scale throttle stripe cannot
        inflate every component of the sum — this is the discriminator
        NOTES used twice (r11/r12) to prove stripe-not-code when the
        registered leg striped past its ceiling while the same run's
        stage legs summed to the calm figure.  Normalized value = sum of
        per-stage probe-normalized times; probe sanity = every stage's
        calmest probe inside the 2× band."""
        raw = round(sum(extras[k] for k in stage_keys), 3)
        norm_v = round(sum(_norm(k, extras[k]) for k in stage_keys), 3)
        ps = {k: probes.get(k) for k in stage_keys}
        probe_sane = all(
            p is not None and p <= PROBE_SANITY_FACTOR * PROBE_REF_SEC
            for p in ps.values()
        )
        if raw <= thr:
            status = "pass"
        elif probe_sane and norm_v <= thr:
            status = "pass"
        elif not probe_sane:
            status = "indeterminate"
        else:
            status = "fail"
        return {
            "raw": raw, "value": norm_v, "threshold": thr,
            "stage_legs": {k: extras[k] for k in stage_keys},
            "probes": ps, "probe_sane": probe_sane,
            "basis": "sum_of_min_of_2_non_consecutive_stage_legs",
            "pass": status == "pass", "status": status,
        }

    gates: dict[str, dict] = {}
    # q74-as-registered at the decade (VERDICT r9 item 3 done-criterion):
    # the sim64 size gate must keep the union's sf10 cost ~the sim120
    # branch; ceiling + band history live at SF10_GATED_CEILINGS.
    if "sf10_q74_simhash_neardup" in extras:
        t = extras["sf10_q74_simhash_neardup"]
        gates["sf10_q74_registered_max_45s"] = _gate(
            "sf10_q74_simhash_neardup", t, _norm("sf10_q74_simhash_neardup", t),
            SF10_GATED_CEILINGS["sf10_q74_simhash_neardup"],
        )
    # (sim120's decade-slope gate moved onto the stage-sum basis below —
    # round 17: its registered-basis raw read 7.23 > 6 in run 2 and
    # survived only via normalization rescue, the same stripe fragility
    # that failed q73's registered-basis slope gate outright.)
    if "slope2_q71_fuzzy_dedup" in extras:
        s = extras["slope2_q71_fuzzy_dedup"]
        gates["slope2_q71_fuzzy_dedup_max_4"] = {
            "raw": s, "value": s, "threshold": 4.0,
            "pass": s <= 4.0, "status": "pass" if s <= 4.0 else "fail",
        }
    # q70/q73 drift guards, REBUILT per VERDICT r12 item 1.  History: a
    # slope3 gate was wrong for q70 (striped-denominator flip-flop, four
    # r11 same-code runs swung 6.25-12.66); absolute wall-clock ceilings
    # on the registered leg then ALSO failed green code twice under
    # throttle stripes (15 s ceiling: striped 15.47-15.49 in r11/r12 vs
    # calm 8.2-11.7; the recalibrated 18 s ceiling: the r12 driver run
    # striped 19.2 the day it was set, while the SAME run's stage legs
    # summed 16.3 and the previous calm run's summed 10.7).  Absolute
    # ceilings on a box whose ambient drifts 2× intra-day cannot
    # converge.  The PRIMARY gate is now the stage-leg SUM — each leg
    # min-of-2 across two interleaved non-consecutive passes, so one
    # stripe cannot inflate the sum (the exact discriminator NOTES used
    # twice to prove stripe-not-code).  Calibration: q70 calm stage sums
    # read 10.7 (r12 calm run), 16.3 (r12's most degraded run,
    # SINGLE-sample legs — min-of-2 pulls toward calm), and 10.42 under
    # the min-of-2 protocol itself (r13 calm run — in which the
    # REGISTERED leg striped to 25.2 on one sample while all six stage
    # samples stayed calm, the design working live); 18 s keeps ~1.7×
    # over calm while the 2× regression class (the span-exchange design
    # breaking) still fails.  The registered-leg ceiling survives only
    # as a loose catastrophic backstop at ~2× worst calm (11.7 → 24 s),
    # above every stripe ever observed (max 19.2).
    # slope3_q70_dedup_exact stays in extras as an informational read.
    def _stagesum_gate(gate_name: str, stage_keys: list[str], thr: float, family: str) -> None:
        """A crashed stage pass must surface as an INDETERMINATE gate
        with the error attached — never as a silently-missing (= green)
        gate."""
        if all(k in extras for k in stage_keys):
            gates[gate_name] = _gate_stage_sum(stage_keys, thr)
        elif f"{family}_stage_pass" in errors:
            gates[gate_name] = {
                "raw": None, "value": None, "threshold": thr,
                "error": errors[f"{family}_stage_pass"],
                "pass": False, "status": "indeterminate",
            }

    q70_stage_keys = [
        "sf10_q70_stage1_exact_norm",
        "sf10_q70_stage2_span_exchanges",
        "sf10_q70_stage3_flag_and_cut",
    ]
    # Ceiling recalibrated 18 → 25 on the two-round driver-artifact band
    # (VERDICT r14 nit 1, same confirm-and-set procedure as q73's 60→45):
    # normalized stage sums read 15.12 (r13 official) and 14.14 (r14
    # official) against the old 18 s — 21 % headroom, the tightest in the
    # gate set and the exact failed-green profile the absolute ceilings
    # hit twice.  25 s ≈ 1.7× the confirmed calm band while the 2×
    # regression class (the span-exchange design breaking) still fails.
    _stagesum_gate("sf10_q70_stagesum_max_25s", q70_stage_keys, 25.0, "sf10_q70")
    if "sf10_q70_dedup_exact" in extras:
        t = extras["sf10_q70_dedup_exact"]
        gates["sf10_q70_registered_backstop_max_24s"] = _gate(
            "sf10_q70_dedup_exact", t, _norm("sf10_q70_dedup_exact", t),
            SF10_GATED_CEILINGS["sf10_q70_dedup_exact"],
        )
    # q73 gets the same treatment (its old 50 s registered ceiling had
    # ~6% headroom on a calm read and striped samples hit 91.3 —
    # VERDICT r12 What's-wrong 3): primary = stage-leg sum (signature
    # groupBy + band join + bounded verify, the same frames the
    # registered path builds, injected).  Calibration: calm registered
    # min-of-2 read 35.0-36.5 across r11, 33.1 in r13; stage sums read
    # 24.77 (r13 calm — with one signature sample striping to 32.7, so
    # the min-of-2 sum is doing real work) and 25.47 (r14, hsf-1.2
    # box), confirming the band — ceiling tightened 60 → 45 per the
    # r13 plan (~1.8× over calm; a 2× regression of the signature
    # exchange still fails).  The registered backstop's ceiling + band
    # history live at SF10_GATED_CEILINGS (75 → 65 in round 17).
    q73_stage_keys = [
        "sf10_q73_stage1_signatures",
        "sf10_q73_stage2_band_join",
        "sf10_q73_stage3_verify",
    ]
    _stagesum_gate("sf10_q73_stagesum_max_45s", q73_stage_keys, 45.0, "sf10_q73")

    # Decade-slope gates on the STAGE-SUM numerator (round 17, VERDICT
    # r16 item 3): previously only sim120's slope3 had a ceiling — a
    # genuine superlinear regression in q73's or ppjoin's 10× scaling
    # would have read green.  The numerator is the stage-leg SUM, not
    # the registered sf10 leg: the registered legs stripe 1.5-2× at
    # calm brackets often enough (r17 run 1: q73 samples 43.3/54.1
    # both mid-leg-striped at calm brackets, registered-basis slope
    # 10.05 — a false red on green code; run 2: all three registered
    # sf10 legs striped while every stage sum stayed calm and sim120's
    # registered-basis raw 7.23 needed normalization rescue) that a
    # registered-basis slope gate re-creates the failed-green profile
    # the stage sums were built to end.  Denominator = the sf1
    # registered leg (short, calm-retried, EXTRAS_RETRY) — it doubles
    # as the gate's probe label since it is the one side the stage-sum
    # basis can't absorb; the registered-basis slopes stay in extras as
    # informational reads.
    def _slope_stagesum_gate(
        gate_name: str, stage_keys: list[str], den_key: str, thr: float
    ) -> None:
        if not (
            den_key in extras
            and extras[den_key]
            and all(k in extras for k in stage_keys)
        ):
            return
        ss_raw = round(sum(extras[k] for k in stage_keys), 3)
        ss_norm = round(sum(_norm(k, extras[k]) for k in stage_keys), 3)
        den_raw = extras[den_key]
        den_norm = _norm(den_key, den_raw)
        s_raw = round(ss_raw / den_raw, 2)
        s_norm = round(ss_norm / den_norm, 2) if den_norm else s_raw
        extras[gate_name.rsplit("_max_", 1)[0] + "_basis"] = s_raw
        # Rescue discipline mirrors _gate_stage_sum, not _gate: a
        # normalized rescue is trusted only when EVERY probe the ratio
        # rides — all stage legs AND the denominator — sits inside the
        # 2× sanity band; otherwise the correction itself is the
        # untrusted quantity and the gate reads indeterminate, never a
        # rescued pass (a throttled stage pass would otherwise deflate
        # ss_norm and green-light a real regression).
        ps = {k: probes.get(k) for k in [*stage_keys, den_key]}
        probe_sane = all(
            p is not None and p <= PROBE_SANITY_FACTOR * PROBE_REF_SEC
            for p in ps.values()
        )
        pairs = spark_probe_pairs.get(den_key)
        never_calm = bool(pairs) and den_key not in _calm_legs()
        if s_raw <= thr:
            status = "pass"
        elif probe_sane and s_norm <= thr:
            status = "pass"
        elif never_calm or not probe_sane:
            status = "indeterminate"
        else:
            status = "fail"
        gates[gate_name] = {
            "raw": s_raw, "value": s_norm, "threshold": thr,
            "stage_legs": {k: extras[k] for k in stage_keys},
            "den_key": den_key, "den_raw": den_raw,
            "probes": ps, "probe_sane": probe_sane,
            "spark_probe_pairs": pairs,
            "multi_core_calm_sample": bool(pairs) and not never_calm,
            "basis": "stage_leg_sum_over_sf1_registered_leg",
            "pass": status == "pass", "status": status,
        }

    # q73 band (stage-sum / sf1-registered): r16 calm 24.0/4.3 ≈ 5.6;
    # r17 run 1 (contended) 36.7/4.31 = 8.52; r17 run 2 26.5/5.09 =
    # 5.19.  Ceiling 9 keeps headroom over the contended top while the
    # regression class it exists for (the band join degenerating
    # quadratic, slope → 20+) is unmissable.
    _slope_stagesum_gate(
        "slope3_q73_stagesum_max_9",
        q73_stage_keys,
        "sf1_q73_minhash_lsh_neardup",
        9.0,
    )
    # sim120 joins the stage-sum protocol (round 14, VERDICT r13 item 1):
    # its old absolute 35 s ceiling had ~9 % raw headroom in the official
    # r13 artifact (32.05 raw, 39.2 probe-normalized) — the exact
    # failed-green profile q70 hit twice.  Primary gate = sketch +
    # pigeonhole-pairs stage-leg sum, min-of-2 across the interleaved
    # passes.  Calibration: calm registered min reads 24.6-32.0 across
    # r12/r13 runs and the stage sum should track the registered leg
    # (the registered path persists the sketch exactly as stage 1 does),
    # so 45 s keeps ~1.5-1.8× over calm while a real 2× regression (the
    # pigeonhole join degenerating toward sim64's quadratic collisions)
    # still fails.  The old ceiling survives as a catastrophic backstop
    # at ~2× worst calm (60 s; the q74-registered ceiling — this
    # operator plus a pruned branch and a count — sits at 45 since
    # round 17, see SF10_GATED_CEILINGS).
    sim120_stage_keys = [
        "sf10_sim120_stage1_sketch",
        "sf10_sim120_stage2_pairs",
    ]
    _stagesum_gate("sf10_sim120_stagesum_max_45s", sim120_stage_keys, 45.0, "sf10_sim120")
    # sim120 band (stage-sum / sf1-registered): r16 calm stage sum 26.5
    # over sf1 ~5.6 ≈ 4.7 (registered-basis slope3 4.36 the same round);
    # r17 run 2 21.6/5.61 = 3.85.  Ceiling 6 carries the old
    # registered-basis ceiling forward on the robust numerator (run 2's
    # registered-basis raw read 7.23 on a striped numerator and needed
    # normalization rescue).
    _slope_stagesum_gate(
        "slope3_sim120_stagesum_max_6",
        sim120_stage_keys,
        "sf1_simhash120_neardup",
        6.0,
    )
    if "sf10_simhash120_neardup" in extras:
        t = extras["sf10_simhash120_neardup"]
        gates["sf10_simhash120_backstop_max_60s"] = _gate(
            "sf10_simhash120_neardup", t, _norm("sf10_simhash120_neardup", t),
            SF10_GATED_CEILINGS["sf10_simhash120_neardup"],
        )
    if "sf10_q73_minhash_lsh_neardup" in extras:
        t = extras["sf10_q73_minhash_lsh_neardup"]
        gates["sf10_q73_registered_backstop_max_65s"] = _gate(
            "sf10_q73_minhash_lsh_neardup",
            t,
            _norm("sf10_q73_minhash_lsh_neardup", t),
            SF10_GATED_CEILINGS["sf10_q73_minhash_lsh_neardup"],
        )
    # ppjoin at the decade, REBUILT onto the stage-sum basis (round 15):
    # the absolute 60 s ceiling failed a THIRD green run — r15 local read
    # the registered leg 70.6 min-of-2 on byte-identical dedup.py (sf1
    # leg 6.29 vs r14's 6.48, 1-core probes calm, dd 382 MB/s) under a
    # measured host loadavg of 15-20 from co-tenants; the 32-thread
    # ranked build absorbs multi-core contention the 1-core probe cannot
    # see, so normalization can't rescue an absolute ceiling here any
    # more than it could for q70/q73/sim120.  Primary gate = stage-leg
    # sum, min-of-2 across the interleaved passes.  Calibration: the
    # calm band of the registered leg is 27.6-35.2 (r11 35.2, r14 driver
    # 27.6) and the stage sum should track it.  TIGHTENED 80 → 45 in
    # round 16 per the stated confirm-then-tighten procedure: the
    # stage-sum band now has THREE samples — 22.9 (r15 local run 2,
    # calm), 26.6 (r15 local run 3, calm), 27.3 normalized (r15 driver
    # artifact, which passed even under its median-10 co-tenant load) —
    # so 45 s carries ~1.6× headroom over the band's top while a genuine
    # ~2× stage regression now reads red instead of green.
    # The registered-leg ceiling survives as a catastrophic backstop;
    # its value + band history live at SF10_GATED_CEILINGS (90 → 70 in
    # round 17).
    ppjoin_stage_keys = [
        "sf10_ppjoin_stage1_ranked",
        "sf10_ppjoin_stage2_prefix_join",
        "sf10_ppjoin_stage3_verify",
    ]
    _stagesum_gate(
        "sf10_ppjoin_stagesum_max_45s", ppjoin_stage_keys, 45.0, "sf10_ppjoin"
    )
    # ppjoin band (stage-sum / sf1-registered): r17 run 1 26.4/6.8 =
    # 3.88, run 2 20.8/7.18 = 2.90; r15/r16 calm stage sums 22.9-27.3
    # over sf1 legs 6.3-7.2 ≈ 3.2-4.3.  Ceiling 6 ≈ 1.4× the band top
    # (the registered-basis read 6.66 in run 2 on a striped numerator —
    # exactly the fragility the stage-sum basis removes).
    _slope_stagesum_gate(
        "slope3_ppjoin_stagesum_max_6", ppjoin_stage_keys, "sf1_ppjoin_pairs", 6.0
    )
    if "sf10_ppjoin_pairs" in extras:
        t = extras["sf10_ppjoin_pairs"]
        gates["sf10_ppjoin_backstop_max_70s"] = _gate(
            "sf10_ppjoin_pairs", t, _norm("sf10_ppjoin_pairs", t),
            SF10_GATED_CEILINGS["sf10_ppjoin_pairs"],
        )

    # A broken headline query must never read as a speedup: if any HEADLINE
    # entry errored, the ratchet metric is invalid for this run.
    headline_errors = sorted(set(errors) & set(HEADLINE))
    # Gate outcomes surface in the HEADLINE json + the exit code
    # (VERDICT r12 item 1): a failing official artifact must be visible
    # without opening BENCH_DETAIL.
    gates_failed = sorted(k for k, g in gates.items() if g.get("status") == "fail")
    gates_indeterminate = sorted(
        k for k, g in gates.items() if g.get("status") == "indeterminate"
    )
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": None if headline_errors else total,
        "value_normalized": None if headline_errors else value_normalized,
        "partial_sum": total,
        "unit": "sec",
        "queries": timings,
        "queries_normalized": {k: _norm(k, v) for k, v in timings.items()},
        "extras_normalized": {
            k: _norm(k, v) for k, v in extras.items() if k in probes
        },
        "extras": extras,
        "samples": samples,
        "probes": probes,
        "host_loads": loads,
        "spark_probe_pairs": {
            k: [list(p) for p in v] for k, v in spark_probe_pairs.items()
        },
        "spark_probe_floor": probe_floor,
        "spark_probe_ref_sec": SPARK_PROBE_REF_SEC,
        "spark_probe_calm_threshold": round(_probe_calm_threshold(), 3),
        "headline_load": headline_load,
        "headline_no_calm_sample": headline_no_calm,
        "extras_no_calm_sample": extras_no_calm,
        "errors": errors,
        "canary": canary,
        "gates": gates,
        "gates_failed": gates_failed,
        "gates_indeterminate": gates_indeterminate,
        "sf": sf,
    }
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    spark.stop()

    # The driver captures only the tail of stdout (~2000 chars) and parses
    # the LAST JSON line.  Keep this line compact (r1 format) and FINAL:
    # samples/extras/slopes live in BENCH_DETAIL.json, not here.
    out = {
        "metric": "headline_query_wall_seconds",
        "value": None if headline_errors else total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # calibration (VERDICT r8 item 2): value_normalized = value ×
        # host_speed_factor (py-canary ref / measured); a reader compares
        # normalized values across rounds without NOTES.md forensics.
        "value_normalized": None if headline_errors else value_normalized,
        "host_speed_factor": canary["host_speed_factor"],
        # always present (VERDICT r12 item 1): [] is the green signal; a
        # non-empty list means open BENCH_DETAIL's "gates" for the basis
        "gates_failed": gates_failed,
        # round 16: "calm" | "indeterminate" (≥1 headline leg never got a
        # calm-bracketed sample — count in headline_no_calm_n, legs in
        # BENCH_DETAIL) | "degraded_host" (the box never reached
        # reference-class multi-core throughput this run; probe_floor vs
        # spark_probe_ref_sec in BENCH_DETAIL carries the evidence)
        "headline_load": headline_load,
        # [] with gates_run=0 means the decade datasets were ABSENT (fresh
        # clone without localdata/ — see NOTES round 13) and NO gate ran:
        # an artifact must show gates_run=9 to claim a green gate set
        "gates_run": len(gates),
    }
    if gates_indeterminate:
        out["gates_indeterminate"] = gates_indeterminate
    if headline_no_calm:
        out["headline_no_calm_n"] = len(headline_no_calm)
    if headline_errors:
        out["errors"] = headline_errors
    line = json.dumps(out)
    if len(line) > 1500:  # hard guard: never outgrow the driver's tail again
        out["queries"] = {"_truncated_entries": len(timings)}
        line = json.dumps(out)
    print(line)
    if gates_failed:
        # nonzero rc makes a failing gate set unmissable in any harness
        # that checks exit status; the JSON line above has already been
        # printed, so the artifact is still recorded.
        sys.exit(1)


def bench_skew_join(spark, run_timed, run_entry, rows: int = 4_000_000) -> dict[str, float]:
    """Three legs over the same skewed join (reference worst case — its
    contiguous key ranges put the whole hot key on one rank,
    program.c:378-413):

    - skew_join_noaqe:  plain shuffle join, AQE skew-splitting OFF — the
      one-melted-task baseline every pre-AQE engine hits.
    - skew_join_aqe:    plain shuffle join, AQE skew-splitting ON (our
      session default) — Spark's runtime answer.
    - skew_join_salted: explicit salted_join (operators/skew.py) — the
      planned answer for known-extreme skew.
    """
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.operators.skew import salted_join

    big = spark.range(rows).select(
        F.when(F.col("id") % 10 < 8, 0)
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
        .cast("long")
        .alias("key"),
        (F.col("id") % 97).alias("payload"),
    )
    small = spark.range(1000).select(
        F.col("id").alias("key"), (F.col("id") * 7 % 101).alias("dim_val")
    )

    def plain():
        return (
            big.join(small, "key")
            .groupBy("key")
            .agg(F.sum(F.col("payload") * F.col("dim_val")).alias("s"))
        )

    def salted():
        return (
            salted_join(big, small, "key", salt=32)
            .groupBy("key")
            .agg(F.sum(F.col("payload") * F.col("dim_val")).alias("s"))
        )

    no_bcast = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
    legs = [
        ("skew_join_noaqe", {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"}, plain),
        ("skew_join_aqe", {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "true"}, plain),
        ("skew_join_salted", {**no_bcast, "spark.sql.adaptive.skewJoin.enabled": "false"}, salted),
    ]
    out: dict[str, float] = {}
    for label, confs, build in legs:
        # confs must stay set through the ACTION (plans read them at run
        # time, not build time), so they wrap the whole timed run.
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            run_entry(label, build, out)
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    return out


if __name__ == "__main__":
    main()
