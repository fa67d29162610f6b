#!/usr/bin/env python
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the CPUs this process may run on), plus
informational extras and, when the decade datasets exist, sf1/sf3/sf10 legs
and their gates.  Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
and writes everything else to BENCH_DETAIL.json.

The run is one table, ``LEGS``, executed in order.  A ``Leg`` row names a
timed measurement and how to build it; an ``Again`` row re-runs an earlier
leg once (a second, non-consecutive sample); a ``Retry`` row applies the calm
protocol to one class of legs.  Every rep of a leg runs under its own Spark
job group (``<label>/<n>``), and the leg's per-layer profile (jobs, stages,
tasks, executor time, shuffle, spill, Python rows) is read from Spark's
status stores through ``perfbench/collect.py:Collector`` right after the
rep, so nothing is re-run to attribute time to stages.

Results are materialized with the noop sink (full execution, no driver
collect) — measuring the engine, not the driver's row transfer.

Decade datasets (``localdata/sf1``, ``sf3``, ``sf10``; see README, "Decade
datasets") are generated locally; a missing one is reported on stderr and
its legs and gates are skipped.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass
from functools import partial
from typing import Callable, NamedTuple

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark import get_spark
from emulating_hadoop_with_mpi_spark.functions import text
from emulating_hadoop_with_mpi_spark.functions.bpe import bpe_encode, bpe_train
from emulating_hadoop_with_mpi_spark.functions.classifier import quality_clf_scores
from emulating_hadoop_with_mpi_spark.functions.dedup import (
    duplicate_spans, exact_jaccard_pairs, ppjoin_pairs, remove_duplicate_spans, simhash120_neardup_pairs)
from emulating_hadoop_with_mpi_spark.functions.dsir import dsir_scores
from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent
from emulating_hadoop_with_mpi_spark.functions.pipeline import (
    PII_PATTERNS_RE2, curate_corpus, curate_frames, decontaminate, redact_pii, release_curate_cache)
from emulating_hadoop_with_mpi_spark.functions.search import bm25_topk
from emulating_hadoop_with_mpi_spark.mapreduce import matmul_block, matmul_coo
from emulating_hadoop_with_mpi_spark.mapreduce.matmul import matmul_auto, multiply_dat_files
from emulating_hadoop_with_mpi_spark.operators.skew import salted_join
from emulating_hadoop_with_mpi_spark.registry import all_queries
from emulating_hadoop_with_mpi_spark.sources.datagen import generate_matrix_df, zipf_corpus
from emulating_hadoop_with_mpi_spark.sources.matrix import write_matrix_dat
from emulating_hadoop_with_mpi_spark.sources.tables import load_table
from perfbench.collect import Collector

REPO = os.path.dirname(os.path.abspath(__file__))

# Fixed-work calibration canary (VERDICT r8 item 2): rounds 7→8 showed the
# official headline swinging 1.3-1.7× from host throttling alone.  Two
# deterministic probes measured at bench start AND end let a reader
# normalize any run against the box's speed that day:
# - py_1core:   a pure-Python arithmetic loop (GIL-pinned, BLAS-free) —
#               tracks single-core clock (throttling shows up here first).
# - spark_32core: a tiny fixed Spark job (range → xxhash64 → sum) across
#               all cores — tracks the whole-box throughput.
# "value_normalized" = value · (PROBE_REF_SEC / probe_median): it rides the
# MEDIAN of the per-leg 1/10-scale python probes (falling back to the py
# canary mean when no probe ran); the spark canary is recorded, not used.
CANARY_PY_LOOP_N = 20_000_000
CANARY_SPARK_ROWS = 1 << 30
# Calm-load reference (round 9, loadavg ~1, measured by this module's own
# in-function loop — function-local loop variables run ~1.7× faster than a
# module-scope calibration, so refs MUST come from this code path).
CANARY_PY_REF_SEC = 1.70
CANARY_SPARK_REF_SEC = 0.30
PROBE_LOOP_N = CANARY_PY_LOOP_N // 10
PROBE_REF_SEC = CANARY_PY_REF_SEC / 10
# A normalized value may rescue a raw gate miss only when the probe it rides
# sits inside this band of its calm reference.
PROBE_SANITY_FACTOR = 2.0

# Load-aware protocol (round 16, VERDICT r15 item 1): every leg invocation
# is bracketed by a tiny fixed all-core Spark job — the only signal that
# sees CO-TENANT multi-core contention (/proc/loadavg here is
# namespace-local: it read 0.4-2.7 while a 32-proc burn got half the box).
# An invocation is CALM when both its probes are ≤ the calm bar: the
# absolute SPARK_PROBE_ABS_CALM_SEC (the probe is a short burst and
# under-reads sustained contention, so the bar sits close to the measured
# 0.13-0.23 s calm band), or SPARK_PROBE_REL_FACTOR × the run's own probe
# floor on a uniformly slower host.  A mid-leg stripe that both probes
# straddle stays invisible — min-of-reps and the job-sum gates absorb it.
SPARK_PROBE_ROWS = 1 << 29
# Reference-class floor (the shipped calm r16 artifact's probe floor 0.127):
# a run whose floor exceeds 2× this never reached reference throughput.
SPARK_PROBE_REF_SEC = 0.13
SPARK_PROBE_ABS_CALM_SEC = 0.30
SPARK_PROBE_REL_FACTOR = 1.6
CALM_WAITS, CALM_WAIT_SEC = 3, 40

HEADLINE = [
    # relational core
    "q01_pricing_summary", "q03_top_revenue_orders", "q05_region_revenue", "q06_forecast_revenue",
    "q14_distinct_agg",
    # windows / events
    "q30_window_topk_per_customer", "q31_window_running_total", "q50_time_buckets", "q51_sessionize",
    "q52_json_extract", "q23_asof_join",
    # flagship matmul
    "q60_matmul_gram",
    # LLM-pipeline ops
    "q70_dedup_exact", "q72_ngram_jaccard_pairs", "q73_minhash_lsh_neardup", "q76_cosine_topk",
    "q80_token_stats", "q81_quality_score", "q83_fingerprint", "q84_tfidf_top_terms",
]

SF, SF1, SF3, SF10 = "sf", "sf1", "sf3", "sf10"
DECADE_DIRS = {SF1: "SPARK_GRAFT_SF1_DIR", SF3: "SPARK_GRAFT_SF3_DIR", SF10: "SPARK_GRAFT_SF10_DIR"}

# A builder runs untimed, with the leg's sf dir; it prepares the leg's inputs
# and returns the thunk whose call is timed as plan construction
# (``construct_s``) and whose frame the noop sink executes (``exec_s``).
Build = Callable[["Bench", str], Callable[[], object]]


@dataclass(frozen=True)
class Leg:
    label: str
    sf: str
    build: Build
    reps: int = 3
    headline: bool = False
    # extras leg eligible for the end-of-run calm retry
    retry: bool = False
    # (gate name, seconds): the registered-leg ceiling gate; a leg over it
    # with no calm sample also gets the ceiling retry
    ceiling: tuple[str, float] | None = None
    # (slope name, denominator label): extras[name] = this leg / denominator
    slopes: tuple[tuple[str, str], ...] = ()
    # session confs held through every rep (plans read them at run time)
    conf: dict[str, str] | None = None


class Again(NamedTuple):
    """Re-run an earlier row's leg once, as a non-consecutive sample."""

    label: str


class Retry(NamedTuple):
    """The calm protocol over one class of legs: "ceiling", "extras" or
    "headline"."""

    which: str
    rounds: int = 1


class Gate(NamedTuple):
    """A gate beside the ceiling ones.  ``kind``: "slope" (a slope value),
    "jobsum" (the leg's job-sum basis, see ``Bench.job_sum``) or
    "slope_jobsum" (job-sum basis of ``leg`` over that of ``den``)."""

    name: str
    kind: str
    leg: str
    threshold: float
    den: str | None = None


def query(name: str) -> Build:
    """The registered query at the leg's sf dir."""
    return lambda b, d: partial(b.registry[name].fn, b.spark, d)


def cold_query(name: str) -> Build:
    """A registered query whose curate anchors are released first in each
    rep: they are localCheckpoint()ed RDD blocks that survive clearCache(),
    so without this min-of-3 would time a checkpoint re-read."""

    def build(b, d):
        def thunk():
            release_curate_cache()
            return b.registry[name].fn(b.spark, d)

        return thunk

    return build


def on_docs(fn, *args, **kw) -> Build:
    """fn(documents, *args, **kw) over the leg's sf dir."""
    return lambda b, d: partial(fn, b.docs(d), *args, **kw)


def _remove_spans(docs):
    return remove_duplicate_spans(docs.select("doc_id", "text"), n=10)


def _dsir(docs):
    return dsir_scores(docs.select("doc_id", "lang", "text"), is_target=F.col("lang") == "en")


def _clf(docs):
    return quality_clf_scores(text.quality_scores(docs.select("doc_id", "text")))


def _lm(docs):
    return bigram_lm_xent(docs.select("doc_id", "text"))


def _bpe(docs):
    """Train inside the timed thunk and return the encode frame: the leg
    covers the corpus shuffle, the 48 vocab-sized merge rounds and encode."""
    return bpe_encode(
        docs.select("doc_id", "text"),
        bpe_train(docs.select("doc_id", "text"), num_merges=48, batch_k=8),
    )


def _bench_prompts(docs):
    """A deterministic "benchmark" slice of the corpus (every 97th doc's
    first 24 tokens), so decontamination finds real hits."""
    return docs.filter(F.col("doc_id") % 97 == 0).select(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 24)).alias("text")
    )


def _curate_extended(docs):
    """The exact q85 'curate' config — quality → decon → dedup → span cut →
    DSIR top-fraction → mixture → token budget → chunk → split → pack →
    RE2 redaction — including the composition's eager plan-construction
    actions, which is the job-count overhead class that bit r13."""
    release_curate_cache()  # cold per rep: see cold_query
    prompts = docs.filter(F.pmod(F.col("doc_id"), F.lit(text.DECON_SECTION_MOD)) == 0).select(
        F.concat_ws(" ", F.slice(text.tokens_col(), 1, text.DECON_SECTION_PROMPT)).alias("text"))
    return curate_frames(
        docs, min_quality=text.CURATE_MIN_QUALITY, window=text.CHUNK_WINDOW, stride=text.CHUNK_STRIDE,
        budget=text.PACK_BUDGET, benchmark=prompts, decon_ngram=text.DECON_SECTION_N,
        cut_span_ngram=text.CURATE_SPAN_N, dsir_target=F.col("lang") == "en",
        dsir_keep_frac=text.CURATE_DSIR_KEEP, lm_keep_frac=text.CURATE_LM_KEEP, mixture=text.CURATE_MIXTURE,
        mixture_salt=text.CURATE_MIX_SALT, token_budget=text.CURATE_TOKEN_BUDGET, redact=True,
        redact_patterns=PII_PATTERNS_RE2,
    )["curated"]


def matmul(fn, a: tuple[int, int, int], b: tuple[int, int, int], **kw) -> Build:
    """fn over two generated COO matrices, each given as (rows, cols, seed)."""
    return lambda bench, d: partial(fn, bench.matrix(*a), bench.matrix(*b), **kw)


def on_zipf(n_docs: int, fn, **kw) -> Build:
    """fn over a Zipfian corpus materialized to parquet before any timed rep,
    so the leg measures the join, not datagen (VERDICT r6)."""
    return lambda b, d: partial(fn, b.zipf(n_docs), persist=True, **kw)


def skew_join(salted: bool) -> Build:
    """One hot key holding 80% of a generated fact table joined to a 1k-row
    dim (the reference's worst case: its contiguous key ranges put the
    whole hot key on one rank, program.c:378-413)."""

    def build(b, d):
        big, small = b.skew_frames()

        def thunk():
            joined = salted_join(big, small, "key", salt=32) if salted else big.join(small, "key")
            return joined.groupBy("key").agg(F.sum(F.col("payload") * F.col("dim_val")).alias("s"))

        return thunk

    return build


def _slope(name: str, den: str) -> tuple[tuple[str, str], ...]:
    return ((name, den),)


# Broadcast joins off: the regime where salting matters (the small side is
# only small relative to the fact table).
NO_BCAST = {"spark.sql.autoBroadcastJoinThreshold": "-1"}
SKEW_OFF = {**NO_BCAST, "spark.sql.adaptive.skewJoin.enabled": "false"}
SKEW_ON = {**NO_BCAST, "spark.sql.adaptive.skewJoin.enabled": "true"}


def _sf1(name: str, **kw) -> Leg:
    """A registered query a decade up, whose sf1/sf0.1 ratio is slope_<name>."""
    return Leg(f"sf1_{name}", SF1, query(name), retry=True, slopes=_slope(f"slope_{name}", name), **kw)


# The ceilings are loose catastrophic backstops on the registered legs, set
# at about 2× their calm band on the 32-core host (q73 75 → 65, q74 60 → 45
# and ppjoin 90 → 70 in round 17, each above the worst striped reading of
# green code then); the job-sum gates below are the primary sf10 gates.
SF10_LEGS = (
    Leg("sf10_q70_dedup_exact", SF10, query("q70_dedup_exact"), reps=1, retry=True,
        ceiling=("sf10_q70_registered_backstop_max_24s", 24.0),
        slopes=_slope("slope3_q70_dedup_exact", "sf1_q70_dedup_exact")),
    Leg("sf10_q73_minhash_lsh_neardup", SF10, query("q73_minhash_lsh_neardup"), reps=1, retry=True,
        ceiling=("sf10_q73_registered_backstop_max_65s", 65.0),
        slopes=_slope("slope3_q73_minhash_lsh_neardup", "sf1_q73_minhash_lsh_neardup")),
    # q74 as registered: its sim64 section size-gates to empty above
    # SIM64_MAX_DOCS (13-bit blocks are quadratic at this decade — 132 s at
    # r8), so the union costs ~the sim120 branch + one metadata count.
    Leg("sf10_q74_simhash_neardup", SF10, query("q74_simhash_neardup"), reps=1, retry=True,
        ceiling=("sf10_q74_registered_max_45s", 45.0)),
    Leg("sf10_q84_tfidf_top_terms", SF10, query("q84_tfidf_top_terms"), reps=1, retry=True,
        slopes=_slope("slope3_q84_tfidf_top_terms", "sf1_q84_tfidf_top_terms")),
    Leg("sf10_ppjoin_pairs", SF10, on_docs(ppjoin_pairs, persist=True), reps=1, retry=True,
        ceiling=("sf10_ppjoin_backstop_max_70s", 70.0),
        slopes=_slope("slope3_ppjoin_pairs", "sf1_ppjoin_pairs")),
    # the 120-bit width lever, measured at the decade it exists for
    Leg("sf10_simhash120_neardup", SF10, on_docs(simhash120_neardup_pairs), reps=1, retry=True,
        ceiling=("sf10_simhash120_backstop_max_60s", 60.0),
        slopes=(("slope3_simhash120_neardup", "sf1_simhash120_neardup"),
                ("slope_sf0.1_sf10_simhash120", "simhash120_neardup"))),
)

LEGS: tuple[Leg | Again | Retry, ...] = (
    *(Leg(name, SF, query(name), headline=True) for name in HEADLINE),
    # the flagship multiply at generated scale: 768³ = 906M scalar products
    Leg("matmul_coo_768", SF, matmul(matmul_coo, (768, 768, 1), (768, 768, 2)), headline=True),
    Leg("matmul_block_768", SF, matmul(matmul_block, (768, 768, 1), (768, 768, 2), block=128),
        headline=True),
    # matmul_auto above the 1e9-product boundary: both shapes dispatch to the
    # blocked GEMM; dims passed, so no count jobs run before the multiply
    Leg("matmul_auto_2048", SF, matmul(matmul_auto, (2048, 2048, 1), (2048, 2048, 2),
                                       dims=(2048, 2048, 2048)), reps=1, retry=True),
    Leg("matmul_auto_rect_128x4096x4096", SF, matmul(matmul_auto, (128, 4096, 3), (4096, 4096, 4),
                                                     dims=(128, 4096, 4096)), reps=1, retry=True),
    # the reference's own file format end to end: .dat scan + multiply
    Leg("matmul_dat_768", SF, lambda b, d: partial(multiply_dat_files, b.spark, *b.dat_files(768))),
    # extras, kept out of the headline so its 22-leg basket stays comparable
    Leg("q85_chunk_documents", SF, cold_query("q85_chunk_documents"), retry=True),
    Leg("q86_pack_sequences", SF, query("q86_pack_sequences")),
    Leg("q76b_ivf_equals_brute", SF, query("q76b_ivf_equals_brute")),
    Leg("q74_simhash_neardup", SF, query("q74_simhash_neardup")),
    Leg("q27_approx_sketches", SF, query("q27_approx_sketches")),
    Leg("simhash120_neardup", SF, on_docs(simhash120_neardup_pairs)),
    Leg("duplicate_spans_n10", SF, on_docs(duplicate_spans, n=10)),
    Leg("remove_duplicate_spans_n10", SF, on_docs(_remove_spans)),
    Leg("redact_pii", SF, on_docs(redact_pii)),
    Leg("dsir_scores", SF, on_docs(_dsir)),
    Leg("clf_train_score", SF, on_docs(_clf)),
    Leg("lm_xent", SF, on_docs(_lm)),
    Leg("bpe_train_encode_48", SF, on_docs(_bpe), reps=1),
    Leg("bm25_topk", SF, on_docs(bm25_topk, ["spark hash join", "table scan fast", "window sort"], k=10)),
    Leg("semantic_neardup_lsh", SF, query("q75b_semantic_neardup_lsh")),
    Leg("pipeline_curate", SF, on_docs(curate_corpus)),
    Leg("decon_documents", SF, lambda b, d: partial(decontaminate, b.docs(d), _bench_prompts(b.docs(d)))),
    Leg("curate_extended", SF, on_docs(_curate_extended), retry=True),
    # plain join with AQE skew splitting off (the one-melted-task baseline),
    # with it on (Spark's runtime answer), and operators/skew.py's salted join
    Leg("skew_join_noaqe", SF, skew_join(salted=False), conf=SKEW_OFF),
    Leg("skew_join_aqe", SF, skew_join(salted=False), conf=SKEW_ON),
    Leg("skew_join_salted", SF, skew_join(salted=True), conf=SKEW_OFF),
    # PPJoin crossover: on a long-tail Zipfian corpus at J ≥ 0.8 the prefix
    # filter beats the direct shingle self-join; at t = 0.5 (q72's contract)
    # the direct join wins at every size measured — both claims are data.
    Leg("zipf_direct_jaccard", SF, on_zipf(20_000, exact_jaccard_pairs)),
    Leg("zipf_ppjoin_jaccard", SF, on_zipf(20_000, ppjoin_pairs)),
    Leg("zipf200k_ppjoin_jaccard_t08", SF, on_zipf(200_000, ppjoin_pairs, t_num=4, t_den=5)),
    Leg("zipf200k_direct_jaccard_t08", SF, on_zipf(200_000, exact_jaccard_pairs, t_num=4, t_den=5)),
    Leg("docs_ppjoin_jaccard", SF, on_docs(ppjoin_pairs, persist=True)),
    # sf1: the same work a decade up (sources/scale.py); each slope is the
    # measured answer to "would this survive a scale-up"
    *(_sf1(name) for name in ("q01_pricing_summary", "q05_region_revenue", "q70_dedup_exact",
                              "q72_ngram_jaccard_pairs", "q73_minhash_lsh_neardup",
                              "q74_simhash_neardup", "q84_tfidf_top_terms")),
    Leg("sf1_ppjoin_pairs", SF1, on_docs(ppjoin_pairs, persist=True), retry=True),
    Leg("sf1_semantic_neardup_lsh", SF1, query("q75b_semantic_neardup_lsh"), reps=1, retry=True,
        slopes=_slope("slope_semantic_neardup_lsh", "semantic_neardup_lsh")),
    Leg("sf1_simhash120_neardup", SF1, on_docs(simhash120_neardup_pairs), retry=True),
    _sf1("q86_pack_sequences"),
    Leg("sf1_curate_extended", SF1, on_docs(_curate_extended), reps=1, retry=True,
        slopes=_slope("slope_curate_extended", "curate_extended")),
    Leg("sf1_duplicate_spans_n10", SF1, on_docs(duplicate_spans, n=10), retry=True,
        slopes=_slope("slope_duplicate_spans_n10", "duplicate_spans_n10")),
    Leg("sf1_dsir_scores", SF1, on_docs(_dsir), retry=True,
        slopes=_slope("slope_dsir_scores", "dsir_scores")),
    Leg("sf1_clf_train_score", SF1, on_docs(_clf), retry=True,
        slopes=_slope("slope_clf_train_score", "clf_train_score")),
    Leg("sf1_lm_xent", SF1, on_docs(_lm), retry=True, slopes=_slope("slope_lm_xent", "lm_xent")),
    Leg("sf1_bpe_train_encode_48", SF1, on_docs(_bpe), reps=1, retry=True,
        slopes=_slope("slope_bpe_train_encode_48", "bpe_train_encode_48")),
    Leg("sf1_q71_fuzzy_dedup", SF1, query("q71_fuzzy_dedup_pipeline"), reps=1, retry=True),
    # sf3: a 3× documents-only step above sf1; slope2 = 3 is linear, 9 quadratic
    *(Leg(f"sf3_{name}", SF3, query(name), retry=True,
          slopes=_slope(f"slope2_{name}", f"sf1_{name}"))
      for name in ("q70_dedup_exact", "q72_ngram_jaccard_pairs", "q73_minhash_lsh_neardup")),
    Leg("sf3_ppjoin_pairs", SF3, on_docs(ppjoin_pairs, persist=True), retry=True,
        slopes=_slope("slope2_ppjoin_pairs", "sf1_ppjoin_pairs")),
    Leg("sf3_q71_fuzzy_dedup", SF3, query("q71_fuzzy_dedup_pipeline"), reps=1, retry=True,
        slopes=_slope("slope2_q71_fuzzy_dedup", "sf1_q71_fuzzy_dedup")),
    # sf10: a 10× documents-only step above sf1, run in two non-consecutive
    # passes (throttle stripes last minutes and can start mid-leg, where the
    # bracketing probes cannot see them); the min of the two is the gate read
    *SF10_LEGS,
    *(Again(leg.label) for leg in SF10_LEGS),
    Retry("ceiling"),
    # second samples of every slope-gate leg and the noisy single-rep extras
    *(Again(label) for label in (
        "sf1_q71_fuzzy_dedup", "sf1_simhash120_neardup", "sf1_q70_dedup_exact",
        "sf1_q73_minhash_lsh_neardup", "sf1_semantic_neardup_lsh", "sf1_ppjoin_pairs",
        "sf3_q71_fuzzy_dedup", "sf3_q72_ngram_jaccard_pairs", "matmul_auto_2048",
        "matmul_auto_rect_128x4096x4096", "bpe_train_encode_48")),
    Retry("extras"),
    Retry("headline", rounds=2),
)

# Job-sum gates (see Bench.job_sum): a sum over the leg's Spark jobs of each
# job's lowest executor run time across the sf10 passes, so one slow stripe
# of CPU contention cannot inflate every term.  The thresholds are executor
# seconds, rebased from the former wall-clock sums of hand-split stage legs
# on one calibration run (4-vCPU VM, local[4]; table in CHANGES.md): each is
# at most old threshold × new basis / old basis, and gave the old gate's
# status on that run.
GATES = (
    Gate("slope2_q71_fuzzy_dedup_max_4", "slope", "slope2_q71_fuzzy_dedup", 4.0),
    Gate("sf10_q70_jobsum_max_94s", "jobsum", "sf10_q70_dedup_exact", 94.0),
    Gate("sf10_q73_jobsum_max_125s", "jobsum", "sf10_q73_minhash_lsh_neardup", 125.0),
    Gate("sf10_sim120_jobsum_max_168s", "jobsum", "sf10_simhash120_neardup", 168.0),
    Gate("sf10_ppjoin_jobsum_max_250s", "jobsum", "sf10_ppjoin_pairs", 250.0),
    Gate("slope3_q73_jobsum_max_14", "slope_jobsum", "sf10_q73_minhash_lsh_neardup", 14.0,
         "sf1_q73_minhash_lsh_neardup"),
    Gate("slope3_sim120_jobsum_max_12", "slope_jobsum", "sf10_simhash120_neardup", 12.0,
         "sf1_simhash120_neardup"),
    Gate("slope3_ppjoin_jobsum_max_12", "slope_jobsum", "sf10_ppjoin_pairs", 12.0,
         "sf1_ppjoin_pairs"),
)


def cpu_steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_load() -> float:
    """1-minute loadavg: namespace-local here, so a record of self-load."""
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def py_probe(n: int = PROBE_LOOP_N) -> float:
    """Fixed single-core work, timed (the clock-throttling probe)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i & 1023
    return round(time.perf_counter() - t0, 3)


def job_run_s(collector: Collector, job_ids: list[int]) -> list[float]:
    """Executor run seconds of each job (summed over its stages), in the
    order of ``job_ids``."""
    tracker = collector.sc.statusTracker()
    out = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        stages = info.stageIds if info else []
        out.append(round(sum(collector.core.lastStageAttempt(s).executorRunTime() for s in stages) / 1e3, 3))
    return out


@contextlib.contextmanager
def session_conf(spark, conf: dict[str, str] | None):
    saved = {k: spark.conf.get(k, None) for k in conf or {}}
    for k, v in (conf or {}).items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


class Bench:
    """One session's run: the leg runner, the calm protocol, the inputs the
    builders share, and everything they record."""

    def __init__(self, spark, dirs: dict[str, str], cpus: int):
        self.spark, self.sc, self.dirs, self.cpus = spark, spark.sparkContext, dirs, cpus
        self.registry = all_queries()
        self.collector = Collector(spark)
        self.values: dict[str, float] = {}  # min over every rep of every invocation
        self.runs: dict[str, list[tuple[float, dict]]] = {}  # (value, profile) per rep
        self.errors: dict[str, str] = {}
        self.probes: dict[str, float] = {}  # calmest py probe per leg
        self.loads: dict[str, float] = {}  # highest loadavg per leg
        self.probe_values: list[float] = []  # every spark probe, for the run's floor
        self.pairs: dict[str, list[tuple[float, float]]] = {}  # (before, after) per invocation
        self.speed_factor = 1.0
        self._reps: dict[str, int] = {}
        self._inputs: dict[tuple, object] = {}
        self._tmp = contextlib.ExitStack()

    # ------------------------------------------------------------- inputs
    def _input(self, key: tuple, make: Callable[[], object]):
        """Built once per run, untimed, by the first leg that needs it."""
        if key not in self._inputs:
            self._inputs[key] = make()
        return self._inputs[key]

    def docs(self, d: str):
        return self._input(("docs", d), lambda: load_table(self.spark, d, "documents"))

    def matrix(self, rows: int, cols: int, seed: int):
        return self._input(("matrix", rows, cols, seed), lambda: generate_matrix_df(
            self.spark, rows, cols, seed=seed, num_partitions=self.cpus))

    def dat_files(self, n: int) -> tuple[str, str]:
        def make():
            import numpy as np

            d = self._tmp.enter_context(tempfile.TemporaryDirectory())
            rng = np.random.default_rng(7)
            return tuple(write_matrix_dat(rng.integers(0, 100, (n, n), dtype=np.int32), d, i) for i in (1, 2))

        return self._input(("dat", n), make)

    def zipf(self, n_docs: int):
        def make():
            path = os.path.join(self._tmp.enter_context(tempfile.TemporaryDirectory()), "zipf.parquet")
            zipf_corpus(self.spark, n_docs=n_docs, doc_len=60, vocab=200_000,
                        num_partitions=self.cpus).write.parquet(path)
            frame = self.spark.read.parquet(path)
            frame.count()  # warm the file listing; the scan itself is the measured input
            return frame

        return self._input(("zipf", n_docs), make)

    def skew_frames(self, rows: int = 16_000_000):
        def make():
            key = F.when(F.col("id") % 10 < 8, 0).otherwise(F.pmod(F.xxhash64("id"), F.lit(1000)))
            big = self.spark.range(rows).select(key.cast("long").alias("key"), (F.col("id") % 97).alias("payload"))
            small = self.spark.range(1000).select(F.col("id").alias("key"), (F.col("id") * 7 % 101).alias("dim_val"))
            return big, small

        return self._input(("skew", rows), make)

    def close(self) -> None:
        self._tmp.close()

    # ------------------------------------------------------------- runner
    def run(self, leg: Leg, reps: int) -> None:
        """Time ``reps`` reps of one leg, bracketed by spark probes.
        Failure-isolated: a broken leg records an error and the run goes on.
        Re-running a label merges: samples accumulate, the value keeps its
        minimum, the py probe its calmest reading."""
        label = leg.label
        try:
            self.sc.setJobGroup(f"{label}/inputs", f"inputs of bench leg {label}")
            thunk = leg.build(self, self.dirs[leg.sf])
            p = py_probe()
            self.probes[label] = min(self.probes.get(label, p), p)
            self.loads[label] = max(self.loads.get(label, -1.0), host_load())
            before = self.spark_probe(f"{label}/probe")
            with session_conf(self.spark, leg.conf):
                done = [self.rep(leg, thunk) for _ in range(reps)]
        except Exception as e:  # noqa: BLE001 — the harness degrades per leg
            self.spark.catalog.clearCache()
            self.errors[label] = f"{type(e).__name__}: {e}"[:500]
            return
        # legs that cache intermediates must not carry memory pressure into
        # the next measurement
        self.spark.catalog.clearCache()
        self.pairs.setdefault(label, []).append((before, self.spark_probe(f"{label}/probe")))
        self.runs.setdefault(label, []).extend(done)
        self.values[label] = min(self.values.get(label, float("inf")), *(v for v, _ in done))

    def rep(self, leg: Leg, thunk) -> tuple[float, dict]:
        n = self._reps[leg.label] = self._reps.get(leg.label, 0) + 1
        group = f"{leg.label}/{n}"
        # Collect py4j plan-object garbage before each rep (round 15): plan-
        # heavy builds leave JVM objects alive until Python's cyclic GC runs
        # (q85's reps read 49 → 79 → 157 s without it).  Untimed.
        gc.collect()
        self.sc.setJobGroup(group, f"bench leg {leg.label} ({leg.sf}), rep {n}")
        t0 = time.perf_counter()
        frame = thunk()
        t1 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        construct_s, exec_s = round(t1 - t0, 3), round(t2 - t1, 3)
        return round(construct_s + exec_s, 3), self.profile(group, construct_s, exec_s)

    def profile(self, group: str, construct_s: float, exec_s: float) -> dict:
        """The rep's layers, read before the status store can evict its jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = sorted(self.collector.job_ids(group))
        counters, tasks = self.collector.counters(jobs)
        return {
            "construct_s": construct_s,
            "exec_s": exec_s,
            **{k: round(v, 3) for k, v in counters.items()},
            "exec.task_p50_s": round(statistics.median(tasks), 3) if tasks else 0.0,
            "exec.task_max_s": round(max(tasks), 3) if tasks else 0.0,
            "exec.job_run_s": job_run_s(self.collector, jobs),
        }

    def job_sum(self, label: str) -> tuple[float, str] | None:
        """The leg's executor run time with contention squeezed out: its
        reps' Spark jobs matched by position, the lowest executor run time of
        each job summed.  When the reps ran different job lists, the lowest
        whole-rep executor run time instead (the basis says which)."""
        runs = [p["exec.job_run_s"] for _, p in self.runs.get(label, ()) if p["exec.job_run_s"]]
        if not runs:
            return None
        if len({len(r) for r in runs}) == 1:
            return round(sum(map(min, zip(*runs))), 3), "sum_over_jobs_of_min_across_reps"
        return round(min(map(sum, runs)), 3), "min_rep_executor_run_s_job_lists_differ"

    # ------------------------------------------------------- calm protocol
    def spark_probe(self, group: str) -> float:
        self.sc.setJobGroup(group, "calm probe")
        t0 = time.perf_counter()
        self.spark.range(SPARK_PROBE_ROWS).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
        v = round(time.perf_counter() - t0, 3)
        self.probe_values.append(v)
        return v

    def calm_threshold(self) -> float:
        floor = min(self.probe_values, default=0.0)
        return max(SPARK_PROBE_ABS_CALM_SEC, SPARK_PROBE_REL_FACTOR * floor)

    def calm(self, label: str) -> bool:
        """Some invocation of the leg had both bracketing probes calm."""
        thr = self.calm_threshold()
        return any(max(pair) <= thr for pair in self.pairs.get(label, ()))

    def pending(self, which: str) -> list[Leg]:
        """Legs of one class with no calm sample yet: "ceiling" (over their
        gate ceiling), "extras" (retry-eligible) or "headline"."""
        legs = [s for s in LEGS if isinstance(s, Leg) and s.label in self.values and not self.calm(s.label)]
        if which == "ceiling":
            return [s for s in legs if s.ceiling and self.values[s.label] > s.ceiling[1]]
        flag = "retry" if which == "extras" else "headline"
        return [s for s in legs if getattr(s, flag) and s.label not in self.errors]

    def retry(self, which: str, rounds: int = 1) -> None:
        """Re-run once each leg that never saw a calm window, after waiting
        (≤ CALM_WAITS × CALM_WAIT_SEC) for the probe to read calm: retrying
        into a contended window burns samples without information.  Values
        min-merge, so a retry can only lower a leg's value."""
        for _ in range(rounds):
            legs = self.pending(which)
            if not legs:
                return
            for _ in range(CALM_WAITS):
                if self.spark_probe("bench/calm-wait") <= self.calm_threshold():
                    break
                time.sleep(CALM_WAIT_SEC)
            for leg in legs:
                self.run(leg, reps=1)

    def execute(self) -> None:
        by_label = {s.label: s for s in LEGS if isinstance(s, Leg)}
        for step in LEGS:
            if isinstance(step, Retry):
                self.retry(step.which, step.rounds)
            elif os.path.isdir(self.dirs[by_label[step.label].sf]):
                leg = by_label[step.label]
                self.run(leg, leg.reps if isinstance(step, Leg) else 1)

    # ------------------------------------------------------------- report
    def norm(self, label: str, t: float) -> float:
        """Clock-normalized by the probe taken right before the leg ran."""
        p = self.probes.get(label)
        return round(t * (PROBE_REF_SEC / p if p else self.speed_factor), 3)

    def probe_sane(self, *labels: str) -> bool:
        return all((p := self.probes.get(label)) is not None and p <= PROBE_SANITY_FACTOR * PROBE_REF_SEC
                   for label in labels)

    def canary(self) -> dict[str, float]:
        """One fixed-work probe pair; taken at bench start and end."""
        self.sc.setJobGroup("bench/canary", "fixed-work canary")
        py_sec = py_probe(CANARY_PY_LOOP_N)
        spark_legs = []
        for _ in range(3):  # min-of-3: discard whole-stage-codegen JIT warmup
            t0 = time.perf_counter()
            self.spark.range(CANARY_SPARK_ROWS).selectExpr("bit_xor(xxhash64(id)) AS s").collect()
            spark_legs.append(round(time.perf_counter() - t0, 3))
        return {"py_1core_sec": py_sec, "spark_32core_sec": min(spark_legs)}


def status(raw: float, value: float, thr: float, probe_sane: bool, never_calm: bool = False) -> str:
    """Raw first: a raw pass is final.  A normalized value may rescue a raw
    miss only on a trusted (sane) probe; outside the band, or when the leg
    never saw a calm multi-core window, a miss reads "indeterminate" — a
    contended-window reading is not a measurement of the query."""
    if raw <= thr or (probe_sane and value <= thr):
        return "pass"
    return "indeterminate" if never_calm or not probe_sane else "fail"


def _verdict(record: dict, st: str) -> dict:
    return {**record, "pass": st == "pass", "status": st}


def gates(b: Bench, extras: dict[str, float]) -> dict[str, dict]:
    out: dict[str, dict] = {}

    def calm_fields(label: str) -> dict:
        pairs = b.pairs.get(label)
        return {"spark_probe_pairs": pairs, "multi_core_calm_sample": bool(pairs) and b.calm(label)}

    for leg in (s for s in LEGS if isinstance(s, Leg) and s.ceiling and s.label in b.values):
        name, thr = leg.ceiling
        t, calm = b.values[leg.label], calm_fields(leg.label)
        rec = {"raw": t, "value": b.norm(leg.label, t), "threshold": thr, "probe": b.probes.get(leg.label),
               "probe_sane": b.probe_sane(leg.label), **calm}
        never_calm = bool(calm["spark_probe_pairs"]) and not calm["multi_core_calm_sample"]
        out[name] = _verdict(rec, status(t, rec["value"], thr, rec["probe_sane"], never_calm))
    for g in GATES:
        if g.kind == "slope":
            if g.leg in extras:
                s = extras[g.leg]
                out[g.name] = _verdict({"raw": s, "value": s, "threshold": g.threshold},
                                       "pass" if s <= g.threshold else "fail")
            continue
        num, den = b.job_sum(g.leg), g.den and b.job_sum(g.den)
        if num is None or (g.den and not (den and den[0])):
            failed = [e for label in (g.leg, g.den) if label and (e := b.errors.get(label))]
            if failed:  # a crashed leg must read indeterminate, never silently green
                out[g.name] = {"raw": None, "value": None, "threshold": g.threshold, "error": failed[0],
                               "pass": False, "status": "indeterminate"}
            continue
        if g.kind == "jobsum":
            raw, value, sane = num[0], b.norm(g.leg, num[0]), b.probe_sane(g.leg)
            rec = {"raw": raw, "value": value, "threshold": g.threshold, "basis": num[1],
                   "probe": b.probes.get(g.leg), "probe_sane": sane}
            out[g.name] = _verdict(rec, status(raw, value, g.threshold, sane))
            continue
        # slope over the sf1 leg: the denominator is the one side the job
        # sum cannot absorb contention on, so its calm evidence rides along
        raw = round(num[0] / den[0], 2)
        den_norm = b.norm(g.den, den[0])
        value = round(b.norm(g.leg, num[0]) / den_norm, 2) if den_norm else raw
        sane, calm = b.probe_sane(g.leg, g.den), calm_fields(g.den)
        never_calm = bool(calm["spark_probe_pairs"]) and not calm["multi_core_calm_sample"]
        extras[g.name.rsplit("_max_", 1)[0] + "_basis"] = raw
        rec = {"raw": raw, "value": value, "threshold": g.threshold, "num_basis": num[0], "den_basis": den[0],
               "basis": f"{num[1]} / {den[1]}", "den_key": g.den,
               "probes": {k: b.probes.get(k) for k in (g.leg, g.den)}, "probe_sane": sane, **calm}
        out[g.name] = _verdict(rec, status(raw, value, g.threshold, sane, never_calm))
    return out


def git_sha() -> str | None:
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def report(b: Bench, sf: float, canary_start: dict, steal_start: float) -> tuple[dict, dict]:
    """(BENCH_DETAIL, the stdout line)."""
    legs = [s for s in LEGS if isinstance(s, Leg) and s.label in b.values]
    timings = {s.label: b.values[s.label] for s in legs if s.headline}
    extras = {s.label: b.values[s.label] for s in legs if not s.headline}
    # every slope from the final per-leg minima, after all retries
    for leg in legs:
        for name, den in leg.slopes:
            if b.values.get(den):
                extras[name] = round(b.values[leg.label] / b.values[den], 2)
    total = round(sum(timings.values()), 3)

    # "calm" only when every headline leg has a calm-bracketed sample AND the
    # run's probe floor is within 2× the reference; "indeterminate" when some
    # leg never saw a calm window (its min is an upper bound); "degraded_host"
    # when the whole run never reached reference-class multi-core throughput.
    headline_no_calm = sorted(k for k in timings if not b.calm(k) and k not in b.errors)
    extras_no_calm = sorted(k for k in b.pairs if k in extras and not b.calm(k) and k not in b.errors)
    probe_floor = min(b.probe_values, default=None)
    if headline_no_calm:
        headline_load = "indeterminate"
    elif probe_floor is not None and probe_floor > 2 * SPARK_PROBE_REF_SEC:
        headline_load = "degraded_host"
    else:
        headline_load = "calm"

    # drift during the run (start vs end) is itself signal
    canary = {"start": canary_start, "end": b.canary(), "py_ref_sec": CANARY_PY_REF_SEC,
              "spark_ref_sec": CANARY_SPARK_REF_SEC}
    probe_list = sorted(b.probes.values())
    if probe_list:
        probe_median = probe_list[len(probe_list) // 2]
        canary.update(probe_median_sec=probe_median, probe_ref_sec=PROBE_REF_SEC, probe_worst_sec=probe_list[-1],
                      host_speed_factor=round(PROBE_REF_SEC / probe_median, 3))
    else:
        py_mean = (canary_start["py_1core_sec"] + canary["end"]["py_1core_sec"]) / 2
        canary["host_speed_factor"] = round(CANARY_PY_REF_SEC / py_mean, 3)
    b.speed_factor = canary["host_speed_factor"]
    value_normalized = round(total * b.speed_factor, 3)

    gate_set = gates(b, extras)
    # a broken headline query must never read as a speedup
    headline_errors = sorted(set(b.errors) & set(HEADLINE))
    gates_failed = sorted(k for k, g in gate_set.items() if g["status"] == "fail")
    gates_indeterminate = sorted(k for k, g in gate_set.items() if g["status"] == "indeterminate")
    profiles = {k: min(runs, key=lambda r: r[0])[1] for k, runs in b.runs.items()}
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": None if headline_errors else total,
        "value_normalized": None if headline_errors else value_normalized,
        "partial_sum": total,
        "unit": "sec",
        "queries": timings,
        "queries_normalized": {k: b.norm(k, v) for k, v in timings.items()},
        "extras_normalized": {k: b.norm(k, v) for k, v in extras.items() if k in b.probes},
        "extras": extras,
        "samples": {k: [v for v, _ in runs] for k, runs in b.runs.items()},
        "profiles": profiles,
        "probes": b.probes,
        "host_loads": b.loads,
        "spark_probe_pairs": {k: [list(p) for p in v] for k, v in b.pairs.items()},
        "spark_probe_floor": probe_floor,
        "spark_probe_ref_sec": SPARK_PROBE_REF_SEC,
        "spark_probe_calm_threshold": round(b.calm_threshold(), 3),
        "headline_load": headline_load,
        "headline_no_calm_sample": headline_no_calm,
        "extras_no_calm_sample": extras_no_calm,
        "errors": b.errors,
        "canary": canary,
        "gates": gate_set,
        "gates_failed": gates_failed,
        "gates_indeterminate": gates_indeterminate,
        "sf": sf,
        "provenance": {
            "cpus": b.cpus,
            "nproc": len(os.sched_getaffinity(0)),
            "sf": sf,
            "git_sha": git_sha(),
            "driver_memory": b.sc.getConf().get("spark.driver.memory"),
            "cpu_steal_s_start": steal_start,
            "cpu_steal_s_end": cpu_steal_s(),
            "headline_load": headline_load,
            # jobs outside every job group (status-store retained window)
            "ungrouped_jobs": len(b.sc.statusTracker().getJobIdsForGroup(None)),
        },
    }
    # Harnesses keep only the tail of stdout and parse the LAST JSON line:
    # keep it compact (r1 format) and final.
    out = {
        "metric": "headline_query_wall_seconds",
        "value": detail["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "value_normalized": detail["value_normalized"],
        "host_speed_factor": canary["host_speed_factor"],
        # [] is the green signal; otherwise open BENCH_DETAIL's "gates"
        "gates_failed": gates_failed,
        "headline_load": headline_load,
        # 0 means the decade datasets were absent and no gate ran: an
        # artifact must show gates_run=13 to claim a green gate set
        "gates_run": len(gate_set),
    }
    if gates_indeterminate:
        out["gates_indeterminate"] = gates_indeterminate
    if headline_no_calm:
        out["headline_no_calm_n"] = len(headline_no_calm)
    if headline_errors:
        out["errors"] = headline_errors
    return detail, out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    dirs = {SF: sf_dir}
    for key, env in DECADE_DIRS.items():
        dirs[key] = os.environ.get(env, os.path.join(REPO, "localdata", key))
        if not os.path.isdir(dirs[key]):
            print(f"bench.py: {dirs[key]} not found: skipping the {key} legs and their gates "
                  "(see README, 'Decade datasets')", file=sys.stderr)

    steal_start = cpu_steal_s()
    # The status stores must keep a whole run: Spark keeps 1,000 jobs, stages
    # and SQL executions by default and evicts skipped stages first, while a
    # rep's profile reads its skipped stages and finds its SQL executions by
    # offset (an eviction shifts every later offset).
    keep = {f"spark.{k}": "100000" for k in ("ui.retainedJobs", "ui.retainedStages", "sql.ui.retainedExecutions")}
    spark = get_spark(app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=keep)
    spark.sparkContext.setLogLevel("ERROR")
    b = Bench(spark, dirs, cpus)
    # warm the JVM + file listing with a trivial action
    b.sc.setJobGroup("bench/setup", "warm-up")
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    canary_start = b.canary()
    # JIT-warm the probe's codegen shape before any classification sample
    # lands in the pool (the first probe carries C2 compilation: 12.0 s vs
    # 1.5 s steady on the same window)
    for _ in range(2):
        b.spark_probe("bench/setup")
    b.probe_values.clear()

    b.execute()
    detail, out = report(b, sf, canary_start, steal_start)
    b.close()
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    spark.stop()

    line = json.dumps(out)
    if len(line) > 1500:  # hard guard: never outgrow a 2,000-character tail
        out["queries"] = {"_truncated_entries": len(out["queries"])}
        line = json.dumps(out)
    print(line)
    if out["gates_failed"]:
        # a failing gate set is unmissable in any harness that checks exit
        # status; the JSON line above has already been printed
        sys.exit(1)


if __name__ == "__main__":
    main()
