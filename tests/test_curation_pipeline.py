"""curate_corpus composition invariants + CLI pipeline smoke test."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.pipeline import (
    curate_corpus,
    write_curated_shards,
)
from emulating_hadoop_with_mpi_spark.functions.text import quality_scores
from emulating_hadoop_with_mpi_spark.sources.tables import load_table


def test_curate_corpus_invariants(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    MINQ, BUDGET = 0.2, 256
    cur = curate_corpus(docs, min_quality=MINQ, budget=BUDGET).cache()
    rows = cur.collect()
    assert rows

    # quality gate: every surviving doc scored >= threshold
    kept_ids = {r.doc_id for r in rows}
    scores = {
        r.doc_id: r.quality for r in quality_scores(docs).collect()
    }
    assert all(scores[d] >= MINQ for d in kept_ids)

    # exact dedup: of each identical-text group, only the lowest doc_id survives
    dup_groups = (
        docs.groupBy("text")
        .agg(F.collect_set("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    for g in dup_groups:
        ids = sorted(g.ids)
        assert not (set(ids[1:]) & kept_ids), f"non-winner duplicates survived: {ids}"

    # leakage-safe split: all chunks of a doc share one split label
    per_doc = cur.groupBy("doc_id").agg(F.countDistinct("split").alias("k")).collect()
    assert all(r.k == 1 for r in per_doc)

    # packing: every chunk fits a window, and bin fill respects the
    # end-aligned bound budget + chunk_len - 1 (the straddling first doc
    # of a bin counts fully toward it — see pack_sequences docstring)
    assert all(r.n_tokens <= 64 for r in rows)
    assert all(r.bin_fill <= BUDGET + 64 - 1 for r in rows)
    # and the overshoot is the exception, not the rule
    over = sum(1 for r in rows if r.bin_fill > BUDGET)
    assert over / len(rows) < 0.2

    # chunk_id decodes to (doc_id, chunk_idx)
    assert all(r.chunk_id == r.doc_id * (1 << 20) + r.chunk_idx for r in rows)
    cur.unpersist()


def test_cli_pipeline_writes_split_shards(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """CLI smoke: runs end-to-end, prints a sane JSON summary, and the
    sink is split=*/shard=* with one file per leaf."""
    import json

    import emulating_hadoop_with_mpi_spark.cli as cli

    out = str(tmp_path / "curated")
    # reuse the test session instead of building a second JVM session
    monkeypatch.setattr(cli, "_spark", lambda: spark)
    rc = cli.main(["pipeline", sf_dir, "--out", out, "--bins-per-shard", "8"])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_in"] >= summary["docs_kept"] > 0
    assert summary["chunks"] >= summary["docs_kept"]
    assert set(summary["by_split"]) <= {"train", "val", "test"}

    leaves = []
    for split_dir in sorted(os.listdir(out)):
        if not split_dir.startswith("split="):
            continue
        for shard_dir in sorted(os.listdir(os.path.join(out, split_dir))):
            if shard_dir.startswith("shard="):
                leaves.append(os.path.join(out, split_dir, shard_dir))
    assert leaves, "expected split=*/shard=* directories"
    for leaf in leaves:
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1, f"{leaf}: {len(files)} files"

    back = spark.read.parquet(out)
    assert back.count() == summary["chunks"]


def test_grouped_pack_equals_per_group_pack(spark, sf_dir):
    """pack_sequences(group_col=...) must equal running the ungrouped
    packer on each group separately — and bins are group-pure."""
    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "grp", (F.col("doc_id") % 3).cast("string")
    )
    grouped = pack_sequences(docs, budget=128, group_col="grp").collect()
    got = {}
    for r in grouped:
        got.setdefault(r.grp, set()).add((r.doc_id, r.n_tokens, r.bin_id, r.bin_fill))
    assert set(got) == {"0", "1", "2"}
    for g in ("0", "1", "2"):
        solo = {
            (r.doc_id, r.n_tokens, r.bin_id, r.bin_fill)
            for r in pack_sequences(
                docs.filter(F.col("grp") == g), budget=128
            ).collect()
        }
        assert got[g] == solo, f"group {g}"


def test_grouped_pack_keeps_null_group(spark):
    """A NULL group value is one group, packed like any other: none of its
    documents is lost at the prefix sum's offset join."""
    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences

    docs = spark.createDataFrame(
        [(1, "a b", "x"), (2, "c d e", None), (3, "f", "x"), (4, "g h", None)],
        "doc_id long, text string, grp string",
    )
    rows = pack_sequences(docs, budget=4, group_col="grp").collect()
    assert len(rows) == 4
    got = {(r.grp, r.doc_id, r.bin_id, r.bin_fill) for r in rows}
    # per group: running totals x 2, 3 and NULL 3, 5 → bins (cum - 1) div 4
    assert got == {("x", 1, 0, 2), ("x", 3, 0, 3), (None, 2, 0, 3), (None, 4, 1, 2)}


def test_curated_bins_are_split_pure(spark, sf_dir):
    cur = curate_corpus(load_table(spark, sf_dir, "documents"))
    impure = (
        cur.groupBy("split", "bin_id")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert impure == 0


def test_chunk_id_overflow_guard_raises(spark, sf_dir):
    """ADVICE r3: chunk_id = doc_id * factor + chunk_idx must REFUSE to
    encode a chunk_idx >= factor (silent collision otherwise).  A tiny
    factor forces the distributed assert_true to fire."""
    import pytest as _pytest

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(Exception) as exc:
        curate_corpus(
            docs, window=8, stride=4, budget=16, chunk_id_factor=2
        ).count()
    assert "overflows the chunk_id encoding" in str(exc.value)


def test_exact_dedup_groups_by_hash_and_text(spark):
    """ADVICE r3: the pipeline's exact dedup must group by (hash, text),
    not hash alone — the plan itself must carry the text in the dedup
    aggregate so a 64-bit xxhash64 collision cannot merge distinct docs."""
    long_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    other = "one two three four five six seven eight nine ten " * 4
    docs = spark.createDataFrame(
        [(1, long_text), (2, long_text), (3, other)], "doc_id long, text string"
    )
    cur = curate_corpus(docs, min_quality=0.0, window=8, stride=8, budget=64)
    assert set(r.doc_id for r in cur.collect()) == {1, 3}
    # plan-shape pin: some hash aggregate groups on the raw text column
    plan = cur._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan and "text" in plan


def _py_ngrams(text, n):
    toks = [t for t in text.lower().strip().split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_decontaminate_exact_vs_bruteforce(spark, sf_dir):
    """Flagged set and per-doc hit counts == a Python recomputation over
    the same token n-grams; benchmark built from substrings of real
    corpus docs so both hits and misses occur."""
    from emulating_hadoop_with_mpi_spark.functions.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    n = 5
    # benchmark: middle slices (by whitespace tokens) of three docs, plus
    # one prompt that matches nothing
    ids = sorted(rows)[:3]
    bench_texts = []
    for d in ids:
        toks = rows[d].split()
        bench_texts.append(" ".join(toks[2 : 2 + n + 3]))
    bench_texts.append("zz qq xx vv ww yy uu tt")
    bench = spark.createDataFrame([(t,) for t in bench_texts], "text string")

    got = {
        r["doc_id"]: r["n_hits"]
        for r in decontaminate(docs, bench, n=n).collect()
    }

    bench_grams = set()
    for t in bench_texts:
        bench_grams |= _py_ngrams(t, n)
    want = {}
    for d, t in rows.items():
        hits = len(_py_ngrams(t, n) & bench_grams)
        if hits:
            want[d] = hits
    assert set(ids) <= set(want), "planted benchmark slices must flag their sources"
    assert got == want


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """Plan pin: the n-gram match is a broadcast hash join (corpus
    shingles never shuffle to meet the benchmark)."""
    from emulating_hadoop_with_mpi_spark.functions.pipeline import decontaminate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = spark.createDataFrame([("some benchmark prompt here ok",)], "text string")
    plan = decontaminate(docs, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curate_corpus_drops_contaminated_docs(spark, sf_dir):
    """benchmark= in curate_corpus anti-joins flagged docs out: no chunk
    of a contaminated doc survives, everything else is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    victim = docs.orderBy("doc_id").limit(1).collect()[0]
    toks = victim["text"].split()
    bench = spark.createDataFrame(
        [(" ".join(toks[: min(12, len(toks))]),)], "text string"
    )
    base = curate_corpus(docs, min_quality=0.0)
    decon = curate_corpus(docs, min_quality=0.0, benchmark=bench)
    base_ids = {r["doc_id"] for r in base.select("doc_id").distinct().collect()}
    decon_ids = {r["doc_id"] for r in decon.select("doc_id").distinct().collect()}
    assert victim["doc_id"] in base_ids
    assert victim["doc_id"] not in decon_ids
    assert decon_ids <= base_ids


def test_cli_pipeline_benchmark_flag(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """--benchmark <txt> decontaminates: docs_kept drops vs the same run
    without it, and the victim doc is gone from the sink."""
    import json

    import emulating_hadoop_with_mpi_spark.cli as cli

    docs = load_table(spark, sf_dir, "documents")
    victim = docs.orderBy("doc_id").limit(1).collect()[0]
    bench_txt = tmp_path / "bench.txt"
    bench_txt.write_text(" ".join(victim["text"].split()[:12]) + "\n")

    monkeypatch.setattr(cli, "_spark", lambda: spark)
    out = str(tmp_path / "curated_decon")
    rc = cli.main(
        [
            "pipeline", sf_dir, "--out", out, "--min-quality", "0.0",
            "--benchmark", str(bench_txt),
        ]
    )
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["docs_kept"] > 0
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).select("doc_id").collect()}
    assert victim["doc_id"] not in kept_ids


def test_decontaminate_large_benchmark_does_not_broadcast(spark, sf_dir):
    """Cross-corpus decontamination: a corpus-sized 'benchmark' joins
    shuffled (SortMergeJoin), never broadcast — and the answer equals the
    broadcast regime's."""
    import emulating_hadoop_with_mpi_spark.functions.pipeline as pl

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.select("text").limit(20)
    small = sorted(map(tuple, pl.decontaminate(docs, bench, n=5).collect()))
    orig = pl.DECON_BROADCAST_BYTES
    try:
        pl.DECON_BROADCAST_BYTES = 0
        part = pl.decontaminate(docs, bench, n=5)
        plan = part._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert sorted(map(tuple, part.collect())) == small
    finally:
        pl.DECON_BROADCAST_BYTES = orig


def test_curate_corpus_span_cut_stage(spark):
    """cut_span_ngram= wires remove_duplicate_spans between exact dedup
    and chunking: shared boilerplate survives exactly once corpus-wide,
    and docs without duplicated spans pass through with identical chunk
    text."""
    header = "this software is provided as is without warranty of any kind"
    docs = spark.createDataFrame(
        [
            (1, header + " alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (2, "one two three four five six seven eight nine ten " + header),
            (3, "completely unrelated text with no repeated windows anywhere at all ok"),
        ],
        "doc_id long, text string",
    )
    plain = curate_corpus(docs, min_quality=0.0, window=8, stride=8, budget=16)
    cut = curate_corpus(
        docs, min_quality=0.0, window=8, stride=8, budget=16, cut_span_ngram=6
    )
    joined_plain = " ".join(
        r.chunk_text for r in plain.filter("doc_id = 2").orderBy("chunk_idx").collect()
    )
    joined_cut = " ".join(
        r.chunk_text for r in cut.filter("doc_id = 2").orderBy("chunk_idx").collect()
    )
    assert header in joined_plain
    assert header not in joined_cut, joined_cut  # doc 2's copy was cut
    # doc 1 held the first occurrence: its header survives
    doc1 = " ".join(
        r.chunk_text for r in cut.filter("doc_id = 1").orderBy("chunk_idx").collect()
    )
    assert header in doc1
    # untouched doc identical across both runs
    for df in (plain, cut):
        assert df.filter("doc_id = 3").count() > 0
    t3p = [r.chunk_text for r in plain.filter("doc_id = 3").orderBy("chunk_idx").collect()]
    t3c = [r.chunk_text for r in cut.filter("doc_id = 3").orderBy("chunk_idx").collect()]
    assert t3p == t3c


def test_redaction_runs_after_span_cut(spark):
    """Order pin (VERDICT r9 item 6): redact=True must mask PII AFTER
    dedup + span cutting, never before.  Docs 1/2 differ ONLY in their
    email address and share a 5-token tail — shorter than the 6-token
    span window, so the ORIGINAL texts share no complete span.  Had
    redaction run first, both would read '<EMAIL> please do not reply
    thanks' and the span cutter would have deleted doc 2's entire text;
    with the pinned order both survive, redacted."""
    docs = spark.createDataFrame(
        [
            (1, "alice@example.com please do not reply thanks"),
            (2, "bob@example.org please do not reply thanks"),
            # true boilerplate pair: a shared 6-token header in the
            # ORIGINALS is cut keep-first even with redaction on, and
            # doc 3's SSN is masked in the output
            (3, "all rights reserved by the authors ssn 123-45-6789 held"),
            (4, "all rights reserved by the authors but other words here"),
        ],
        "doc_id long, text string",
    )
    cur = curate_corpus(
        docs, min_quality=0.0, window=8, stride=8, budget=16,
        cut_span_ngram=6, redact=True,
    ).cache()

    def text_of(doc_id: int) -> str:
        return " ".join(
            r.chunk_text
            for r in cur.filter(f"doc_id = {doc_id}").orderBy("chunk_idx").collect()
        )

    t1, t2, t3, t4 = (text_of(i) for i in (1, 2, 3, 4))
    # both email docs survive in full, redacted — not span-cut
    # (chunk text is lowercased by the tokenizer, hence <email>)
    assert t1 == "<email> please do not reply thanks", t1
    assert t2 == "<email> please do not reply thanks", t2
    # the genuine shared header is cut from the later doc, kept in doc 3
    assert "all rights reserved by the authors" in t3
    assert "all rights reserved by the authors" not in t4, t4
    # and redaction still applied to what remains
    assert "<ssn>" in t3 and "123-45-6789" not in t3, t3
    assert not any("@" in t for t in (t1, t2, t3, t4))


def test_curate_corpus_dsir_selection_stage(spark, sf_dir):
    """dsir_target= keeps the top-scoring fraction against the target
    subset: with lang='en' as the target, the survivor set must be
    substantially more English than the input corpus (and the stage must
    actually drop ~1-keep_frac of the docs)."""
    docs = load_table(spark, sf_dir, "documents")
    base = curate_corpus(docs, min_quality=0.0)
    sel = curate_corpus(
        docs, min_quality=0.0, dsir_target=F.col("lang") == "en",
        dsir_keep_frac=0.4,
    )
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    base_ids = {r.doc_id for r in base.select("doc_id").distinct().collect()}
    sel_ids = {r.doc_id for r in sel.select("doc_id").distinct().collect()}
    assert sel_ids < base_ids  # strictly filtered, never added
    assert len(sel_ids) <= 0.55 * len(base_ids), (len(sel_ids), len(base_ids))
    frac_en_base = sum(langs[i] == "en" for i in base_ids) / len(base_ids)
    frac_en_sel = sum(langs[i] == "en" for i in sel_ids) / len(sel_ids)
    # measured at sf0.001: 0.386 → 0.567 — a +0.12 floor keeps the
    # signal assertion while tolerating small-corpus variance
    assert frac_en_sel > frac_en_base + 0.12, (frac_en_base, frac_en_sel)


def test_curate_corpus_lm_selection_stage(spark, sf_dir):
    """lm_keep_frac= keeps the LOW-cross-entropy fraction under the
    corpus bigram LM: survivors are a strict subset of the base run,
    the kept fraction tracks the parameter, and the cut is a clean
    threshold (every survivor scores <= every dropped doc)."""
    from emulating_hadoop_with_mpi_spark.functions.lm import bigram_lm_xent

    docs = load_table(spark, sf_dir, "documents")
    base = curate_corpus(docs, min_quality=0.0)
    sel = curate_corpus(docs, min_quality=0.0, lm_keep_frac=0.5)
    base_ids = {r.doc_id for r in base.select("doc_id").distinct().collect()}
    sel_ids = {r.doc_id for r in sel.select("doc_id").distinct().collect()}
    assert sel_ids < base_ids
    assert 0.35 * len(base_ids) <= len(sel_ids) <= 0.65 * len(base_ids)
    xent = {
        r.doc_id: r.lm_xent
        for r in bigram_lm_xent(
            docs.select("doc_id", "text").filter(
                F.col("doc_id").isin(list(base_ids))
            )
        ).collect()
    }
    surv = [xent[i] for i in sel_ids if i in xent]
    dropped = [xent[i] for i in base_ids - sel_ids if i in xent]
    assert max(surv) <= min(dropped), (max(surv), min(dropped))


def test_write_curated_shards_seeded_shuffle(spark, sf_dir, tmp_path):
    """shuffle_seed: same seed -> bit-identical layout across two
    writes; different seed -> different order, same content multiset;
    bins stay CONTIGUOUS inside every shard file (the packing unit
    survives the shuffle); unseeded path unchanged."""
    import glob as _glob

    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        write_curated_shards,
    )

    docs = load_table(spark, sf_dir, "documents")
    curated = curate_corpus(docs, min_quality=0.0).cache()

    def layout(seed, d):
        write_curated_shards(curated, str(d), bins_per_shard=4, shuffle_seed=seed)
        out = []
        for f in sorted(_glob.glob(f"{d}/split=*/shard=*/*.parquet")):
            rows = spark.read.parquet(f).select("bin_id", "chunk_id").collect()
            key = "/".join(f.split(str(d))[1].split("/")[:-1])  # drop part-UUID
            out.append((key, [(r.bin_id, r.chunk_id) for r in rows]))
        return out

    a1 = layout(7, tmp_path / "a1")
    a2 = layout(7, tmp_path / "a2")
    b = layout(8, tmp_path / "b")
    assert a1 == a2  # deterministic per seed
    flat = lambda xs: sorted(t for _, rows in xs for t in rows)
    assert flat(a1) == flat(b)  # same content
    assert [r for _, r in a1] != [r for _, r in b]  # different order
    # bin contiguity inside each file
    for _, rows in a1:
        seen, prev = set(), None
        for bin_id, _c in rows:
            if bin_id != prev:
                assert bin_id not in seen, "bin split within a shard file"
                seen.add(bin_id)
                prev = bin_id
    curated.unpersist()


def test_curate_corpus_mixture_stage(spark, sf_dir):
    """mixture= thins each stratum to the target character proportions of
    SURVIVING text: unweighted strata are dropped entirely, the binding
    stratum keeps everything it had in the base run, and kept character
    mass lands near the 2:1 target."""
    docs = load_table(spark, sf_dir, "documents")
    base = curate_corpus(docs, min_quality=0.0)
    mixed = curate_corpus(docs, min_quality=0.0, mixture={"en": 2, "de": 1})
    langs = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    base_ids = {r.doc_id for r in base.select("doc_id").distinct().collect()}
    mix_ids = {r.doc_id for r in mixed.select("doc_id").distinct().collect()}
    assert mix_ids < base_ids  # strictly filtered, never added
    assert all(langs[i] in ("en", "de") for i in mix_ids)  # others dropped
    # binding stratum: de has far less mass than half of en's, so every
    # base-run de doc must survive the mixture
    base_de = {i for i in base_ids if langs[i] == "de"}
    assert base_de <= mix_ids
    # proportions: kept en mass ~ 2x kept de mass (wide tolerance — the
    # md5-bucket draw is exact only in expectation at small corpora)
    mass = {
        r.lang: r.m
        for r in docs.filter(F.col("doc_id").isin(list(mix_ids)))
        .groupBy("lang")
        .agg(F.sum(F.length("text")).alias("m"))
        .collect()
    }
    ratio = mass["en"] / mass["de"]
    assert 1.0 < ratio < 4.0, ratio


def test_curate_corpus_token_budget_stage(spark, sf_dir):
    """token_budget= keeps exactly the best-quality prefix of the
    surviving docs: recompute the prefix with a plain window over the
    same survivors and compare doc sets."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    base = curate_corpus(docs, min_quality=0.0)
    base_ids = [r.doc_id for r in base.select("doc_id").distinct().collect()]
    BUDGET = 2_000
    sel = curate_corpus(docs, min_quality=0.0, token_budget=BUDGET)
    sel_ids = {r.doc_id for r in sel.select("doc_id").distinct().collect()}
    w = Window.orderBy(F.col("quality").desc(), "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        r.doc_id
        for r in quality_scores(
            docs.filter(F.col("doc_id").isin(base_ids)).select("doc_id", "text")
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= BUDGET)
        .collect()
    }
    assert sel_ids == expect
    assert 0 < len(sel_ids) < len(base_ids)


def test_planted_pii_docs_reach_redact_and_bind_the_hash(spark, sf_dir):
    """Round 16 (VERDICT r15 item 4) non-vacuity pins for the redact
    stage inside q85's composition hash:

    1. the planted PII docs (functions/text.PLANTED_PII_DOCS) survive
       the FULL selection chain — quality, decon, dedup, span cut, DSIR,
       LM, mixture, budget — so the redact stage has PII to rewrite
       (silent drift must fail loudly here, not hash-mismatch at the
       driver);
    2. the q85 'curate' section's stage:redact audit row records exactly
       3 rewritten docs and a 6-token collapse (two grouped cards x 3
       tokens each; the bare amex keeps its token count);
    3. disabling redact changes the CURATED table's numbers — the
       composition hash provably covers the rewrite, not just the audit
       row.
    """
    from emulating_hadoop_with_mpi_spark.functions.pipeline import (
        PII_PATTERNS_RE2,
        curate_frames,
        release_curate_cache,
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
        PLANTED_PII_DOCS,
        tokens_col,
    )

    docs = load_table(spark, sf_dir, "documents")
    planted = spark.createDataFrame(
        PLANTED_PII_DOCS, schema="doc_id long, text string, lang string"
    )
    docs_cur = docs.select("doc_id", "text", "lang").unionByName(planted)
    bench = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(DECON_SECTION_MOD)) == 0
    ).select(
        F.concat_ws(" ", F.slice(tokens_col(), 1, DECON_SECTION_PROMPT)).alias(
            "text"
        )
    )
    config = dict(
        min_quality=CURATE_MIN_QUALITY,
        window=CHUNK_WINDOW,
        stride=CHUNK_STRIDE,
        budget=PACK_BUDGET,
        benchmark=bench,
        decon_ngram=DECON_SECTION_N,
        cut_span_ngram=CURATE_SPAN_N,
        dsir_target=F.col("lang") == "en",
        dsir_keep_frac=CURATE_DSIR_KEEP,
        lm_keep_frac=CURATE_LM_KEEP,
        mixture=CURATE_MIXTURE,
        mixture_salt=CURATE_MIX_SALT,
        token_budget=CURATE_TOKEN_BUDGET,
    )
    planted_ids = {i for i, _, _ in PLANTED_PII_DOCS}

    release_curate_cache()
    fr = curate_frames(
        docs_cur, redact=True, redact_patterns=PII_PATTERNS_RE2, **config
    )
    # (1) full-chain survival into the budget stage (redact's input)
    survivors = {
        r.doc_id for r in fr["budget"].select("doc_id").collect() if r.doc_id < 0
    }
    assert survivors == planted_ids
    # (2) exactly the planted docs are rewritten; two grouped cards
    # collapse 4 tokens -> 1 each
    pre = fr["budget"].select("doc_id", F.col("text").alias("__pre"))
    red = pre.join(fr["redact"].select("doc_id", "text"), "doc_id")
    changed = red.filter(F.col("text") != F.col("__pre"))
    assert {r.doc_id for r in changed.select("doc_id").collect()} == planted_ids
    delta = red.agg(
        F.sum(F.size(tokens_col("__pre")) - F.size(tokens_col("text")))
    ).collect()[0][0]
    assert delta == 6
    with_redact_tokens = fr["curated"].agg(F.sum("n_tokens")).collect()[0][0]
    release_curate_cache()

    # (3) the rewrite moves the hashed aggregates: without redact the
    # curated token total differs by exactly the 6 collapsed tokens
    fr2 = curate_frames(docs_cur, redact=False, **config)
    without_redact_tokens = fr2["curated"].agg(F.sum("n_tokens")).collect()[0][0]
    release_curate_cache()
    assert without_redact_tokens - with_redact_tokens == 6
