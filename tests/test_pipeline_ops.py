"""LLM-pipeline ops that the DuckDB oracle can't express (xxhash64/LSH):
cross-checked against their exact in-Spark baselines instead — the same
oracle-centric methodology as the reference's checking.c, with the exact
algorithm as the oracle."""

from __future__ import annotations

import numpy as np
import pytest

from emulating_hadoop_with_mpi_spark.functions.dedup import (
    q72_ngram_jaccard_pairs,
    q73_minhash_lsh_neardup,
    q74_simhash_neardup,
)
from emulating_hadoop_with_mpi_spark.functions.multimodal import (
    decode_media,
    extract_features,
    media_table,
)
from emulating_hadoop_with_mpi_spark.functions.similarity import (
    TOPK_K,
    TOPK_QUERIES,
    brute_cosine_topk,
    q77_ann_lsh_topk,
)


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """MinHash-LSH verified output == the exact shingle-join answer.
    (With 32 bands × 4 rows, P(miss) at J≥0.5 is ≈(1-0.5⁴)³²≈13% per pair
    in theory — but the planted dups sit at J≥0.8 where P(miss)≈5e-8;
    equality on this fixed dataset is deterministic.)"""
    exact = {(r.doc_a, r.doc_b, r.jaccard) for r in q72_ngram_jaccard_pairs(spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b, r.jaccard) for r in q73_minhash_lsh_neardup(spark, sf_dir).collect()}
    assert exact, "testdata should contain planted near-duplicates"
    missed = exact - lsh
    assert not missed, f"LSH missed {len(missed)} of {len(exact)} exact pairs"
    assert lsh == exact  # verification step filters false positives


def test_simhash_finds_planted_neardups(spark, sf_dir):
    """SimHash recall on the planted near-dup pairs, per method branch.
    Not 100% by construction: pairs at the Hamming radius boundary (=9)
    can spread their differing bits and miss the sketch bound — the
    classic sketch recall/cost tradeoff.  The 120-bit branch enforces a
    stricter bar (9/120 = 92.5% bit agreement vs 86% at 9/64), so its
    pair set is checked for honesty (⊆ sketch contract, pinned exactly in
    test_simhash120_complete_vs_brute) rather than the same recall
    floor."""
    exact = {(r.doc_a, r.doc_b) for r in q72_ngram_jaccard_pairs(spark, sf_dir).collect()}
    rows = q74_simhash_neardup(spark, sf_dir).collect()
    sim64 = {(r.doc_a, r.doc_b) for r in rows if r.method == "sim64"}
    sim120 = {(r.doc_a, r.doc_b) for r in rows if r.method == "sim120"}
    assert exact, "testdata should contain planted near-duplicates"
    recall = len(exact & sim64) / len(exact)
    assert recall >= 0.9, f"simhash recall {recall:.2f}; missed {sorted(exact - sim64)[:5]}"
    # the stricter 120-bit bar admits fewer random pairs than the 64-bit
    # one on this corpus — it must not be (vacuously) empty, and planted
    # dups should still dominate what it keeps
    assert sim120, "sim120 branch returned no pairs on planted-dup corpus"


def test_simhash64_is_projection_of_120(spark, sf_dir):
    """The q74 union's shared-pass design rests on this identity: the
    64-bit sketch computed directly (simhash_df, tests/reference_forms.py)
    equals the projection of the 120-bit words (simhash64_from_120) row
    for row — bit i of each 32-bit half shares its md5-half sign-sum with
    word bit i."""
    from reference_forms import simhash_df

    from emulating_hadoop_with_mpi_spark.functions.dedup import (
        simhash64_from_120,
        simhash120_df,
    )
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    direct = sorted(map(tuple, simhash_df(docs).collect()))
    projected = sorted(map(tuple, simhash64_from_120(simhash120_df(docs)).collect()))
    assert direct == projected


def test_simhash120_complete_vs_brute(spark, sf_dir):
    """The 120-bit scale variant (simhash120_neardup_pairs) must return
    EXACTLY the all-pairs Hamming ≤ 9 set over its own sketches — the
    pigeonhole completeness guarantee carries over from the 64-bit layout
    (5 blocks, ≤ ⌊9/5⌋ = 1 differing bit in some block, single-bit
    multiprobe).  Words must stay within 60 bits (the block extractor
    straddles the w0/w1 boundary)."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.functions.dedup import (
        HAMMING_MAX,
        SIMHASH120_LAYOUT,
        simhash120_df,
        simhash120_neardup_pairs,
        simhash_hamming,
    )
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash120_neardup_pairs(docs).collect()
    )
    sims = simhash120_df(docs)
    a, b = sims.alias("a"), sims.alias("b")
    brute = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            simhash_hamming(SIMHASH120_LAYOUT).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .collect()
    )
    assert got == brute
    mx = sims.agg(*[F.max(w).alias(w) for w in ("w0", "w1")]).collect()[0]
    assert all(0 <= mx[w] < (1 << 60) for w in ("w0", "w1")), mx


def test_ann_lsh_is_honest_vs_brute(spark, sf_dir):
    """ANN results are a subset of the truth: every (query, neighbor) the
    LSH path returns carries exactly the brute-force cosine.  (Recall on
    THIS corpus is structurally low: the embeddings are uniform random, so
    even true top-10 'neighbors' sit at cosine ≈0.4 — far from collinear —
    and differ in ~6 of 16 code bits.  Recall on genuinely-near pairs is
    what LSH promises; tested separately below.)"""
    brute = brute_cosine_topk(spark, sf_dir).collect()
    ann = q77_ann_lsh_topk(spark, sf_dir).collect()
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert len(brute_sets) == TOPK_QUERIES
    assert all(len(v) == TOPK_K for v in brute_sets.values())
    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in ann:
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert r.cosine == brute_cos[(r.query_id, r.neighbor_id)]
    assert ann, "ANN should return candidates from its probed buckets"


def test_ann_topk_union_contract(spark, sf_dir):
    """The registered q77_ann_topk is exactly the tagged union of the LSH
    and IVF branches: both methods present, per-method rows equal to the
    branch queries, rnk bounded by k."""
    from emulating_hadoop_with_mpi_spark.functions.similarity import (
        TOPK_K,
        ivf_sampled_topk,
        q77_ann_topk,
    )

    rows = q77_ann_topk(spark, sf_dir).collect()
    by_method = {}
    for r in rows:
        by_method.setdefault(r.method, set()).add((r.query_id, r.neighbor_id, r.cosine, r.rnk))
    assert set(by_method) == {"lsh", "ivf"}
    assert all(r.rnk <= TOPK_K for r in rows)
    lsh = {(r.query_id, r.neighbor_id, r.cosine, r.rnk)
           for r in q77_ann_lsh_topk(spark, sf_dir).collect()}
    ivf = {(r.query_id, r.neighbor_id, r.cosine, r.rnk)
           for r in ivf_sampled_topk(spark, sf_dir).collect()}
    assert by_method["lsh"] == lsh
    assert by_method["ivf"] == ivf


def test_ann_lsh_recall_on_planted_near_duplicates(spark, sf_dir):
    """The actual LSH contract: vectors that ARE near (cosine ≈ 0.99 —
    planted noisy copies) land in the same or a 1-bit-adjacent bucket with
    high probability.  Expected differing code bits for cosine 0.99 ≈
    16·arccos(.99)/π ≈ 0.7, so own-bucket + 16 Hamming-1 probes should
    catch nearly all planted pairs."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.functions.similarity import LSH_PLANES, lsh_codes
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    # plant a near-copy of each vector: tiny deterministic perturbation of
    # one coordinate (relative scale keeps cosine ≈ 0.99+)
    noisy = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v, i: v + F.when(i == 0, v * 0.05).otherwise(v * 0.001)
        ).alias("embedding"),
    )
    coded = (
        lsh_codes(emb.select("vec_id", "embedding").unionByName(noisy))
        .select("vec_id", "code")
        .collect()
    )
    codes = {r.vec_id: r.code for r in coded}
    caught = 0
    total = 0
    for vid, code in codes.items():
        if vid >= 100000:
            continue
        total += 1
        twin = codes[vid + 100000]
        hamming = bin(code ^ twin).count("1")
        if hamming <= 1:  # own bucket or one of the 16 Hamming-1 probes
            caught += 1
    assert total == 100
    recall = caught / total
    assert recall >= 0.9, f"multi-probe LSH recall on planted pairs: {recall}"
    # and the probe set of q77 is exactly radius-1: own code + LSH_PLANES flips
    assert LSH_PLANES == 16


def test_cogroup_asof_equals_window_asof(spark, sf_dir):
    """The cogroup+merge_asof formulation returns exactly q23's rows —
    two independent implementations of the as-of join agree."""
    from reference_forms import asof_join_cogroup

    from emulating_hadoop_with_mpi_spark.operators.advanced import q23_asof_join

    window_rows = {tuple(r) for r in q23_asof_join(spark, sf_dir).collect()}
    cogroup_rows = {tuple(r) for r in asof_join_cogroup(spark, sf_dir).collect()}
    assert window_rows == cogroup_rows


def test_approx_sketches_bounded_error(spark, sf_dir):
    """q27 (oracle-checked since r7) emits within-documented-bound flags
    beside the exact companions — every flag must hold, and the raw
    estimates must track their exact values (checked here directly on the
    underlying aggregates, since the query's output carries the verdicts,
    not the estimates)."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.registry import all_queries
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    reg = all_queries()
    for r in reg["q27_approx_sketches"].fn(spark, sf_dir).collect():
        assert r.hll_within_3rsd, r
        assert r.gk_median_in_bounds and r.gk_p90_in_bounds and r.gk_p99_in_bounds, r
        assert r.exact_orders <= r.n
    # raw estimate error, independent of the flags' padding
    li = load_table(spark, sf_dir, "lineitem")
    raw = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("a"),
        F.countDistinct("l_orderkey").alias("e"),
        F.expr("approx_percentile(l_extendedprice, 0.5D, 10000)").alias("am"),
        F.expr("percentile(l_extendedprice, 0.5D)").alias("em"),
    )
    for r in raw.collect():
        assert abs(r.a - r.e) / r.e < 0.05
        assert abs(r.am - r.em) / r.em < 0.02


def test_pandas_udf_cosine_matches_jvm_path(spark, sf_dir):
    """UDF surface (SURVEY §2.15): an Arrow-vectorized pandas_udf computing
    quantized dot products agrees exactly with the JVM zip_with/aggregate
    fold used in the hot path — the sanctioned escape hatch when built-ins
    can't express an op, kept out of production plans by test_plans.py."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from emulating_hadoop_with_mpi_spark.functions.similarity import dot_q, quantize
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inspection can't resolve
    @F.pandas_udf(LongType(), F.PandasUDFType.SCALAR)
    def dot_q_pandas(a, b):
        import numpy as np

        return pd.Series(
            [
                int(np.dot(np.floor(np.asarray(x, dtype=np.float64) * 1000),
                           np.floor(np.asarray(y, dtype=np.float64) * 1000)))
                for x, y in zip(a, b)
            ]
        )

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 32)
    both = emb.select(
        "vec_id",
        dot_q(quantize(F.col("embedding")), quantize(F.col("embedding"))).alias("jvm"),
        dot_q_pandas(F.col("embedding"), F.col("embedding")).alias("py"),
    ).collect()
    assert all(r.jvm == r.py for r in both)


def test_decode_media_deterministic_fake():
    feats = decode_media(b"hello world", "video/fake")
    assert feats["n_bytes"] == 11
    assert feats["byte_sum"] == sum(b"hello world")
    assert feats == decode_media(b"hello world", "video/fake")
    assert decode_media(b"", "image/fake")["n_bytes"] == 0


def test_multimodal_batch_plumbing(spark, sf_dir):
    """Binary column + mapInPandas round trip: features equal a pure-Python
    recompute on a sample; schema is the typed contract."""
    media = media_table(spark, sf_dir)
    assert dict(media.dtypes)["payload"] == "binary"
    feats = extract_features(media)
    sample = feats.orderBy("doc_id").limit(20).collect()
    raw = {r["doc_id"]: (bytes(r["payload"]), r["meta"]["kind"]) for r in media.orderBy("doc_id").limit(20).collect()}
    for row in sample:
        payload, kind = raw[row.doc_id]
        expect = decode_media(payload, kind)
        assert (row.n_bytes, row.byte_sum, row.width, row.height, row.n_frames) == (
            expect["n_bytes"],
            expect["byte_sum"],
            expect["width"],
            expect["height"],
            expect["n_frames"],
        )


def test_multimodal_resize_bounded_payloads(spark, sf_dir):
    """Resize stage: every output payload is exactly width*height bytes
    (the memory-safety property), deterministic, and Arrow-batched."""
    from emulating_hadoop_with_mpi_spark.functions.multimodal import resize_media

    media = media_table(spark, sf_dir)
    resized = resize_media(media, width=16, height=8)
    rows = resized.orderBy("doc_id").limit(30).collect()
    assert rows, "resize produced no rows"
    for r in rows:
        assert len(bytes(r.payload)) == 16 * 8
        assert (r.width, r.height) == (16, 8)
    # deterministic across runs
    again = resize_media(media, width=16, height=8).orderBy("doc_id").limit(30).collect()
    assert [bytes(r.payload) for r in rows] == [bytes(r.payload) for r in again]
    # nearest-neighbor content check on one row
    import numpy as np

    raw = {
        r["doc_id"]: bytes(r["payload"])
        for r in media.orderBy("doc_id").limit(30).collect()
    }
    src = np.frombuffer(raw[rows[0].doc_id], dtype=np.uint8)
    idx = (np.arange(16 * 8) * src.size) // (16 * 8)
    assert bytes(rows[0].payload) == src[idx].tobytes()


def test_multimodal_frame_sampling(spark, sf_dir):
    """Frame-sample stage: only video rows explode; sampled frame indices
    are 0, every, 2*every, ...; chunks concatenate back to a prefix-set of
    the original payload."""
    from emulating_hadoop_with_mpi_spark.functions.multimodal import sample_frames

    media = media_table(spark, sf_dir)
    frames = sample_frames(media, every=4)
    rows = frames.collect()
    assert rows, "no frames sampled"
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    raw = {
        r["doc_id"]: (bytes(r["payload"]), r["meta"]["kind"])
        for r in media.collect()
    }
    for doc_id, doc_rows in list(by_doc.items())[:20]:
        payload, kind = raw[doc_id]
        assert kind == "video/fake", "non-video rows must not emit frames"
        expect_n = decode_media(payload, kind)["n_frames"]
        got_idx = sorted(r.frame_idx for r in doc_rows)
        assert got_idx == list(range(0, expect_n, 4))
        for r in doc_rows:
            assert r.n_frames == expect_n
            assert len(bytes(r.frame)) <= len(payload)
    # every video doc (with a 500-doc corpus, kinds split ~1/3) appears
    n_videos = sum(1 for _, (p, k) in raw.items() if k == "video/fake")
    assert len(by_doc) == n_videos


def test_ivf_topk_exhaustive_equals_brute_force(spark, sf_dir):
    """IVF with nprobe == nlist probes every cell — the search is
    exhaustive and must EQUAL the brute-force top-k (q76) exactly."""
    from emulating_hadoop_with_mpi_spark.functions.similarity import IVF_NLIST, ivf_topk
    from emulating_hadoop_with_mpi_spark.registry import all_queries

    brute = brute_cosine_topk(spark, sf_dir)
    ivf = ivf_topk(spark, sf_dir, nprobe=IVF_NLIST)
    b = [(r.query_id, r.rnk, r.neighbor_id, r.cosine) for r in brute.collect()]
    g = [(r.query_id, r.rnk, r.neighbor_id, r.cosine) for r in ivf.collect()]
    assert g == b


def test_ivf_topk_partial_probe_recall_and_cost(spark, sf_dir):
    """At nprobe < nlist the candidate set must shrink (the point of IVF)
    while recall vs brute force stays ≥ the probed fraction's worth.
    NOTE: these embeddings are uniform random (no cluster structure,
    NOTES.md), the WORST case for IVF — recall ≈ nprobe/nlist is the
    honest expectation; structured corpora do far better."""
    from emulating_hadoop_with_mpi_spark.functions.similarity import (
        IVF_NLIST,
        IVF_NPROBE,
        ivf_topk,
    )
    from emulating_hadoop_with_mpi_spark.registry import all_queries

    brute = brute_cosine_topk(spark, sf_dir)
    ivf = ivf_topk(spark, sf_dir)  # default nprobe=4 of 16
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    g = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    assert g, "IVF returned nothing"
    recall = len(b & g) / len(b)
    floor = 0.4 * IVF_NPROBE / IVF_NLIST  # generous slack under uniform data
    assert recall >= floor, f"recall {recall:.3f} < floor {floor:.3f}"
    # every IVF result must be a real vector pair with a valid cosine
    for r in ivf.collect():
        assert -1.0 <= r.cosine <= 1.0
        assert r.neighbor_id != r.query_id


def test_chunk_documents_matches_python_reference(spark, sf_dir):
    """Sliding-window chunking == a pure-Python re-chunk of the same
    tokenization: coverage (every token in some chunk), window/stride
    geometry, and chunk text fidelity."""
    from emulating_hadoop_with_mpi_spark.functions.text import chunk_documents
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    W, S = 16, 12
    docs = load_table(spark, sf_dir, "documents")
    got = {}
    for r in chunk_documents(docs, window=W, stride=S).collect():
        got.setdefault(r.doc_id, []).append((r.chunk_idx, r.n_tokens, r.chunk_text))
    raw = {r.doc_id: r.text for r in docs.collect()}
    checked = 0
    for doc_id, text in raw.items():
        toks = [t for t in text.lower().strip().split() if t]
        if not toks:
            assert doc_id not in got
            continue
        starts = [0]
        while starts[-1] + W < len(toks):
            starts.append(starts[-1] + S)
        expect = [
            (i, len(toks[s : s + W]), " ".join(toks[s : s + W]))
            for i, s in enumerate(starts)
        ]
        assert sorted(got[doc_id]) == expect, f"doc {doc_id}"
        covered = set()
        for i, s in enumerate(starts):
            covered.update(range(s, min(s + W, len(toks))))
        assert covered == set(range(len(toks))), f"doc {doc_id} chunk coverage gap"
        checked += 1
    assert checked > 100


def test_pack_sequences_budget_invariants(spark, sf_dir):
    """Sequence packing: bins respect the token budget (oversized docs
    alone excepted), every doc appears exactly once, bin ids are dense-ish
    and deterministic."""
    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    BUDGET = 128
    docs = load_table(spark, sf_dir, "documents")
    rows = pack_sequences(docs, budget=BUDGET).collect()
    assert rows
    n_docs_with_tokens = (
        docs.selectExpr("size(filter(split(lower(trim(text)), '\\\\s+'), x -> x != '')) n")
        .filter("n > 0")
        .count()
    )
    assert len(rows) == n_docs_with_tokens
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r.bin_id, []).append(r)
    for bin_id, members in by_bin.items():
        total = sum(r.n_tokens for r in members)
        if len(members) > 1:
            # multi-doc bins never exceed the budget... except when a
            # boundary-crossing doc closes the bin (end-aligned binning);
            # it may overhang by at most its own length - 1
            assert total < BUDGET + max(r.n_tokens for r in members)
        assert max(r.bin_fill for r in members) == total
    # deterministic
    again = pack_sequences(docs, budget=BUDGET).collect()
    assert sorted((r.doc_id, r.bin_id) for r in again) == sorted(
        (r.doc_id, r.bin_id) for r in rows
    )


def test_pack_sequences_distributed_prefix_sum_equals_naive(spark, sf_dir):
    """The two-phase distributed prefix sum must give exactly the bins a
    single global running-total window would (the naive single-partition
    formulation, acceptable only at test scale)."""
    from pyspark.sql import Window, functions as F

    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences, tokens_col
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    BUDGET = 128
    docs = load_table(spark, sf_dir, "documents")
    got = {(r.doc_id, r.bin_id, r.bin_fill) for r in pack_sequences(docs, budget=BUDGET).collect()}
    staged = docs.select(
        "doc_id", F.size(tokens_col()).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = staged.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - 1) div {BUDGET}")
    )
    wb = Window.partitionBy("bin_id").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        (r.doc_id, r.bin_id, r.bin_fill)
        for r in naive.withColumn("bin_fill", F.sum("n_tokens").over(wb)).collect()
    }
    assert got == expect


def _pack_vs_naive_on(spark, docs, budget=128):
    """pack_sequences output vs the single-window naive formulation on an
    arbitrary (doc_id, text) frame — shared by the id-space stress tests."""
    from pyspark.sql import Window, functions as F

    from emulating_hadoop_with_mpi_spark.functions.text import pack_sequences, tokens_col

    got = {
        (r.doc_id, r.bin_id, r.bin_fill)
        for r in pack_sequences(docs, budget=budget).collect()
    }
    staged = docs.select(
        "doc_id", F.size(tokens_col()).cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    naive = staged.withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id", F.expr(f"(cum - 1) div {budget}")
    )
    wb = Window.partitionBy("bin_id").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    expect = {
        (r.doc_id, r.bin_id, r.bin_fill)
        for r in naive.withColumn("bin_fill", F.sum("n_tokens").over(wb)).collect()
    }
    assert got and got == expect


def test_pack_sequences_sparse_id_space(spark, sf_dir):
    """Ids multiplied by 1e6: under the old ``doc_id div SPAN`` keying
    every range held one doc (offsets table at data scale); the
    percentile-boundary ranges must stay count-balanced and the bins
    identical to the naive global window."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") * 1_000_000).alias("doc_id"), "text"
    )
    _pack_vs_naive_on(spark, docs)


def test_pack_sequences_skewed_id_space(spark, sf_dir):
    """90% of ids squeezed into one former range (id mod 100 within one
    1024-wide band), the rest spread sparsely above — the count-balanced
    boundaries must keep the result equal to the naive global window."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    base = load_table(spark, sf_dir, "documents")
    skewed = base.select(
        F.when(F.col("doc_id") % 10 < 9, F.col("doc_id") % 100)
        .otherwise(F.col("doc_id") * 4096 + 1_000_000)
        .alias("doc_id"),
        "text",
    )
    # doc_id must stay unique for packing order to be well-defined: keep
    # one doc per collapsed id plus every sparse id
    uniq = skewed.groupBy("doc_id").agg(F.first("text").alias("text"))
    _pack_vs_naive_on(spark, uniq)


def test_rolling_percentile_matches_python(spark, sf_dir):
    """Window-framed percentile == per-row Python recomputation of the
    exact `percentile` (linear interpolation) over the same frame."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.operators.windows import rolling_percentile
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    FRAME = 5
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 11 == 0)
    got = {
        r.event_id: r.rolling_p
        for r in rolling_percentile(ev, frame_rows=FRAME, p=0.5).collect()
    }
    rows = sorted(
        ev.select("user_id", "event_id", "ts", "value").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    assert got
    by_user = {}
    for r in rows:
        hist = by_user.setdefault(r.user_id, [])
        hist.append(r)
        frame = sorted(x.value for x in hist[-FRAME:])
        # exact percentile, linear interpolation (Spark's definition)
        idx = 0.5 * (len(frame) - 1)
        lo, hi = int(idx), min(int(idx) + 1, len(frame) - 1)
        expect = frame[lo] + (idx - lo) * (frame[hi] - frame[lo])
        assert abs(got[r.event_id] - expect) < 1e-9, r.event_id


def test_semantic_neardup_recall_and_exactness_on_planted_copies(spark, sf_dir):
    """q75b's bucketed embedding near-dup on planted noisy copies
    (cosine ≈ 0.99+): every planted pair whose 16-bit codes are within
    Hamming 1 MUST be emitted (candidate generation is exact over the
    bucket contract), overall recall on planted pairs ≥ 0.9 (same
    multi-probe arithmetic as q77's recall test), and every emitted
    cosine equals the exact quantized-brute value."""
    from pyspark.sql import functions as F

    from emulating_hadoop_with_mpi_spark.functions.similarity import (
        lsh_codes,
        semantic_neardup_pairs,
    )
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    noisy = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda v, i: v + F.when(i == 0, v * 0.05).otherwise(v * 0.001)
        ).alias("embedding"),
    )
    planted = emb.select("vec_id", "embedding").unionByName(noisy)

    got = {
        (r.vec_a, r.vec_b): r.cosine for r in semantic_neardup_pairs(planted).collect()
    }
    codes = {r.vec_id: r.code for r in lsh_codes(planted).select("vec_id", "code").collect()}

    caught = 0
    for vid in range(100):
        pair = (vid, vid + 100000)
        hamming = bin(codes[vid] ^ codes[vid + 100000]).count("1")
        if hamming <= 1:
            assert pair in got, f"in-bucket planted pair {pair} missing"
        if pair in got:
            caught += 1
            assert got[pair] >= 0.98, f"planted pair {pair} cosine {got[pair]}"
    assert caught / 100 >= 0.9, f"planted recall {caught / 100}"

    # emitted cosines equal the exact quantized computation (verify stage
    # is exact, so q75b ∩ brute-domain == brute values)
    rows = planted.collect()
    qv = {
        r.vec_id: np.floor(np.asarray(r.embedding, dtype=np.float64) * 1000).astype(np.int64)
        for r in rows
    }
    for (a, b), cos in list(got.items())[:200]:
        dot = int(np.dot(qv[a], qv[b]))
        na, nb = int(np.dot(qv[a], qv[a])), int(np.dot(qv[b], qv[b]))
        assert cos == round(dot / ((na * nb) ** 0.5), 6), (a, b)


# ---------------------------------------------------------------------------
# connected components (operators/graph.py) — the q71 keeper-selection stage


def _cc_expected(edges):
    """Union-find ground truth: node -> min node id in its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run_cc(spark, pairs):
    """Both physical regimes — driver-local union-find (the default for
    graphs this size) and distributed pointer jumping (forced via
    local_max_edges=0) — must produce identical labels."""
    from emulating_hadoop_with_mpi_spark.operators.graph import connected_components

    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    want = _cc_expected(pairs)
    local = {r["node"]: r["lab"] for r in connected_components(edges).collect()}
    assert local == want
    dist = {
        r["node"]: r["lab"]
        for r in connected_components(edges, local_max_edges=0).collect()
    }
    assert dist == want


def test_connected_components_long_chain(spark):
    """A 300-node path with the minimum id at the FAR end: one-hop
    min-label propagation needs 299 rounds (and a 64-round cap would
    silently return wrong clusters — the bug this operator fixes);
    pointer jumping converges inside the default cap."""
    # path 300 - 299 - ... - 2 - 1: min label must traverse 299 hops
    _run_cc(spark, [(i, i + 1) for i in range(1, 300)])


def test_connected_components_shapes(spark):
    """Star, ring, two separate components, and an isolated edge."""
    star = [(50, i) for i in range(51, 70)]
    ring = [(100 + i, 100 + (i + 1) % 10) for i in range(10)]
    pair = [(7, 3)]
    _run_cc(spark, star + ring + pair)


def test_connected_components_nonconvergence_raises(spark):
    """max_rounds too small -> loud RuntimeError, never silent wrong
    labels."""
    from emulating_hadoop_with_mpi_spark.operators.graph import connected_components

    pairs = [(i, i + 1) for i in range(1, 40)]
    sym = pairs + [(b, a) for a, b in pairs]
    edges = spark.createDataFrame(sym, "src long, dst long")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(edges, max_rounds=2, local_max_edges=0)


def test_minhash_partitioned_regime_never_broadcasts_sets(spark, sf_dir, monkeypatch):
    """Above the size boundary the q73 verify joins must build on the
    candidate side (ShuffledHashJoin) with the shset-array frame
    semi-joined down to candidate docs — no O(corpus) broadcast (the
    sf10-measured ~400 MB hazard); output equal to the broadcast regime."""
    import emulating_hadoop_with_mpi_spark.functions.dedup as dd
    from emulating_hadoop_with_mpi_spark.plans import inspect
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    with monkeypatch.context() as m:
        m.setattr(inspect, "PARTITIONED_BYTES", 1)
        part = dd.minhash_verified_pairs(docs)
        plan = part._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        part_rows = sorted(map(tuple, part.collect()))
    spark.catalog.clearCache()
    assert not inspect.partitioned(docs)  # the driver corpus is below the boundary
    small = dd.minhash_verified_pairs(docs)
    assert sorted(map(tuple, small.collect())) == part_rows
    spark.catalog.clearCache()


def test_semantic_neardup_partitioned_regime(spark, sf_dir, monkeypatch):
    """q75b above the size boundary: shuffle_hash verify with the
    qv-array frames semi-joined to candidate ids — no O(corpus)
    broadcast; output equal to the broadcast regime."""
    import emulating_hadoop_with_mpi_spark.functions.similarity as sim
    from emulating_hadoop_with_mpi_spark.plans import inspect
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assert not inspect.partitioned(emb)  # the driver corpus is below the boundary
    small_rows = sorted(map(tuple, sim.semantic_neardup_pairs(emb).collect()))
    with monkeypatch.context() as m:
        m.setattr(inspect, "PARTITIONED_BYTES", 1)
        part = sim.semantic_neardup_pairs(emb)
        plan = part._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert sorted(map(tuple, part.collect())) == small_rows
    spark.catalog.clearCache()


def test_connected_components_empty_and_selfloop(spark):
    """Empty edge frame -> empty labels (fixpoint at round 1); self-loops
    don't perturb labels."""
    from emulating_hadoop_with_mpi_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    assert connected_components(empty, local_max_edges=0).count() == 0

    pairs = [(5, 5), (5, 6), (6, 5), (6, 6)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    for lme in (None, 0):
        kw = {} if lme is None else {"local_max_edges": lme}
        got = {
            r["node"]: r["lab"]
            for r in connected_components(edges, **kw).collect()
        }
        assert got == {5: 5, 6: 5}


def test_decontaminate_short_benchmark_flags_nothing(spark, sf_dir):
    """Benchmark prompts shorter than n tokens have no n-grams -> no doc
    can be flagged (and the operator must not error)."""
    from emulating_hadoop_with_mpi_spark.functions.pipeline import decontaminate
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = spark.createDataFrame([("too short",), ("",)], "text string")
    assert decontaminate(docs, bench, n=8).count() == 0


def test_semantic_neardup_tau_is_honored(spark, sf_dir):
    """Stricter tau -> subset of pairs; all surviving cosines >= tau."""
    from emulating_hadoop_with_mpi_spark.functions.similarity import (
        semantic_neardup_pairs,
    )
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    loose = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in semantic_neardup_pairs(emb).collect()}
    strict_rows = semantic_neardup_pairs(emb, tau=0.9).collect()
    strict = {(r["vec_a"], r["vec_b"]) for r in strict_rows}
    assert strict <= set(loose)
    assert all(r["cosine"] >= 0.9 for r in strict_rows)


def test_q74_sim64_size_gate(spark, sf_dir, monkeypatch):
    """Above the corpus-size boundary the registered q74 must degrade
    gracefully: the sim64 section comes back EMPTY (its 13-bit buckets
    are quadratic at that scale — boundary derivation at the constant)
    while sim120 still carries the full result.  Simulated by lowering
    the byte boundary below the fixture corpus size; the gate itself
    must warn.  The dispatch reads Catalyst's plan size estimate — no
    count() scan — so BOTH boundaries are lowered to prove whichever
    branch fires does so without the other's constant mattering."""
    from emulating_hadoop_with_mpi_spark.functions import dedup

    monkeypatch.setattr(dedup, "SIM64_MAX_BYTES", 3)
    monkeypatch.setattr(dedup, "SIM64_MAX_DOCS", 3)
    with pytest.warns(RuntimeWarning, match="sim64 section is empty"):
        rows = q74_simhash_neardup(spark, sf_dir).collect()
    assert not [r for r in rows if r.method == "sim64"]
    sim120 = {(r.doc_a, r.doc_b) for r in rows if r.method == "sim120"}
    assert sim120, "sim120 must survive the sim64 size gate"


def test_q74_gate_reads_stats_not_a_scan(spark, sf_dir):
    """The sim64 gate must come from plan_size_bytes (zero-I/O Catalyst
    stats) on a parquet-backed corpus — stats must be available so the
    count() fallback never fires for registered runs."""
    from emulating_hadoop_with_mpi_spark.plans.inspect import plan_size_bytes
    from emulating_hadoop_with_mpi_spark.sources.tables import load_table
    from emulating_hadoop_with_mpi_spark.sources.tables import spread_small_scan

    docs = spread_small_scan(load_table(spark, sf_dir, "documents"))
    size = plan_size_bytes(docs)
    assert size is not None and size > 0


def test_simhash120_token_cap_guard(spark):
    """The SWAR lane sums in simhash120_df are exact only below
    SIMHASH_TOKEN_CAP tokens per doc; a doc at the cap must RAISE (the
    n_tok guard), never silently corrupt sketches.  The cap itself
    (2^20 tokens ≈ 6 MB of text in one row) is exercised by
    monkeypatching — building a real million-token doc per test run
    would dominate the suite."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from emulating_hadoop_with_mpi_spark.functions import dedup

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight")], ["doc_id", "text"]
    )
    # under the real cap this doc sketches fine
    assert dedup.simhash120_df(docs).count() == 1
    orig = dedup.SIMHASH_TOKEN_CAP
    dedup.SIMHASH_TOKEN_CAP = 4
    try:
        with pytest.raises(SparkRuntimeException, match="SIMHASH_TOKEN_CAP"):
            dedup.simhash120_df(docs).collect()
    finally:
        dedup.SIMHASH_TOKEN_CAP = orig


def test_semantic_dedup_drops_keep_one_per_component(spark):
    """SemDeDup keep-one policy over a constructed near-dup graph:
    chain {1-2, 2-3} and pair {10-11} -> keep component minima (1, 10),
    drop 2,3 (keeper 1) and 11 (keeper 10); isolated vectors never
    appear."""
    from emulating_hadoop_with_mpi_spark.functions.similarity import (
        semantic_dedup_drops,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.99)],
        ["vec_a", "vec_b", "cosine"],
    )
    got = {(r.vec_id, r.keeper) for r in semantic_dedup_drops(pairs).collect()}
    assert got == {(2, 1), (3, 1), (11, 10)}
