"""Round-17 pin: the NumPy mapInArrow MinHash kernel computes exactly
the values the former all-JVM formulation did.

The kernel (functions/dedup._sig_batches_fn) replaced the 128-min
ObjectHashAggregate; its contract is BIT-IDENTICAL signatures — same
xxhash64 input, same int64 (a·x+b) mod MERSENNE_31, min over the same
per-doc set.  This test recomputes the reference the old way (explode +
groupBy with 128 JVM min aggregates) on a corpus constructed to hit the
kernel's edge cases and asserts row-for-row equality for BOTH public
entry points (minhash_signatures and minhash_combined).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.functions.dedup import (
    MERSENNE_31,
    NUM_PERM,
    _perm_constants,
    minhash_combined,
    minhash_signatures,
    shingles_df,
)

# edge cases: duplicate shingles within a doc (set semantics), a
# single-shingle doc (1-element segment), long docs (multi-element
# reduceat segments), and enough docs to span several Arrow batches'
# list-array slicing paths under a small maxRecordsPerBatch.
_DOCS = [
    (1, "alpha beta gamma delta alpha beta gamma"),  # repeated trigrams
    (2, "one two three"),  # exactly one shingle
    (3, " ".join(f"w{i % 7}" for i in range(40))),  # heavy duplicates
    (4, " ".join(f"u{i}" for i in range(60))),  # all-distinct long doc
    (5, "x y z"),
    (6, "x y z"),  # exact twin of 5 — identical signature expected
]


def _jvm_reference_sigs(ds):
    """The pre-round-17 formulation, kept verbatim as the oracle."""
    consts = _perm_constants(NUM_PERM)
    hashed = ds.select(
        "doc_id", F.shiftrightunsigned(F.xxhash64("shingle"), 32).alias("h")
    )
    perms = hashed.select(
        "doc_id",
        *[
            F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_31)).alias(f"x{i}")
            for i, (a, b) in enumerate(consts)
        ],
    )
    return perms.groupBy("doc_id").agg(
        *[F.min(f"x{i}").alias(f"h{i}") for i in range(NUM_PERM)]
    )


def test_kernel_generator_on_sliced_batch():
    """Direct unit test of _sig_batches_fn on a manually sliced
    RecordBatch (ADVICE r17): Spark builds each Arrow batch fresh with
    offsets starting at 0, so only a hand-sliced batch exercises the
    offset-rebase/clamp branch.  Also pins the per-segment minima of
    (a·(x>>32)+b) mod p over full 64-bit hashes (unsigned shift: negative
    int64 hashes included), the shset pass-through, and the loud
    empty-segment guard (reduceat would otherwise silently return the
    NEXT segment's first element)."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from emulating_hadoop_with_mpi_spark.functions.dedup import _sig_batches_fn

    sets = [
        [11 << 32 | 7, 5 << 32, 9 << 32 | 0xFFFF],
        [42 << 32 | 1],
        [-1, 3 << 32, -(1 << 63)],
        [100 << 32, 2 << 32 | 5, 64 << 32, 8 << 32 | 3],
    ]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(list(range(len(sets))), type=pa.int64()),
            pa.array(sets, type=pa.list_(pa.int64())),
        ],
        names=["doc_id", "shset"],
    )
    gen = _sig_batches_fn(8)
    full = list(gen([batch]))[0]
    sliced = list(gen([batch.slice(1)]))[0]
    for name in full.schema.names:
        if name == "doc_id":
            continue
        assert full.column(name).to_pylist()[1:] == sliced.column(name).to_pylist(), name
    assert full.column("shset").to_pylist() == sets
    # mins really are per-segment minima of the permuted top-32-bit values
    consts = _perm_constants(8)
    for i, (a, b) in enumerate(consts):
        exp = [
            min((a * ((x % (1 << 64)) >> 32) + b) % MERSENNE_31 for x in s)
            for s in sets
        ]
        assert full.column(f"h{i}").to_pylist() == exp
    # empty segment → loud failure, never a silently wrong signature
    bad = pa.RecordBatch.from_arrays(
        [
            pa.array([0, 1], type=pa.int64()),
            pa.array([[5, 7], []], type=pa.list_(pa.int64())),
        ],
        names=["doc_id", "shset"],
    )
    with pytest.raises(ValueError, match="empty shingle set"):
        list(gen([bad]))


def test_arrow_kernel_equals_jvm_reference(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    # small batches so one partition yields several record batches and
    # the sliced-list offsets path (offsets not starting at 0) runs
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        ds = shingles_df(docs)
        sig_cols = [f"h{i}" for i in range(NUM_PERM)]
        # the standalone entry is the declarative form (the set shuffle
        # measured as a long-doc regression, OPTIMIZATION_r18.md §3)
        got = sorted(
            tuple(r) for r in minhash_signatures(ds).select("doc_id", *sig_cols).collect()
        )
        exp = sorted(
            tuple(r) for r in _jvm_reference_sigs(ds).select("doc_id", *sig_cols).collect()
        )
        assert got == exp
        # exact twins carry identical signatures
        by_id = {t[0]: t[1:] for t in got}
        assert by_id[5] == by_id[6]

        comb = minhash_combined(docs)
        try:
            got_c = sorted(
                tuple(r) for r in comb.select("doc_id", *sig_cols).collect()
            )
            assert got_c == exp
            # the carried shset is the per-doc DISTINCT shingle-hash set
            sizes = {
                r["doc_id"]: len(set(r["shset"]))
                for r in comb.select("doc_id", "shset").collect()
            }
            n_shingles = {
                r["doc_id"]: r["n"]
                for r in ds.groupBy("doc_id")
                .agg(F.countDistinct("shingle").alias("n"))
                .collect()
            }
            assert sizes == n_shingles
        finally:
            comb.unpersist()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
