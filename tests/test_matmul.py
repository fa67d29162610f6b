"""Matrix-multiply flagship job vs the NumPy oracle.

Mirrors the reference's own methodology: ``checking.c`` runs a serial
triple-loop multiply on the same inputs and the outputs are compared
(``checking.c:95-106``).  Our oracle is ``A @ B``; unlike the reference we
also cover non-square shapes (its square-only bugs, SURVEY §2 note 2, are
excluded from the spec) and prove the faithful-RDD and idiomatic-DataFrame
paths agree.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from emulating_hadoop_with_mpi_spark.mapreduce import (
    matmul_broadcast,
    matmul_coo,
    matmul_mapreduce,
)
from emulating_hadoop_with_mpi_spark.sources.datagen import (
    generate_matrix_df,
    generate_matrix_numpy,
)
from emulating_hadoop_with_mpi_spark.sources.matrix import (
    coo_to_numpy,
    matrix_coo_from_numpy,
    matrix_dims_from_name,
    read_matrix_coo,
    write_matrix_dat,
)


def _dense(df, rows, cols):
    return coo_to_numpy(df, rows, cols)


@pytest.mark.parametrize("shape", [(4, 4, 4), (8, 16, 4), (1, 7, 3)])
def test_matmul_coo_matches_numpy(spark, shape):
    l, m, n = shape
    a = generate_matrix_numpy(l, m, seed=1)
    b = generate_matrix_numpy(m, n, seed=2)
    c = matmul_coo(matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b))
    np.testing.assert_array_equal(_dense(c, l, n), a @ b)


def test_matmul_broadcast_matches_numpy(spark):
    a = generate_matrix_numpy(8, 16, seed=3)
    b = generate_matrix_numpy(16, 4, seed=4)
    c = matmul_broadcast(matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b))
    np.testing.assert_array_equal(_dense(c, 8, 4), a @ b)
    assert "BroadcastHashJoin" in c._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("shape,block", [((20, 30, 10), 8), ((64, 64, 64), 32)])
def test_matmul_block_matches_numpy(spark, shape, block):
    """SUMMA-style block multiply (the 100 TB path) vs NumPy, including
    shapes that don't divide evenly by the block size."""
    from emulating_hadoop_with_mpi_spark.mapreduce import matmul_block

    l, m, n = shape
    a = generate_matrix_numpy(l, m, seed=21)
    b = generate_matrix_numpy(m, n, seed=22)
    c = matmul_block(
        matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b), block=block
    )
    np.testing.assert_array_equal(_dense(c, l, n), a @ b)


def test_matmul_block_tile_injection_equivalence(spark):
    """matmul_block(tiles_a=, tiles_b=) — the stage-timing injection
    (bench.py's matmul_auto_2048 stage legs) — must produce the exact
    frame the un-injected path does, including a non-dividing shape."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import (
        block_tiles_a,
        block_tiles_b,
        matmul_block,
    )

    l, m, n, block = 20, 30, 10, 8
    a = generate_matrix_numpy(l, m, seed=31)
    b = generate_matrix_numpy(m, n, seed=32)
    da, db = matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b)
    injected = matmul_block(
        da,
        db,
        block=block,
        tiles_a=block_tiles_a(da, block).cache(),
        tiles_b=block_tiles_b(db, block).cache(),
    )
    np.testing.assert_array_equal(_dense(injected, l, n), a @ b)
    spark.catalog.clearCache()


def test_matmul_auto_strategy_dispatch(spark):
    """matmul_auto picks broadcast for a small side, block beyond the
    product threshold, COO between — all producing identical results."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import matmul_auto
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    a = generate_matrix_numpy(12, 10, seed=31)
    b = generate_matrix_numpy(10, 8, seed=32)
    da, db = matrix_coo_from_numpy(spark, a), matrix_coo_from_numpy(spark, b)
    expect = a.astype(np.int64) @ b

    # small side → broadcast join
    c1 = matmul_auto(da, db, dims=(12, 10, 8))
    assert "BroadcastHashJoin" in executed_plan(c1)
    assert "BuildRight" in executed_plan(c1)
    np.testing.assert_array_equal(_dense(c1, 12, 8), expect)

    # only A fits → A is the broadcast (build) side
    a5 = generate_matrix_numpy(8, 10, seed=33)
    b5 = generate_matrix_numpy(10, 12, seed=34)
    c5 = matmul_auto(
        matrix_coo_from_numpy(spark, a5), matrix_coo_from_numpy(spark, b5),
        dims=(8, 10, 12), broadcast_threshold_cells=100,
    )
    assert "BuildLeft" in executed_plan(c5)
    np.testing.assert_array_equal(_dense(c5, 8, 12), a5.astype(np.int64) @ b5)

    # force the block path via thresholds
    c2 = matmul_auto(
        da, db, dims=(12, 10, 8), broadcast_threshold_cells=1, block_threshold_products=1, block=4
    )
    # the block path's physical marker is the Arrow-batch UDF (round 16:
    # mapInArrow replaced mapInPandas — zero-copy list access)
    assert "mapinarrow" in executed_plan(c2).lower()
    np.testing.assert_array_equal(_dense(c2, 12, 8), expect)

    # middle ground (no dims hint → derives sizes with one action per side)
    c3 = matmul_auto(da, db, broadcast_threshold_cells=1, block_threshold_products=10**12)
    np.testing.assert_array_equal(_dense(c3, 12, 8), expect)

    # the product check outranks broadcastability (round 9): a side small
    # enough to broadcast must still dispatch to block GEMM when L·M·N
    # exceeds the threshold — the measured rectangle case where
    # broadcast-A was 7.7× slower than block (matmul_auto docstring).
    c4 = matmul_auto(
        da, db, dims=(12, 10, 8), broadcast_threshold_cells=10**9,
        block_threshold_products=1, block=4,
    )
    assert "MapInArrow" in executed_plan(c4)
    np.testing.assert_array_equal(_dense(c4, 12, 8), expect)


def test_matmul_mapreduce_faithful_path(spark):
    l, m, n = 6, 5, 4
    a = generate_matrix_numpy(l, m, seed=5)
    b = generate_matrix_numpy(m, n, seed=6)
    c = matmul_mapreduce(
        spark,
        matrix_coo_from_numpy(spark, a),
        matrix_coo_from_numpy(spark, b),
        dims=(l, m, n),
    )
    np.testing.assert_array_equal(_dense(c, l, n), a @ b)


def test_dat_roundtrip_and_filename_schema(spark, tmp_path):
    """The reference's on-disk format: write with its naming convention,
    parse dims from the name (program.c:34-43), read distributed."""
    arr = generate_matrix_numpy(32, 32, seed=42)
    path = write_matrix_dat(arr, str(tmp_path), file_id=2)
    assert path.endswith("Array_32x32_2.dat")
    assert matrix_dims_from_name(path) == (32, 32)
    coo = read_matrix_coo(spark, path)
    assert coo.count() == 32 * 32
    np.testing.assert_array_equal(coo_to_numpy(coo, 32, 32), arr)


def test_end_to_end_reference_pipeline(spark, tmp_path):
    """Full reference pipeline (program.c:479-514): generate both inputs as
    .dat files, load via filename schema, multiply distributed, compare to
    the serial oracle — non-square to prove generality."""
    a = generate_matrix_numpy(8, 16, seed=7)
    b = generate_matrix_numpy(16, 4, seed=8)
    pa = write_matrix_dat(a, str(tmp_path), file_id=1)
    pb = write_matrix_dat(b, str(tmp_path), file_id=2)
    c = matmul_coo(read_matrix_coo(spark, pa), read_matrix_coo(spark, pb))
    np.testing.assert_array_equal(_dense(c, 8, 4), a @ b)


def test_reference_default_configuration(spark, tmp_path):
    """The reference's exact default run (filecreation.c:31-33: two 32×32
    matrices, cells in [0,9]) through the full .dat → multiply → check
    pipeline — the one job the reference can run, reproduced verbatim."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import multiply_dat_files

    a = generate_matrix_numpy(32, 32, seed=1)
    b = generate_matrix_numpy(32, 32, seed=2)
    pa = write_matrix_dat(a, str(tmp_path), file_id=1)
    pb = write_matrix_dat(b, str(tmp_path), file_id=2)
    c = multiply_dat_files(spark, pa, pb)
    np.testing.assert_array_equal(_dense(c, 32, 32), a.astype(np.int64) @ b)


def test_generate_matrix_df_deterministic(spark):
    df1 = generate_matrix_df(spark, 5, 5, seed=9).collect()
    df2 = generate_matrix_df(spark, 5, 5, seed=9).collect()
    assert sorted(df1) == sorted(df2)
    assert all(0 <= r.v < 10 for r in df1)


def test_matmul_auto_sparse_skips_block(spark):
    """The work estimate is nnz-based, not dense-dims-based (ADVICE r9):
    a near-diagonal pair with huge DIMS but few nonzeros must stay on
    the nnz-proportional join paths — the dense bound l·m·n (1e15 here)
    would have mis-routed it to dense block² tile GEMMs."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import matmul_auto
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    n = 100_000
    diag = spark.createDataFrame(
        [(i, i, 2) for i in range(0, n + 1, 50)], "i int, j int, v int"
    )
    # dims=None → sizes derived by counting; est = nnz²/m ≈ 0.04 ≪ 1e9
    c = matmul_auto(diag, diag)
    plan = executed_plan(c)
    assert "MapInPandas" not in plan and "MapInArrow" not in plan, plan
    # and the product is still right: (2·diag)² = 4·diag on the sampled grid
    rows = {(r.i, r.k): r.v for r in c.collect()}
    assert rows[(0, 0)] == 4 and rows[(50, 50)] == 4 and len(rows) == n // 50 + 1


def _dat_pair(tmp_path, a, b, tag):
    return (
        write_matrix_dat(a, str(tmp_path), file_id=f"{tag}a"),
        write_matrix_dat(b, str(tmp_path), file_id=f"{tag}b"),
    )


@pytest.mark.parametrize(
    "shape,block,lo,hi",
    [
        ((300, 517, 129), 128, -9, 10),  # the block divides no dimension
        ((1, 7, 5), 4, -9, 10),  # one-row A
        ((6, 9, 1), 4, -9, 10),  # one-column B
        ((6, 1, 3), 4, -9, 10),  # inner dimension 1
        ((20, 30, 10), 8, -(2**24), 2**24),  # fails the float gate: int64 path
    ],
)
def test_dense_dat_gemm_matches_numpy(spark, tmp_path, shape, block, lo, hi):
    """The dense .dat arm reads tiles straight from the files and emits
    every cell of C; its plan is Range → MapInArrow, with no Exchange."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import _dense_dat_gemm
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    l, m, n = shape
    rng = np.random.default_rng(l * m * n)
    a = rng.integers(lo, hi, size=(l, m)).astype(np.int32)
    b = rng.integers(lo, hi, size=(m, n)).astype(np.int32)
    c = _dense_dat_gemm(spark, *_dat_pair(tmp_path, a, b, "d"), (l, m, n), block=block)
    plan = executed_plan(c)
    assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert c.count() == l * n
    np.testing.assert_array_equal(_dense(c, l, n), a.astype(np.int64) @ b)


def test_dense_dat_gemm_k_chunks(spark, tmp_path):
    """A 4 kB read budget (spark.sql.files.maxPartitionBytes) splits the
    inner dimension into chunks of 4096 // (8·16) = 32 and forces per-row
    reads of A; the chunked accumulation is still exact, on the float
    and on the int64 path."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import _dense_dat_gemm

    l, m, n = 70, 300, 50
    rng = np.random.default_rng(5)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        for tag, bound in (("f", 10), ("i", 2**24)):
            a = rng.integers(-bound, bound, size=(l, m)).astype(np.int32)
            b = rng.integers(-bound, bound, size=(m, n)).astype(np.int32)
            c = _dense_dat_gemm(spark, *_dat_pair(tmp_path, a, b, tag), (l, m, n), block=16)
            np.testing.assert_array_equal(_dense(c, l, n), a.astype(np.int64) @ b)
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")


def test_exact_gemm_gates():
    """Each gate of the shared exact GEMM: float64, int64, and the guarded
    Python-int path, which returns in-range results and raises on the
    rest."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import _exact_gemm

    small = np.array([[1, -2], [3, 4]], dtype=np.int32)
    np.testing.assert_array_equal(_exact_gemm(small, small), small.astype(np.int64) @ small)
    mid = np.array([[2**31 - 1]], dtype=np.int32)  # bound 2^62 - 2^32 + 1: int64
    assert _exact_gemm(mid, mid)[0, 0] == (2**31 - 1) ** 2
    # bound 2·2^31·2^31 = 2^63 takes the guarded path; the cells fit
    a = np.array([[-(2**31), 2**31 - 1]], dtype=np.int32)
    b = np.array([[-(2**31)], [2**31 - 1]], dtype=np.int32)
    assert _exact_gemm(a, b)[0, 0] == 2**62 + (2**31 - 1) ** 2
    with pytest.raises(ArithmeticError):
        _exact_gemm(np.full((1, 3), 2**31 - 1, np.int32), np.full((3, 1), 2**31 - 1, np.int32))
    # the running sum across k-chunks is in the bound too
    acc = np.array([[2**63 - 1]], dtype=np.int64)
    with pytest.raises(ArithmeticError):
        _exact_gemm(small[:1, :1], small[:1, :1], acc)


@pytest.mark.parametrize("arm", ["coo", "broadcast", "block", "dense"])
def test_int64_overflow_raises_on_every_arm(spark, tmp_path, arm):
    """3×3 matrices of 2^31-1: every cell of C is 3·(2^31-1)^2 > 2^63-1.
    The join arms raise through Spark's ANSI sum, the GEMM arms through
    the exact GEMM — none wraps silently."""
    from emulating_hadoop_with_mpi_spark.mapreduce import matmul_block
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import _dense_dat_gemm

    big = np.full((3, 3), 2**31 - 1, dtype=np.int32)
    if arm == "dense":
        c = _dense_dat_gemm(spark, *_dat_pair(tmp_path, big, big, "o"), (3, 3, 3), block=4)
    else:
        da, db = matrix_coo_from_numpy(spark, big), matrix_coo_from_numpy(spark, big)
        c = {
            "coo": lambda: matmul_coo(da, db),
            "broadcast": lambda: matmul_broadcast(da, db),
            "block": lambda: matmul_block(da, db, block=4),
        }[arm]()
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|ArithmeticError"):
        c.collect()


def test_multiply_dat_files_dispatch(spark, tmp_path):
    """Above the 1e9-product boundary multiply_dat_files takes the dense
    arm (no Exchange); at 256³ it still plans the broadcast join."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import multiply_dat_files
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    for n, marker in ((1024, "MapInArrow"), (256, "BroadcastHashJoin")):
        sq = np.zeros((n, n), dtype=np.int32)
        plan = executed_plan(multiply_dat_files(spark, *_dat_pair(tmp_path, sq, sq, n)))
        assert marker in plan, plan
        if n == 1024:
            assert "Exchange" not in plan, plan


def test_dat_scan_plans_no_exchange(spark, tmp_path):
    """read_matrix_coo's Python decode is planned by split id: a Range
    feeding MapInPandas, with no Exchange in the plan."""
    from emulating_hadoop_with_mpi_spark.plans.inspect import executed_plan

    arr = generate_matrix_numpy(37, 5, seed=3)
    plan = executed_plan(read_matrix_coo(spark, write_matrix_dat(arr, str(tmp_path), 3)))
    assert "MapInPandas" in plan and "Exchange" not in plan, plan


@pytest.mark.parametrize("delta", [-4, 4])
def test_bad_dat_size_fails_on_driver(spark, tmp_path, delta):
    """A truncated or oversized .dat file is refused before any job, with
    the same ValueError on the decode and on both multiply paths."""
    from emulating_hadoop_with_mpi_spark.mapreduce.matmul import (
        _dense_dat_gemm,
        multiply_dat_files,
    )

    arr = generate_matrix_numpy(4, 4, seed=1)
    good = write_matrix_dat(arr, str(tmp_path), file_id="good")
    bad = write_matrix_dat(arr, str(tmp_path), file_id="bad")
    with open(bad, "r+b") as f:
        f.truncate(64 + delta)
    msg = rf"{re.escape(bad)}: {64 + delta} bytes.*4x4x4 = 64"
    for call in (
        lambda: read_matrix_coo(spark, bad),
        lambda: multiply_dat_files(spark, good, bad),
        lambda: _dense_dat_gemm(spark, good, bad, (4, 4, 4)),
    ):
        with pytest.raises(ValueError, match=msg):
            call()
