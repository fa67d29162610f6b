"""Distributed matrix multiplication — the reference's flagship (only) job.

The reference computes ``C = A × B`` as textbook one-pass MapReduce matrix
multiply: the mapper replicates every A cell across all k and every B cell
across all i, keyed by output coordinate "(i,k)" with tagged values
"(A,j,v)" / "(B,j,v)" (``program.c:184-222``); the reducer walks each key's
value list pairwise accumulating ``sum += a*b`` (``program.c:415-445``).

Six formulations here:

- ``matmul_coo`` (idiomatic, DEFAULT): the (i,k)-keyed tagged emit is a
  hand-rolled equi-join of A and B on the shared dimension j.  Expressed
  declaratively — ``A ⋈_j B → groupBy(i,k) → sum(va*vb)`` — Catalyst picks
  the physical join (broadcast if one side is small, shuffled hash
  otherwise), pushes projections into the scans, and partial-aggregates
  map-side.  Shuffle volume is O(|A|+|B|) + O(L·N) partials, versus the
  reference's 2·L·M·N replicated 512-byte string pairs broadcast to every
  node (``program.c:277-288``).

- ``matmul_broadcast``: explicit broadcast-hash-join hint for the
  small-B case — the declarative analogue of the reference's
  ``MPI_Bcast`` of the whole B matrix (``program.c:98``).

- ``matmul_mapreduce`` (faithful): the reference's exact KV dataflow,
  run on the package's own ``map_reduce`` — flatMap emit of tagged string
  pairs, groupByKey, per-key reduce — but with an order-INdependent
  reduce (dict on j), because the reference's pairwise walk
  (``program.c:427-436``) relies on an emission order Spark's shuffle
  does not preserve (SURVEY §2 note 1).

- ``matmul_block``: B×B tiles joined on the block dimension and
  multiplied as dense NumPy GEMMs inside one ``mapInArrow`` stage — the
  block arm for COO DataFrame inputs.

- ``_dense_dat_gemm`` (via ``multiply_dat_files``): the dense ``.dat``
  arm.  The reference gives every rank both whole matrices
  (``program.c:97-98``) and each rank computes its own part of C; here
  each task owns output tiles and reads its A row bands and B column
  bands straight from the files — no decode, no shuffle.

- ``matmul_auto``: the one dispatcher — picks block, broadcast (either
  side) or COO from the sizes alone (``dims``, or its count jobs).

All of them aggregate into int64 — the reference's ``int sum``
(``program.c:425``) overflows at scale.  On the join and GEMM arms a
result outside int64 raises
instead of wrapping: Spark's ANSI arithmetic on the joins,
``_exact_gemm`` on the GEMM arms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emulating_hadoop_with_mpi_spark.mapreduce.api import map_reduce

# L·M·N products above which a multiply leaves the joins for a GEMM arm
# (matmul_auto's block arm, multiply_dat_files' dense arm).
_BLOCK_PRODUCTS = 1_000_000_000
# Cells of a side small enough for matmul_auto to broadcast it.
_BROADCAST_CELLS = 2_000_000
# Tile edge of matmul_auto's block arm.
_AUTO_BLOCK = 256


def _make_exact_gemm():
    """Build the exactness-gated GEMM as a LOCAL function, so cloudpickle
    ships it by value inside the Arrow UDFs that call it — Python workers
    need not import this package (the driver may run from any cwd)."""

    def exact_gemm(A, B, acc=None):
        """``acc + A @ B`` over dense integer-valued tiles (any int or
        float dtype holding integers), exact, as int64 — or
        ``ArithmeticError`` if a result cell falls outside int64.

        EXACTNESS-GATED BLAS dispatch (round 11), on the bound
        ``max|acc| + max|A|·max|B|·len`` computed in Python ints (no
        wrap, no rounding):

        - below 2^52: float64 ``A @ B`` runs dgemm — vectorized, measured
          ~an order of magnitude faster than NumPy's single-threaded int64
          matmul loop — and is EXACT, since every intermediate stays under
          the 53-bit mantissa (2^52 keeps a 2× margin);
        - below 2^63: the exact int64 matmul;
        - otherwise the guarded path: Python-int (object) arithmetic, then
          a range check.  int64 matmul would wrap silently there.

        Correctness never depends on the data being small, only speed
        does.  ``acc`` carries a running sum across k-chunks; a partial sum
        outside int64 raises, as Spark's ANSI ``sum`` does.
        """
        import numpy as np

        def absmax(x):
            return max(int(x.max()), -int(x.min())) if x.size else 0

        bound = absmax(A) * absmax(B) * A.shape[1]
        if acc is not None:
            bound += absmax(acc)
        if bound < 1 << 52:
            C = (A.astype(np.float64) @ B.astype(np.float64)).astype(np.int64)
        elif bound < 1 << 63:
            C = A.astype(np.int64) @ B.astype(np.int64)
        else:
            C = A.astype(np.int64).astype(object) @ B.astype(np.int64).astype(object)
            if acc is not None:
                C = C + acc.astype(object)
            if C.size and (C.max() >= 1 << 63 or C.min() < -(1 << 63)):
                raise ArithmeticError(
                    "matmul: a result cell overflows int64 (bound "
                    f"{bound} ≥ 2^63, max {C.max()}, min {C.min()})"
                )
            return C.astype(np.int64)
        return C if acc is None else C + acc

    return exact_gemm


_exact_gemm = _make_exact_gemm()


def _join_matmul(a: DataFrame, b: DataFrame, broadcast: str | None) -> DataFrame:
    """A ⋈_j B → groupBy(i,k) → sum(va·vb), with a broadcast hint on the
    ``"a"`` or ``"b"`` side, or on neither (``None``).

    b's coordinates are renamed (row=j, col=k) so the join key is the
    shared inner dimension, exactly the pairing the reference's reducer
    reconstructs from value tags + order (``program.c:427-436``).
    """
    lhs = a.select(F.col("i"), F.col("j"), F.col("v").alias("va"))
    rhs = b.select(F.col("i").alias("j"), F.col("j").alias("k"), F.col("v").alias("vb"))
    if broadcast == "a":
        lhs = F.broadcast(lhs)
    elif broadcast == "b":
        rhs = F.broadcast(rhs)
    return (
        lhs.join(rhs, "j")
        .groupBy("i", "k")
        .agg(F.sum(F.col("va").cast("long") * F.col("vb").cast("long")).alias("v"))
    )


def matmul_coo(a: DataFrame, b: DataFrame) -> DataFrame:
    """C = A×B over COO DataFrames a(i,j,v), b(i,j,v) → (i, k, v:long);
    Catalyst picks the physical join."""
    return _join_matmul(a, b, None)


def matmul_broadcast(a: DataFrame, b: DataFrame) -> DataFrame:
    """Same plan with a broadcast hint on B — use when B fits in executor
    memory (the reference unconditionally replicates BOTH matrices to all
    ranks, ``program.c:97-98``; we replicate only the small side)."""
    return _join_matmul(a, b, "b")


def matmul_mapreduce(
    spark: SparkSession,
    a: DataFrame,
    b: DataFrame,
    dims: tuple[int, int, int],
    num_partitions: int | None = None,
) -> DataFrame:
    """Faithful KV-string MapReduce path (RDD), mirroring the reference.

    mapper: for an A cell (i,j,v): emit (f"({i},{k})", f"(A,{j},{v})") for
    every k — and symmetrically for B cells across every i
    (``program.c:203-217``; the reference iterates rows and emits both
    relations from one loop, we tag each relation's cells directly —
    same pair multiset, 2·L·M·N pairs).

    reducer: rebuild {j: a_v} and {j: b_v} per key and sum products —
    order-independent, unlike ``program.c:427-436``.
    """
    l, _, n = dims

    def mapper(cell):
        tag, r, c, v = cell
        if tag == "A":  # A[i=r, j=c]: one pair per output column k
            val = f"(A,{c},{v})"
            return [(f"({r},{k})", val) for k in range(n)]
        val = f"(B,{r},{v})"  # B[j=r, k=c]: one pair per output row i
        return [(f"({i},{c})", val) for i in range(l)]

    # Tagged and unioned JVM-side, so the mapper runs in the same Python
    # pass that receives the cells.
    cells = a.select(F.lit("A"), "i", "j", "v").union(b.select(F.lit("B"), "i", "j", "v")).rdd

    def reducer(key, values):
        a_vals: dict[int, int] = {}
        b_vals: dict[int, int] = {}
        for s in values:
            tag, j, v = s[1:-1].split(",")
            if tag == "A":
                a_vals[int(j)] = int(v)
            else:
                b_vals[int(j)] = int(v)
        total = sum(av * b_vals.get(j, 0) for j, av in a_vals.items())
        i, k = key[1:-1].split(",")
        yield (int(i), int(k), total)

    out = map_reduce(cells, mapper, reducer, num_partitions=num_partitions)
    return spark.createDataFrame(out, "i int, k int, v long")


def _block_tiles(df: DataFrame, block: int, row_block: str, col_block: str, names) -> DataFrame:
    """B×B tiles of one side: its (i, j, v) cells collected per
    (row block, column block) — one exchange per side."""
    return (
        df.select(
            (F.col("i") / block).cast("int").alias(row_block),
            (F.col("j") / block).cast("int").alias(col_block),
            "i",
            "j",
            "v",
        )
        .groupBy(row_block, col_block)
        .agg(*(F.collect_list(c).alias(n) for c, n in zip(("i", "j", "v"), names)))
    )


def matmul_block(a: DataFrame, b: DataFrame, block: int = 128) -> DataFrame:
    """Block (SUMMA-style) matrix multiply — the 100 TB formulation.

    The COO join (matmul_coo) materializes L·M·N joined rows; fine up to
    mid-size matrices, quadratic death beyond.  Blocking shuffles each
    input ONCE into B×B tiles, joins tiles on the shared block dimension,
    and multiplies each tile pair with vectorized NumPy (`@`) inside an
    Arrow-batch UDF (mapInArrow — zero-copy list access, see gemm) —
    per-pair cost is a dense GEMM, and shuffle volume is
    O(|A|·N/B + |B|·L/B) instead of O(L·M·N).

    The reference ships every cell to every rank as 512-byte strings
    (``program.c:277-288``); here a cell crosses the wire at most
    ⌈N/B⌉ (resp. ⌈L/B⌉) times, packed in Arrow batches.
    """
    a_t = _block_tiles(a, block, "bi", "bk", ("ai", "aj", "av"))
    b_t = _block_tiles(b, block, "bk", "bj", ("bi_", "bj_", "bv"))
    paired = a_t.join(b_t, "bk")

    blk = block

    def gemm(batches):
        # Arrow-native (round 16): mapInArrow, NOT mapInPandas.  The
        # pandas path materialized every list column as a numpy OBJECT
        # array of Python lists, so each tile pair paid per-element
        # list→ndarray conversion — measured 94% of the 768³ leg (7.5 s
        # of 8.0 at block=128: 216 pairs × 6 lists × 16k elements).
        # Arrow list arrays expose their int values buffer zero-copy:
        # per-row slices below are O(1) views, and the batch math is
        # unchanged (the r15 matmul_block variance chase ended here —
        # not session state, not contention: conversion overhead that
        # scaled with pair count).
        import numpy as np
        import pyarrow as pa

        out_schema = pa.schema(
            [("i", pa.int64()), ("k", pa.int64()), ("v", pa.int64())]
        )

        def _list_views(arr):
            """(offsets, values) numpy views of a list<int*> Array —
            offsets are absolute into the child values array, so sliced
            batches index correctly."""
            return arr.offsets.to_numpy(), arr.values.to_numpy(
                zero_copy_only=False
            )

        for rb in batches:
            if not rb.num_rows:
                yield pa.RecordBatch.from_pylist([], schema=out_schema)
                continue
            idx = {n: i for i, n in enumerate(rb.schema.names)}
            tile_bi = rb.column(idx["bi"]).to_numpy(zero_copy_only=False)
            tile_bj = rb.column(idx["bj"]).to_numpy(zero_copy_only=False)
            views = {
                n: _list_views(rb.column(idx[n]))
                for n in ("ai", "aj", "av", "bi_", "bj_", "bv")
            }

            def _sl(name, r):
                off, vals = views[name]
                return vals[off[r] : off[r + 1]]

            outs_i: list = []
            outs_k: list = []
            outs_v: list = []
            for r in range(rb.num_rows):
                ai = _sl("ai", r) % blk
                aj = _sl("aj", r) % blk
                bi = _sl("bi_", r) % blk
                bj = _sl("bj_", r) % blk
                av = _sl("av", r).astype(np.int64)
                bv = _sl("bv", r).astype(np.int64)
                # Densify the COO lists.  A bincount scatter-add in
                # float64 sums duplicate coordinates (as matmul_coo /
                # matmul_mapreduce do) and is exact if Σ|values| per
                # input < 2^52 — that bounds every partial sum,
                # cancellation included.  The |·| sums are taken in
                # FLOAT64 (ADVICE r11): an int64 np.abs().sum() can wrap
                # (and |INT64_MIN| stays negative), letting a
                # pathological block falsely pass; the 2^52 threshold
                # leaves a 2× margin for the sums' own rounding.
                # Otherwise the exact int64 add.at scatter.
                lim = float(1 << 52)
                if (
                    np.abs(av.astype(np.float64)).sum() < lim
                    and np.abs(bv.astype(np.float64)).sum() < lim
                ):
                    A = np.bincount(
                        ai * blk + aj, weights=av.astype(np.float64),
                        minlength=blk * blk,
                    ).reshape(blk, blk)
                    B = np.bincount(
                        bi * blk + bj, weights=bv.astype(np.float64),
                        minlength=blk * blk,
                    ).reshape(blk, blk)
                else:
                    A = np.zeros((blk, blk), dtype=np.int64)
                    B = np.zeros((blk, blk), dtype=np.int64)
                    np.add.at(A, (ai, aj), av)
                    np.add.at(B, (bi, bj), bv)
                C = _exact_gemm(A, B)
                ii, kk = np.nonzero(C)
                vv = C[ii, kk]
                if ii.size:
                    outs_i.append(ii.astype(np.int64) + int(tile_bi[r]) * blk)
                    outs_k.append(kk.astype(np.int64) + int(tile_bj[r]) * blk)
                    outs_v.append(vv)
            if outs_i:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(outs_i)),
                        pa.array(np.concatenate(outs_k)),
                        pa.array(np.concatenate(outs_v)),
                    ],
                    schema=out_schema,
                )
            else:
                yield pa.RecordBatch.from_pylist([], schema=out_schema)

    partials = paired.mapInArrow(gemm, schema="i long, k long, v long")
    return (
        partials.groupBy("i", "k")
        .agg(F.sum("v").alias("v"))
        .select(F.col("i").cast("int"), F.col("k").cast("int"), "v")
    )


def matmul_auto(
    a: DataFrame, b: DataFrame, dims: tuple[int, int, int] | None = None
) -> DataFrame:
    """Pick the physical multiply strategy by size — the planner decision
    the reference hardwires (it always replicates everything,
    ``program.c:97-98``):

    - L·M·N products beyond the COO/broadcast joins' comfort → blocked
      GEMM (shuffle O(cells·N/B) instead of materializing L·M·N rows).
      This check runs FIRST: even when one side is broadcastable, the
      join formulations still stream every scalar product through the
      aggregator one row at a time, while block GEMM does the same work
      in vectorized NumPy batches — measured r9 at 2.1B products on a
      128×4096 @ 4096×4096 rectangle: block 4.3 s vs broadcast-A 33.2 s
      vs COO 20.4 s, and at 1280³ block 9.4 s vs COO 12.2 s.  The 1B
      boundary is the measured crossover (block already ties COO at
      1024³ = 1.07B and loses below: 896³ broadcast 3.5 s vs block
      6.3 s); block=256 beat 128 at 2048³ (12.9 vs 15.2 s).  These
      crossovers were measured for the COO block arm (``matmul_block``);
      dense ``.dat`` files above the same boundary take
      ``multiply_dat_files``' dense arm instead, never this dispatcher.
    - else one side fits in executor memory → broadcast-hash join (no
      shuffle of the big side at all);
    - otherwise → plain COO join+agg and let Catalyst/AQE do the rest.

    ``dims`` (L, M, N) comes free from the `.dat` filename convention;
    without it we spend one cheap count/max action per input.  Either
    way the choice depends only on those sizes, never on the session.
    """
    if dims is not None:
        l, m, n = dims
        a_cells, b_cells = l * m, m * n
    else:
        arow = a.agg(F.max("i"), F.max("j"), F.count(F.lit(1))).first()
        brow = b.agg(F.max("i"), F.max("j"), F.count(F.lit(1))).first()
        l, m = int(arow[0]) + 1, max(int(arow[1]), int(brow[0])) + 1
        n = int(brow[1]) + 1
        a_cells, b_cells = int(arow[2]), int(brow[2])
    # Work estimate from CELL COUNTS, not dense dims (ADVICE r9): the
    # join formulations' cost is the number of scalar products actually
    # streamed = Σ_j nnz_A(·,j)·nnz_B(j,·) ≈ a_cells·b_cells/m under a
    # uniform spread.  For the dense `.dat` path (dims known ⇒ cells =
    # l·m / m·n) this reduces to exactly l·m·n — the measured-crossover
    # behavior is unchanged — while a sparse pair with huge dims but few
    # nonzeros (near-diagonal A, tiny B) correctly stays on the
    # nnz-proportional joins instead of paying dense block² tile GEMMs.
    if a_cells * b_cells // max(m, 1) > _BLOCK_PRODUCTS:
        return matmul_block(a, b, block=_AUTO_BLOCK)
    if b_cells <= _BROADCAST_CELLS:
        return matmul_broadcast(a, b)
    if a_cells <= _BROADCAST_CELLS:
        # symmetric: broadcast A instead
        return _join_matmul(a, b, "a")
    return matmul_coo(a, b)


def _dense_dat_gemm(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    dims: tuple[int, int, int],
    block: int = 256,
) -> DataFrame:
    """C = A×B straight from two dense ``.dat`` files → (i int, k int, v long),
    every cell of C.

    The reference's own decomposition — every rank reads the inputs and
    owns an output range (``program.c:97-98``) — with the file system in
    place of ``MPI_Bcast``: one ``spark.range(n_tiles)`` → ``mapInArrow``
    stage in which each task owns ``block``×``block`` output tiles.  Per
    k-chunk a task positioned-reads A's row band and B's column band from
    the files and accumulates the tile with ``_exact_gemm``.  No COO decode,
    no tile-build shuffle, no partial-sum aggregate: the plan has no
    Exchange.

    Memory stays bounded for any M: a k-chunk's two bands hold at most
    ``spark.sql.files.maxPartitionBytes`` as int32, and a whole-row read of
    B is only made when it fits that budget too.  Tiles are numbered
    bj-major, so consecutive tiles of a task share B's column band, and a
    band that is one chunk is read once per task.
    """
    from emulating_hadoop_with_mpi_spark.sources.matrix import (
        _check_dat_size,
        _dat_filesystem,
        _split_bytes,
    )

    l, m, n = dims
    _check_dat_size(path_a, l, m)
    _check_dat_size(path_b, m, n)
    fs_a, file_a = _dat_filesystem(path_a)
    fs_b, file_b = _dat_filesystem(path_b)
    budget = _split_bytes(spark)
    kc = max(1, budget // (8 * block))
    nbi, nbj = -(-l // block), -(-n // block)
    n_tiles = nbi * nbj
    par = max(1, min(n_tiles, spark.sparkContext.defaultParallelism))

    def tiles(batches):
        import numpy as np
        import pyarrow as pa

        def band(f, r0, r1, c0, c1, ncols):
            """Cells [r0, r1) × [c0, c1) of a row-major int32 file: one
            read of the whole rows when they fit the budget, else one read
            per row."""
            if (r1 - r0) * ncols * 4 <= budget:
                buf = f.read_at((r1 - r0) * ncols * 4, r0 * ncols * 4)
                return np.frombuffer(buf, dtype="<i4").reshape(r1 - r0, ncols)[:, c0:c1]
            out = np.empty((r1 - r0, c1 - c0), dtype="<i4")
            for r in range(r0, r1):
                buf = f.read_at((c1 - c0) * 4, (r * ncols + c0) * 4)
                out[r - r0] = np.frombuffer(buf, dtype="<i4")
            return out

        b_key, b_band = None, None
        with fs_a.open_input_file(file_a) as fa, fs_b.open_input_file(file_b) as fb:
            for rb in batches:
                for t in rb.column(0).to_numpy():
                    bj, bi = divmod(int(t), nbi)
                    r0, r1 = bi * block, min(l, (bi + 1) * block)
                    c0, c1 = bj * block, min(n, (bj + 1) * block)
                    acc = np.zeros((r1 - r0, c1 - c0), dtype=np.int64)
                    for k0 in range(0, m, kc):
                        k1 = min(m, k0 + kc)
                        if b_key != (bj, k0):
                            b_key, b_band = (bj, k0), band(fb, k0, k1, c0, c1, n)
                        acc = _exact_gemm(band(fa, r0, r1, k0, k1, m), b_band, acc)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.repeat(np.arange(r0, r1, dtype=np.int32), c1 - c0)),
                            pa.array(np.tile(np.arange(c0, c1, dtype=np.int32), r1 - r0)),
                            pa.array(acc.ravel()),
                        ],
                        names=["i", "k", "v"],
                    )

    return spark.range(n_tiles, numPartitions=par).mapInArrow(
        tiles, "i int, k int, v long"
    )


def multiply_dat_files(spark: SparkSession, path_a: str, path_b: str) -> DataFrame:
    """End-to-end job entry matching the reference's main
    (``program.c:479-514``): parse dims from both filenames, reject
    incompatible shapes exactly as ``program.c:80-84`` ("dimensions are
    incompatible to multiply"), then run the idiomatic multiply: above
    ``_BLOCK_PRODUCTS`` the dense arm reads tiles straight from the files,
    below it ``matmul_auto`` picks a join over the decoded COO inputs."""
    from emulating_hadoop_with_mpi_spark.sources.matrix import (
        matrix_dims_from_name,
        read_matrix_coo,
    )

    (l, m1) = matrix_dims_from_name(path_a)
    (m2, n) = matrix_dims_from_name(path_b)
    if m1 != m2:
        raise ValueError(
            f"dimensions are incompatible to multiply: {l}x{m1} × {m2}x{n}"
        )
    if l * m1 * n > _BLOCK_PRODUCTS:
        return _dense_dat_gemm(spark, path_a, path_b, (l, m1, n))
    # matmul_auto, not matmul_coo: the binary scan is a MapInPandas whose
    # size Catalyst can't estimate (unknown stats → never auto-broadcast),
    # but the filename gives exact dims — let the dispatcher pick
    # broadcast or COO instead of silently sort-merge-joining a side that
    # fits in memory (measured 5× on 768² inputs).
    return matmul_auto(
        read_matrix_coo(spark, path_a, (l, m1)),
        read_matrix_coo(spark, path_b, (m2, n)),
        dims=(l, m1, n),
    )


def matmul_render_dense(c: DataFrame) -> DataFrame:
    """Pivot COO result to a dense row-per-i render — the analogue of the
    reference's final_result.txt pivot (``program.c:447-477``).  Only for
    small results: pivot explodes k into columns."""
    return c.groupBy("i").pivot("k").sum("v").orderBy("i")
