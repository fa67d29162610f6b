"""Reader/writer for the reference's headerless binary matrix format.

Format (``filecreation.c:19-28`` / ``program.c:45-72``): a dense row-major
int32 matrix, no header/footer, exactly ``rows*cols*4`` bytes; the dimensions
are encoded in the file name as ``Array_<rows>x<cols>_<id>.dat``
(parsed by ``getArrayDimensions``, ``program.c:34-43`` — the reference scans
from a hardcoded char index; we use a regex).

Scale design: instead of slurping the whole file on one node (the reference
reads everything on rank 0, ``program.c:94-96``, then broadcasts it to every
process, ``program.c:97-98``), the file is split driver-side into
row-aligned byte ranges — the same contract a parquet FileScan uses
(`spark.sql.files.maxPartitionBytes`-sized splits).  The splits are planned
by split id: one ``spark.range`` partition per split, whose task derives its
row range from the id — no driver-side split list and no exchange.  Each
task does one positioned read of its range and decodes it with vectorized
NumPy into COO ``(i, j, v)`` triples, which cross into the JVM as Arrow
batches via ``mapInPandas``.  No node ever holds the full matrix, no Python
loop ever touches an individual cell, and a 100 TB matrix streams through
like any other columnar datasource.  File access goes through one
``pyarrow.fs`` opener (``_dat_filesystem``) so ``hdfs://``/``s3://`` URIs
work on a real cluster the same as local paths, and a file whose size is
not ``rows*cols*4`` is refused on the driver before any job runs.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pandas as pd
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import IntegerType, StructField, StructType

COO_SCHEMA = StructType(
    [
        StructField("i", IntegerType(), False),
        StructField("j", IntegerType(), False),
        StructField("v", IntegerType(), False),
    ]
)

_NAME_RE = re.compile(r"Array_(\d+)x(\d+)_\w+\.dat$")


def matrix_dims_from_name(path: str) -> tuple[int, int]:
    """Parse ``Array_<rows>x<cols>_<id>.dat`` → (rows, cols).

    Robust replacement for the reference's fixed-index filename scan
    (``program.c:34-43`` / ``checking.c:20-29``).
    """
    m = _NAME_RE.search(os.path.basename(path))
    if not m:
        raise ValueError(f"not a matrix file name (want Array_<R>x<C>_<id>.dat): {path}")
    return int(m.group(1)), int(m.group(2))


def _read_matrix_coo_jvm(
    spark: SparkSession, path: str, rows: int, cols: int, rows_per_split: int
) -> DataFrame | None:
    """JVM-side decode when the extension jar is loaded, else None.

    Local ``file:``-less paths are absolutized first so executor-side Hadoop
    FS resolution matches the driver's view; URIs pass through untouched.
    """
    fpath = path if "://" in path else os.path.abspath(path)
    try:
        jdf = spark._jvm.emulatinghadoop.spark.matmul.MatrixSource.readCoo(
            spark._jsparkSession, fpath, rows, cols, rows_per_split
        )
        return DataFrame(jdf, spark)
    except TypeError:
        # jar absent: py4j resolves MatrixSource to an uncallable JavaPackage
        return None


def _dat_filesystem(path: str):
    """(pyarrow filesystem, path within it) for a local path or a URI — the
    one opener the size check, the ``.dat`` decode and the dense GEMM arm
    share.  Resolved on the driver: a relative local path becomes absolute
    against the driver's cwd, and the filesystem object pickles into the
    tasks."""
    if "://" in path:
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), os.path.abspath(path)


def _check_dat_size(path: str, rows: int, cols: int) -> None:
    """Refuse, on the driver, a ``.dat`` file that is not exactly
    ``rows*cols*4`` bytes — a truncated file would otherwise fail inside an
    executor, and extra trailing bytes would be ignored."""
    filesystem, fpath = _dat_filesystem(path)
    info = filesystem.get_file_info(fpath)
    if info.type == pafs.FileType.NotFound:
        raise FileNotFoundError(f"no such matrix file: {path}")
    if info.size != rows * cols * 4:
        raise ValueError(
            f"{path}: {info.size} bytes, but a {rows}x{cols} int32 matrix is "
            f"{rows}x{cols}x4 = {rows * cols * 4} bytes"
        )


def _split_bytes(spark: SparkSession) -> int:
    """Target bytes per read split — honor the same knob a FileScan uses."""
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    m = re.match(r"(\d+)", raw)
    return int(m.group(1)) if m else 134_217_728


def read_matrix_coo(
    spark: SparkSession, path: str, dims: tuple[int, int] | None = None
) -> DataFrame:
    """Read a ``.dat`` matrix into a COO DataFrame ``(i INT, j INT, v INT)``.

    Mirrors ``readArraysFromFile`` (``program.c:45-72``) but distributed and
    vectorized: the driver checks the file size, then plans row-aligned
    byte-range splits by split id (one task each, sized like FileScan
    splits, no exchange).  When the extension jar is on the
    session classpath the decode runs entirely JVM-side
    (``jvm/src/MatrixSource.scala`` — positioned Hadoop FS read +
    little-endian IntBuffer, no Python boundary at all); otherwise each task
    positioned-reads its range through ``pyarrow.fs`` and decodes with
    ``np.frombuffer`` + ``np.repeat``/``np.tile`` into one Arrow batch per
    split — no Python-per-cell loop anywhere on either path.
    """
    rows, cols = dims if dims is not None else matrix_dims_from_name(path)
    _check_dat_size(path, rows, cols)
    record_len = cols * 4
    if rows * cols == 0:
        return spark.createDataFrame([], COO_SCHEMA)

    # Row-aligned splits: each ≈ maxPartitionBytes, at least one row, and at
    # least defaultParallelism splits when the matrix is big enough to care.
    par = max(1, spark.sparkContext.defaultParallelism)
    rows_per_split = max(1, min(_split_bytes(spark) // record_len, -(-rows // par)))

    jvm_df = _read_matrix_coo_jvm(spark, path, rows, cols, rows_per_split)
    if jvm_df is not None:
        return jvm_df
    n_splits = -(-rows // rows_per_split)
    filesystem, fpath = _dat_filesystem(path)

    def decode(batches):
        with filesystem.open_input_file(fpath) as f:
            for pdf in batches:
                for split in pdf["id"]:
                    row_start = int(split) * rows_per_split
                    row_end = min(row_start + rows_per_split, rows)
                    n = row_end - row_start
                    buf = f.read_at(n * record_len, row_start * record_len)
                    vals = np.frombuffer(buf, dtype="<i4")
                    yield pd.DataFrame(
                        {
                            "i": np.repeat(
                                np.arange(row_start, row_end, dtype=np.int32), cols
                            ),
                            "j": np.tile(np.arange(cols, dtype=np.int32), n),
                            "v": vals,
                        }
                    )

    return spark.range(n_splits, numPartitions=n_splits).mapInPandas(decode, COO_SCHEMA)


def matrix_coo_from_numpy(spark: SparkSession, arr: np.ndarray) -> DataFrame:
    """In-memory ndarray → COO DataFrame (test helper)."""
    rows, cols = arr.shape
    ii, jj = np.indices((rows, cols))
    data = list(zip(ii.ravel().tolist(), jj.ravel().tolist(), arr.ravel().tolist()))
    return spark.createDataFrame(data, COO_SCHEMA)


def coo_to_numpy(df: DataFrame, rows: int, cols: int, value_col: str = "v") -> np.ndarray:
    """Collect a COO result into a dense ndarray (small matrices only —
    the final-render step, like ``readResultsFromFile`` ``program.c:447-477``)."""
    out = np.zeros((rows, cols), dtype=np.int64)
    for r in df.select("i", "k" if "k" in df.columns else "j", value_col).collect():
        out[r[0], r[1]] = r[2]
    return out


def write_matrix_dat(arr: np.ndarray, directory: str, file_id: int | str = 1) -> str:
    """Write an ndarray in the reference's format + naming convention
    (``filecreation.c:19-28, 33``): raw little-endian int32, row-major,
    named ``Array_<rows>x<cols>_<id>.dat``."""
    rows, cols = arr.shape
    path = os.path.join(directory, f"Array_{rows}x{cols}_{file_id}.dat")
    arr.astype("<i4").tofile(path)
    return path
