"""Pins of the shared Arrow text front end (functions/text._stage_text +
_token_codes) that the four tokenizing kernels — quality_scores,
doc_bucket_counts, doc_bigram_profile, corpus_postings — sit on:

- an int (int32) ``doc_id`` gives the same rows as a bigint one;
- under a Turkish JVM locale every kernel still equals its Catalyst
  reference form (tests/reference_forms.py), because Spark, not Python,
  lowers the text;
- each kernel's generator, pickled on the driver, runs in a Python that
  cannot import this package.
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pyarrow as pa
from pyspark.sql import functions as F
from reference_forms import kernel_pairs

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)

_ROWS = [
    (1, "Istanbul İzmir", "en"),
    (2, "TITLE ascii", "en"),
    (3, "İstanbul İZMİR ıi Iİ", "es"),
    (4, "ΟΔΟΣ Σ Kelvin", "en"),
    (5, "a b a b c", "de"),
    (6, "", "en"),
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_int_doc_id_gives_the_bigint_rows(spark):
    wide = spark.createDataFrame(_ROWS, "doc_id long, text string, lang string")
    narrow = wide.withColumn("doc_id", F.col("doc_id").cast("int"))
    for name, (entry, _) in kernel_pairs().items():
        assert _rows(entry(narrow)) == _rows(entry(wide)), name


_LOCALE_SCRIPT = r"""
import sys
sys.path[:0] = [{repo!r}, {tests!r}]
from pyspark.sql import functions as F
from emulating_hadoop_with_mpi_spark import get_spark
from reference_forms import kernel_pairs

spark = get_spark(
    app_name="tr-locale",
    master="local[2]",
    shuffle_partitions=2,
    extra_conf={{
        "spark.driver.extraJavaOptions": "-Duser.language=tr -Duser.country=TR",
        "spark.driver.memory": "1g",
    }},
)
docs = spark.createDataFrame({rows!r}, "doc_id long, text string, lang string")
# the locale took effect: Spark folds the dotless I the Turkish way
folded = docs.filter("doc_id = 1").select(F.lower("text")).first()[0]
assert folded == "ıstanbul izmir", folded
for name, (entry, ref) in kernel_pairs().items():
    got = sorted(tuple(r) for r in entry(docs).collect())
    exp = sorted(tuple(r) for r in ref(docs).collect())
    assert got and got == exp, (name, got, exp)
print("TR_LOCALE_OK")
spark.stop()
"""


def test_kernels_equal_reference_forms_under_turkish_locale():
    script = _LOCALE_SCRIPT.format(repo=_REPO, tests=_TESTS, rows=_ROWS)
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300
    )
    out = proc.stdout + proc.stderr
    assert proc.returncode == 0 and "TR_LOCALE_OK" in proc.stdout, out[-4000:]


_PICKLE_SCRIPT = r"""
import importlib.util
import pickle
import sys

import pyarrow as pa

assert importlib.util.find_spec("emulating_hadoop_with_mpi_spark") is None, sys.path
with open("gens.pkl", "rb") as f:
    gens = pickle.load(f)
batch = pa.ipc.open_file("batch.arrow").read_all().to_batches()[0]
out = {name: [b.to_pylist() for b in gen([batch])] for name, gen in gens.items()}
assert not any(m.startswith("emulating_hadoop_with_mpi_spark") for m in sys.modules)
with open("out.pkl", "wb") as f:
    pickle.dump(out, f)
"""


def test_generators_run_without_the_package(tmp_path):
    """The kernels' generators pickle by value: a worker whose cwd and
    sys.path hold no copy of this package still runs them."""
    from pyspark import cloudpickle

    from emulating_hadoop_with_mpi_spark.functions.dsir import _bucket_batches_fn
    from emulating_hadoop_with_mpi_spark.functions.lm import _profile_batches_fn
    from emulating_hadoop_with_mpi_spark.functions.search import _postings_batches_fn
    from emulating_hadoop_with_mpi_spark.functions.text import _qfeat_batches_fn

    gens = {
        "quality": _qfeat_batches_fn(keep_text=True),
        "dsir": _bucket_batches_fn(4096),
        "lm": _profile_batches_fn(),
        "postings": _postings_batches_fn(),
    }
    texts = [t for _, t, _ in _ROWS]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([i for i, _, _ in _ROWS], type=pa.int64()),
            pa.array([lang == "en" for _, _, lang in _ROWS]),
            pa.array(texts),
            pa.array([t.lower() for t in texts]),
        ],
        names=["doc_id", "is_target", "text", "lower_text"],
    )
    (tmp_path / "gens.pkl").write_bytes(cloudpickle.dumps(gens))
    with pa.ipc.new_file(str(tmp_path / "batch.arrow"), batch.schema) as w:
        w.write_batch(batch)
    # -I: no PYTHONPATH, no user site, no script dir on sys.path
    proc = subprocess.run(
        [sys.executable, "-I", "-c", _PICKLE_SCRIPT],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    got = pickle.loads((tmp_path / "out.pkl").read_bytes())
    exp = {name: [b.to_pylist() for b in gen([batch])] for name, gen in gens.items()}
    assert got == exp
    assert all(got.values())
