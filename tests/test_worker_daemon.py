"""Python workers on local masters start without Spark's archives on
``sys.path`` (``worker_daemon``), and only there."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
from types import SimpleNamespace

from emulating_hadoop_with_mpi_spark import session
from emulating_hadoop_with_mpi_spark.worker_daemon import is_spark_archive, without_spark_archives

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION_PY = b"__version__: str = '4.1.2'\n"


def test_python_task_sees_no_spark_archive(spark):
    def worker_view(_):  # nested: pickled by value, the workers cannot import tests/
        import sys
        import zipimport

        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield (list(sys.path), zips, pyspark.__file__)

    path, zip_importers, pyspark_file = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(worker_view).collect()[0]
    )
    assert not [e for e in path if is_spark_archive(e)], path
    assert zip_importers == []
    assert os.path.isfile(pyspark_file), pyspark_file


def _zip(path, members: dict[str, bytes]) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


def _fake_paths(tmp_path, zip_version=VERSION_PY, site_pyspark=True):
    """A worker path as Spark builds it, over fake archives, plus a user
    zip and a site directory with py4j (and pyspark unless told not to)."""
    (tmp_path / "lib").mkdir()
    (tmp_path / "jars").mkdir()
    site = tmp_path / "site"
    (site / "py4j").mkdir(parents=True)
    (site / "py4j" / "__init__.py").write_text("")
    if site_pyspark:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_bytes(VERSION_PY)
    spark_zip = _zip(
        tmp_path / "lib" / "pyspark.zip",
        {"pyspark/__init__.py": b"", "pyspark/version.py": zip_version},
    )
    py4j_zip = _zip(tmp_path / "lib" / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": b""})
    jar = _zip(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar", {"org/Spark.class": b""})
    user_zip = _zip(tmp_path / "deps.zip", {"mylib/__init__.py": b""})
    return [spark_zip, py4j_zip, jar, user_zip, str(site)], user_zip, str(site)


def test_filter_drops_spark_archives_when_versions_match(tmp_path):
    path, user_zip, site = _fake_paths(tmp_path)
    assert without_spark_archives(path) == [user_zip, site]


def test_filter_keeps_path_on_version_mismatch(tmp_path):
    path, _, _ = _fake_paths(tmp_path, zip_version=b"__version__: str = '4.0.0'\n")
    assert without_spark_archives(path) == path


def test_filter_keeps_path_without_directory_pyspark(tmp_path):
    path, _, _ = _fake_paths(tmp_path, site_pyspark=False)
    assert without_spark_archives(path) == path


def test_package_import_loads_no_pyspark():
    code = (
        f"import sys; sys.path.insert(0, {REPO!r}); import emulating_hadoop_with_mpi_spark; "
        "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))"
    )
    out = subprocess.run([sys.executable, "-I", "-c", code], capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "[]"


class _Builder:
    """Records what get_spark configures instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


def _built_conf(monkeypatch, **kwargs) -> dict[str, str]:
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    return session.get_spark(**kwargs)


def test_local_master_starts_workers_from_worker_daemon(monkeypatch):
    conf = _built_conf(monkeypatch, master="local[2]")
    assert conf["spark.python.daemon.module"] == "emulating_hadoop_with_mpi_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == REPO


def test_non_local_master_keeps_spark_daemon(monkeypatch):
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        conf = _built_conf(monkeypatch, master=master)
        assert "spark.python.daemon.module" not in conf
        assert "spark.executorEnv.PYTHONPATH" not in conf


def test_extra_conf_overrides_worker_conf(monkeypatch):
    conf = _built_conf(
        monkeypatch,
        master="local[2]",
        extra_conf={"spark.python.daemon.module": "pyspark.daemon", "spark.executorEnv.PYTHONPATH": "/x"},
    )
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == "/x"


def test_master_none_keeps_the_launch_master(monkeypatch):
    """A plain ``python`` launch gets ``local[$SPARK_GRAFT_CPUS]`` and
    ``worker_daemon``; a launch master (spark-submit's) is kept, and the
    worker settings follow it."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.python.daemon.module"] == "emulating_hadoop_with_mpi_spark.worker_daemon"
    monkeypatch.setattr(session, "_launch_master", lambda: "spark://host:7077")
    conf = _built_conf(monkeypatch)
    assert conf["spark.master"] == "spark://host:7077"
    assert "spark.python.daemon.module" not in conf
    assert _built_conf(monkeypatch, master="local[2]")["spark.master"] == "local[2]"


def test_spark_submit_master_is_honoured(tmp_path):
    """``spark-submit --master local[1]`` on a script that calls
    ``get_spark()`` runs on ``local[1]``, whatever ``SPARK_GRAFT_CPUS``
    says, and its Python workers still start from ``worker_daemon``."""
    script = tmp_path / "submitted.py"
    script.write_text(
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from emulating_hadoop_with_mpi_spark import get_spark\n"
        "spark = get_spark(app_name='submitted')\n"
        "print('MASTER=' + spark.sparkContext.master)\n"
        "print('DAEMON=' + spark.conf.get('spark.python.daemon.module', ''))\n"
        "spark.stop()\n"
    )
    import pyspark

    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    submit = os.path.join(spark_home, "bin", "spark-submit")
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2", "PYSPARK_PYTHON": sys.executable,
           "PYSPARK_DRIVER_PYTHON": sys.executable}
    out = subprocess.run(
        [submit, "--master", "local[1]", str(script)],
        capture_output=True, text=True, env=env, timeout=300, check=True,
    ).stdout.splitlines()
    assert "MASTER=local[1]" in out, out
    assert "DAEMON=emulating_hadoop_with_mpi_spark.worker_daemon" in out, out
