"""Session helpers: conf parsing, the local-session checkpoint manager,
and the local-session Python worker launcher -- workers import the
compiled pyspark the driver uses instead of ``$SPARK_HOME``'s
bytecode-less ``pyspark.zip``, and every case outside the guard keeps
the stock ``sc.pythonExec``."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile
from types import SimpleNamespace

import pyspark
import pytest
from pyspark.sql import functions as F

from kafka_bigdata_jobs_spark import _blas, session
from kafka_bigdata_jobs_spark.session import (
    _conf_int,
    _zip_pyspark_version,
    install_worker_launcher,
)

CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FS_MANAGER = ("org.apache.spark.sql.execution.streaming.checkpointing."
              "FileSystemBasedCheckpointFileManager")


class _StubConf(dict):
    """``spark.conf``'s ``get(key, default)`` over a dict."""

    def get(self, key, default=None):
        return super().get(key, default)


def test_conf_int_falls_back_on_unset_and_non_integer():
    conf = _StubConf({"spark.sql.shuffle.partitions": "auto",
                      "spark.sql.files.minPartitionNum": "12"})
    assert _conf_int(conf, "spark.sql.shuffle.partitions", 200) == 200
    assert _conf_int(conf, "spark.sql.files.minPartitionNum", 4) == 12
    assert _conf_int(conf, "spark.sql.files.maxPartitionNum", 4) == 4


def test_conf_int_on_live_conf(spark):
    assert _conf_int(spark.conf, "spark.sql.shuffle.partitions", 200) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    assert _conf_int(spark.conf, "spark.sql.files.minPartitionNum", 7) == 7


def test_local_session_uses_filesystem_checkpoint_manager(spark):
    assert spark.conf.get(CKPT_MANAGER, None) == FS_MANAGER


class _RecordingBuilder:
    """``SparkSession.builder``'s chain as ``get_spark`` calls it,
    recording the confs instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        sc = SimpleNamespace(_kbj_launcher_checked=True)
        return SimpleNamespace(sparkContext=sc)


def _built_conf(monkeypatch, **kwargs) -> dict:
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    monkeypatch.setattr(_blas, "export_worker_env", lambda: {})
    session.get_spark(**kwargs)
    return builder.conf


def test_checkpoint_manager_only_on_local_masters(monkeypatch):
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        assert CKPT_MANAGER not in _built_conf(monkeypatch, master=master)
    assert _built_conf(monkeypatch, master="local[2]")[CKPT_MANAGER] == FS_MANAGER


def test_extra_conf_overrides_checkpoint_manager(monkeypatch):
    fc = ("org.apache.spark.sql.execution.streaming.checkpointing."
          "FileContextBasedCheckpointFileManager")
    conf = _built_conf(monkeypatch, master="local[2]",
                       extra_conf={CKPT_MANAGER: fc})
    assert conf[CKPT_MANAGER] == fc


def _fake_spark_home(root, version: str) -> str:
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(root)


def _stub_sc(master: str, spark_home: str):
    """Just the SparkContext surface install_worker_launcher reads."""
    system = SimpleNamespace(getenv={"SPARK_HOME": spark_home}.get)
    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system)))
    return SimpleNamespace(master=master, pythonExec=sys.executable, _jvm=jvm)


@pytest.fixture
def own_tmpdir(tmp_path, monkeypatch):
    """Launchers are named per pid: keep these away from the live
    session's launcher in the shared temp dir."""
    d = tmp_path / "tmp"
    d.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(d))
    return d


def test_version_mismatch_keeps_python_exec(tmp_path, own_tmpdir):
    sc = _stub_sc("local[2]", _fake_spark_home(tmp_path / "home", "0.0.1"))
    install_worker_launcher(sc)
    assert sc.pythonExec == sys.executable
    assert list(own_tmpdir.iterdir()) == []


def test_non_local_master_keeps_python_exec(tmp_path, own_tmpdir):
    home = _fake_spark_home(tmp_path / "home", pyspark.__version__)
    for master in ("spark://host:7077", "yarn", "k8s://https://host:443"):
        sc = _stub_sc(master, home)
        install_worker_launcher(sc)
        assert sc.pythonExec == sys.executable, master
    assert list(own_tmpdir.iterdir()) == []


def test_launcher_removes_only_the_zip_entry(tmp_path, own_tmpdir):
    home = _fake_spark_home(tmp_path / "home", pyspark.__version__)
    zip_entry = os.path.join(home, "python", "lib", "pyspark.zip")
    sc = _stub_sc("local[2]", home)
    install_worker_launcher(sc)
    assert os.path.dirname(sc.pythonExec) == str(own_tmpdir)
    # Installed once per SparkContext: a second call changes nothing.
    launcher = sc.pythonExec
    install_worker_launcher(sc)
    assert sc.pythonExec == launcher

    entries = ["/a", zip_entry, "/b", "", "/c with space", zip_entry + "x"]
    out = subprocess.run(
        [launcher, "-c", "import os; print(os.environ['PYTHONPATH'])"],
        env={**os.environ, "PYTHONPATH": os.pathsep.join(entries)},
        capture_output=True, text=True, check=True, timeout=60)
    kept = [e for e in entries if e != zip_entry]
    assert out.stdout.rstrip("\n") == os.pathsep.join(kept)


def test_zip_version_parse(tmp_path):
    home = _fake_spark_home(tmp_path, "4.1.2")
    assert _zip_pyspark_version(
        os.path.join(home, "python", "lib", "pyspark.zip")) == "4.1.2"
    assert _zip_pyspark_version(str(tmp_path / "missing.zip")) is None


def test_session_workers_import_compiled_pyspark(spark):
    """The live test session: when the guard holds here, its Python
    workers report a pyspark outside SPARK_HOME and a PYTHONPATH that
    lost only the zip entry."""
    sc = spark.sparkContext
    home = sc._jvm.java.lang.System.getenv("SPARK_HOME")
    zip_entry = os.sep.join([home or "", "python", "lib", "pyspark.zip"])
    real_home = os.path.realpath(home) if home else None
    pkg = os.path.realpath(os.path.dirname(pyspark.__file__))
    if (not home or _zip_pyspark_version(zip_entry) != pyspark.__version__
            or os.path.commonpath([pkg, real_home]) == real_home):
        pytest.skip("launcher guard does not hold on this install")
    assert os.path.basename(sc.pythonExec).startswith("kbj_spark_python_")

    def report(_):
        import os

        import pyspark

        yield pyspark.__file__, os.environ.get("PYTHONPATH", "")

    [(worker_file, worker_path)] = (
        sc.parallelize([0], 1).mapPartitions(report).collect())
    worker_pkg = os.path.realpath(os.path.dirname(worker_file))
    assert worker_pkg == pkg
    assert os.path.commonpath([worker_pkg, real_home]) != real_home
    entries = worker_path.split(os.pathsep)
    assert zip_entry not in entries
    assert any(e.endswith(".zip") and "py4j" in e for e in entries)

    @F.udf("string")
    def where(_):
        import pyspark

        return pyspark.__file__

    [row] = spark.range(1).select(where("id").alias("f")).collect()
    assert os.path.realpath(os.path.dirname(row.f)) == pkg
