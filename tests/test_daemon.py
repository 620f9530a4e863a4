"""pycorrector_spark.daemon and where get_spark uses it: the start-up
path rule, the session decision (no session started), and one task on
the shared session."""

import importlib.metadata
import zipfile
from pathlib import Path

import pandas as pd
import pytest

from pycorrector_spark.daemon import startup_path
from pycorrector_spark.session import DAEMON_MODULE, daemon_conf

ROOT = Path(__file__).resolve().parents[1]
INSTALLED = importlib.metadata.version("pyspark")
CONF = {"spark.python.daemon.module": DAEMON_MODULE}


def _spark_zips(tmp_path, version):
    pyspark_zip = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as zf:
        zf.writestr("pyspark/version.py", f"__version__: str = {version!r}\n")
    py4j_zip = str(tmp_path / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as zf:
        zf.writestr("py4j/__init__.py", "")
    return pyspark_zip, py4j_zip


def test_same_version_moves_zips_after_other_entries(tmp_path):
    pyspark_zip, py4j_zip = _spark_zips(tmp_path, INSTALLED)
    path = ["/work", pyspark_zip, py4j_zip, "/spark/jars/core.jar", "/lib/python3", "/site"]
    assert startup_path(path) == [
        "/work", "/spark/jars/core.jar", "/lib/python3", "/site", pyspark_zip, py4j_zip]


def test_other_version_leaves_path(tmp_path):
    path = ["/work", *_spark_zips(tmp_path, INSTALLED + ".dev0"), "/site"]
    assert startup_path(path) == path


def test_no_installed_pyspark_leaves_path(tmp_path, monkeypatch):
    def missing(name):
        raise importlib.metadata.PackageNotFoundError(name)

    monkeypatch.setattr(importlib.metadata, "version", missing)
    path = ["/work", *_spark_zips(tmp_path, INSTALLED), "/site"]
    assert startup_path(path) == path


def test_no_zip_leaves_path(tmp_path):
    _, py4j_zip = _spark_zips(tmp_path, INSTALLED)
    for path in (["/work", "/site"], ["/work", py4j_zip, "/site"],
                 ["/work", str(tmp_path / "absent" / "pyspark.zip"), "/site"]):
        assert startup_path(path) == path


@pytest.fixture
def local_driver(monkeypatch):
    """A driver this process launches itself, run from the repo root."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(ROOT)
    return monkeypatch


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[2,3]"])
def test_local_master_uses_daemon(local_driver, master):
    assert daemon_conf(master) == CONF


@pytest.mark.parametrize("master", ["yarn", "spark://head:7077", "local-cluster[2,1,1024]"])
def test_non_local_master_keeps_pyspark_daemon(local_driver, master):
    assert daemon_conf(master) == {}


def test_spark_submit_keeps_pyspark_daemon(local_driver):
    local_driver.setenv("PYSPARK_GATEWAY_PORT", "40000")
    assert daemon_conf("local[2]") == {}


def test_package_not_findable_keeps_pyspark_daemon(local_driver, tmp_path):
    local_driver.chdir(tmp_path)
    assert daemon_conf("local[2]") == {}
    local_driver.setenv("PYTHONPATH", str(ROOT))
    assert daemon_conf("local[2]") == CONF


def test_other_copy_first_keeps_pyspark_daemon(local_driver, tmp_path):
    """The daemon would import whichever copy comes first on its path."""
    (tmp_path / "pycorrector_spark").mkdir()
    (tmp_path / "pycorrector_spark" / "__init__.py").write_text("")
    local_driver.chdir(tmp_path)
    local_driver.setenv("PYTHONPATH", str(ROOT))
    assert daemon_conf("local[2]") == {}


def test_task_imports_installed_pyspark(spark):
    from pycorrector_spark.stage import python_stage

    def where(it):
        import pyspark

        for _ in it:
            pass
        yield pd.DataFrame({"f": [pyspark.__file__]})

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE
    files = {r.f for r in python_stage(spark.range(4, numPartitions=2), where, "f string").collect()}
    assert files and all("pyspark.zip" not in f for f in files), files
