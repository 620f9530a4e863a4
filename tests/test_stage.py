"""python_stage: the one owner of mapInPandas and of the task-end finder
release."""

import ast
import sys
import zipfile
import zipimport
from pathlib import Path

import pandas as pd
import pytest

from pycorrector_spark.stage import _task

ROOT = Path(__file__).resolve().parents[1]
FRAMES = [pd.DataFrame({"x": [i, i + 1]}) for i in range(0, 6, 2)]


def _zip_finders():
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]


@pytest.fixture
def cached_zip_finder(tmp_path):
    """A zipimporter in sys.path_importer_cache, as a reused worker has."""
    archive = str(tmp_path / "zpkg.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("zpkg/__init__.py", "")
    sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
    yield
    sys.path_importer_cache.pop(archive, None)


def _double(it):
    for pdf in it:
        yield pdf * 2


def test_task_end_releases_finders(cached_zip_finder):
    out = list(_task(_double)(iter(FRAMES)))
    assert [o["x"].tolist() for o in out] == [[0, 2], [4, 6], [8, 10]]
    assert _zip_finders() == []


def test_failed_task_releases_finders_and_raises(cached_zip_finder):
    def boom(it):
        yield next(it)
        raise ValueError("bad batch")

    with pytest.raises(ValueError, match="bad batch"):
        list(_task(boom)(iter(FRAMES)))
    assert _zip_finders() == []


def test_task_closed_early_releases_finders(cached_zip_finder):
    task = _task(_double)(iter(FRAMES))
    assert next(task)["x"].tolist() == [0, 2]
    assert _zip_finders() != []  # the task has not ended yet
    task.close()
    assert _zip_finders() == []


def test_only_stage_module_calls_map_in_pandas():
    """Every Python stage goes through stage.python_stage: no other module
    of the package, nor the registry, touches mapInPandas."""
    stage = ROOT / "pycorrector_spark" / "stage.py"
    files = sorted((ROOT / "pycorrector_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    uses = {}
    for f in files:
        tree = ast.parse(f.read_text(encoding="utf-8"), str(f))
        lines = [n.lineno for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr == "mapInPandas"]
        if lines:
            uses[str(f.relative_to(ROOT))] = lines
    assert list(uses) == [str(stage.relative_to(ROOT))], uses
