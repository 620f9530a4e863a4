"""Driver-contract smoke tests over the real testdata parquet at sf0.001:
entry() runs and returns rows with a stable schema; every queries() entry
executes; oracle_sql() and queries() have the same keys; every plan
the explain_plans tool captures names a real query; the paper's queries
sit inside the gate's first-50 window.
"""

import importlib.util
import os

import pytest

import __spark_entry__ as entry_mod
from pycorrector_spark.dictio import data_dir

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="driver testdata not present"
)


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns[0] == "url"
    assert len(rows) > 0


def test_oracle_keys_subset_of_queries():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    # every query has an oracle, and every oracle a query
    assert set(o) == set(q)


def test_explain_plans_queries_exist():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "explain_plans.py")
    spec = importlib.util.spec_from_file_location("explain_plans", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)  # module body only; main() starts Spark
    assert set(tool.QUERIES) <= set(entry_mod.queries())


PAPER_PATH = [
    "qf_langid", "qf_quality_signals", "qf_keep_cheap", "qf_scrub",
    "qf_lm_ppl", "qf_detect", "zh_correct_full", "zh_confusion", "zh_proper",
    "en_spell", "qf_pipeline_full", "qf_pipeline_pool", "resume_pipeline",
]


def test_paper_path_queries_in_gate_window():
    # the driver's gate records queries() in dict order and has capped at
    # 50 entries: the paper's path must sit inside that window
    window = list(entry_mod.queries())[:50]
    assert [q for q in PAPER_PATH if q not in window] == []


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_each_query_executes(spark, name):
    if name == "zh_homophones_full" and data_dir() is None:
        pytest.skip("reference data dir absent")
    fn = entry_mod.queries()[name]
    df = fn(spark, SF)
    n = df.count()  # forces full execution
    assert len(df.columns) > 0
    # every query produces rows at sf0.001 (a 0-row result would be a
    # vacuous pass downstream in the oracle gate)
    assert n > 0, f"{name} returned no rows at {SF}"
