"""Master / core-count derivation of ``session.get_spark`` (no session
is started)."""

import os

import pytest

from pycorrector_spark.session import resolve_master

HOST_CORES = len(os.sched_getaffinity(0))


@pytest.fixture
def clean_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    return monkeypatch


def test_default_is_one_core_per_usable_cpu(clean_env):
    assert resolve_master() == (f"local[{HOST_CORES}]", HOST_CORES)


def test_env_and_argument_override(clean_env):
    clean_env.setenv("SPARK_GRAFT_CPUS", "3")
    assert resolve_master() == ("local[3]", 3)
    clean_env.setenv("SPARK_GRAFT_MASTER", "local[2]")
    assert resolve_master() == ("local[2]", 2)
    assert resolve_master("local[5]") == ("local[5]", 5)


@pytest.mark.parametrize("master,cores", [("local", 1), ("local[3,2]", 3)])
def test_local_core_counts(clean_env, master, cores):
    """``local`` runs one thread; ``local[N,F]`` runs N (F is the task
    retry count)."""
    assert resolve_master(master) == (master, cores)


@pytest.mark.parametrize("master", ["local[*]", "local[*,3]", "local[x]", "spark://head:7077"])
def test_unparsable_core_counts_fall_back_to_host_cores(clean_env, master):
    assert resolve_master(master) == (master, HOST_CORES)
