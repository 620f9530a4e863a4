"""SparkSession builder tuned for this engine.

Local mode defaults to one Spark core per CPU this process may run on
(``SPARK_GRAFT_CPUS`` overrides it); the same settings transfer to cluster
mode except master/memory, which spark-submit supplies. Under spark-submit
the submitted master is kept unless the caller or ``SPARK_GRAFT_MASTER``
names one.

Python daemon: on a local master that this process launches itself,
Spark starts its Python workers through ``pycorrector_spark.daemon``,
which imports pyspark from the installed package instead of compiling it
from ``pyspark.zip`` and leaves the forked workers no zip finders to
re-read: ~1 s off every cold SparkContext on a 4-vCPU host. The daemon must be
importable when Spark starts it, so it is used only where
``pycorrector_spark`` (this copy) is on the daemon's start-up path: the
working directory, ``PYTHONPATH`` or the site directories. Under
spark-submit (the package may only arrive per task with ``--py-files``)
and on cluster masters, pyspark's own daemon stays.
"""

from __future__ import annotations

import importlib.machinery
import os
import site

from pyspark.sql import SparkSession

DAEMON_MODULE = "pycorrector_spark.daemon"


def resolve_master(master: str = None) -> tuple:
    """(master URL, local core count) from the argument, then
    ``SPARK_GRAFT_MASTER``, then ``local[SPARK_GRAFT_CPUS]``, then one core
    per CPU in this process's affinity mask. ``local`` runs one core and
    ``local[N,F]`` N cores; any other master without a plain core count
    (``local[*]``, a cluster URL) counts as the affinity-mask CPU count."""
    host_cores = len(os.sched_getaffinity(0))
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or host_cores}]"
    )
    if master == "local":
        return master, 1
    try:
        n_cores = int(master.split("[")[-1].rstrip("]").split(",")[0])
    except ValueError:
        n_cores = host_cores
    return master, n_cores


def _submitted_master():
    """The master spark-submit gave this driver, or None when this process
    was not launched by spark-submit."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # SparkConf reads the JVM's only once connected
    return SparkConf().get("spark.master", None)


def daemon_conf(master: str) -> dict:
    """``spark.python.daemon.module`` for ``master``, or nothing where the
    daemon could not import ``pycorrector_spark.daemon`` at start."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        return {}
    if master != "local" and not master.startswith("local["):
        return {}
    # what a daemon started by this process's JVM sees before any task
    # runs: its working directory, PYTHONPATH and the site directories
    pythonpath = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    start_path = [os.getcwd(), *pythonpath, *site.getsitepackages(), site.getusersitepackages()]
    spec = importlib.machinery.PathFinder.find_spec("pycorrector_spark", start_path)
    here = os.path.dirname(os.path.realpath(__file__))
    if spec is None or spec.origin is None or os.path.dirname(os.path.realpath(spec.origin)) != here:
        return {}
    return {"spark.python.daemon.module": DAEMON_MODULE}


def get_spark(
    app_name: str = "pycorrector_spark",
    master: str = None,
    shuffle_partitions: int = None,
    extra_conf: dict = None,
) -> SparkSession:
    if master is None and not os.environ.get("SPARK_GRAFT_MASTER"):
        master = _submitted_master()
    master, n_cores = resolve_master(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * n_cores, 8)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in {**daemon_conf(master), **(extra_conf or {})}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
