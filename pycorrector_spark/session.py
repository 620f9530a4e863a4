"""SparkSession builder tuned for this engine.

Local mode defaults to one Spark core per CPU this process may run on
(``SPARK_GRAFT_CPUS`` overrides it); the same settings transfer to cluster
mode except master/memory, which spark-submit supplies.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def resolve_master(master: str = None) -> tuple:
    """(master URL, local core count) from the argument, then
    ``SPARK_GRAFT_MASTER``, then ``local[SPARK_GRAFT_CPUS]``, then one core
    per CPU in this process's affinity mask. Any master without a plain
    ``local[N]`` core count (``local[*]``, a cluster URL) counts as the
    affinity-mask CPU count."""
    host_cores = len(os.sched_getaffinity(0))
    master = (
        master
        or os.environ.get("SPARK_GRAFT_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS') or host_cores}]"
    )
    try:
        n_cores = int(master.split("[")[-1].rstrip("]"))
    except ValueError:
        n_cores = host_cores
    return master, n_cores


def get_spark(
    app_name: str = "pycorrector_spark",
    master: str = None,
    shuffle_partitions: int = None,
    extra_conf: dict = None,
) -> SparkSession:
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
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
