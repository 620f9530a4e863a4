"""The one way a Python stage runs: ``python_stage(df, fn, schema)``.

It is the only caller of ``mapInPandas``, so per-task costs that every
stage pays live here once. Today that is the task-end zip-finder release
(``daemon._release_zip_finders``): a task that imports from a zip caches
finders that the next task's ``importlib.invalidate_caches()`` re-reads.
Workers forked from ``pycorrector_spark.daemon`` start with none, so even
a worker's first task re-reads nothing; under pyspark's own daemon
(spark-submit, cluster masters) the first task on each worker still
re-reads pyspark.zip and the spark-core jar, 0.18-0.38 s, and the release
spares every later one.

``python_stage`` never repartitions: the url-hash score stage and
curation's range-partitioned cumsum mean something by their
partitioning. Stages that only want every core busy call
``ensure_parallelism`` first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .daemon import _release_zip_finders


def ensure_parallelism(df: DataFrame, min_parts: int = None) -> DataFrame:
    """Round-robin repartition when the scan produced too few partitions.

    Small parquet inputs arrive as 1 split, which would serialize every
    downstream Arrow/Python stage onto one core. At 100 TB the scan
    yields thousands of splits and this is a no-op.
    """
    if min_parts is None:
        min_parts = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        return df.repartition(min_parts)
    return df


def python_stage(df: DataFrame, fn, schema) -> DataFrame:
    """``df.mapInPandas(fn, schema)`` with the task-end finder release."""
    return df.mapInPandas(_task(fn), schema)


def _task(fn):
    """``fn``'s task iterator, releasing the zip finders however the task
    ends: exhausted, raised, or closed early by a downstream limit."""

    def task(iterator):
        try:
            yield from fn(iterator)
        finally:
            _release_zip_finders()

    return task
