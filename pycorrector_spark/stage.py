"""The one way a Python stage runs: ``python_stage(df, fn, schema)``.

It is the only caller of ``mapInPandas``, so per-task costs that every
stage pays live here once. Today that is the task-end zip-finder release
(``_release_zip_finders``): without it, each task on a reused worker
re-reads pyspark.zip and the spark-core jar, 0.18-0.38 s per task.

``python_stage`` never repartitions: the url-hash score stage, the
streaming stage and curation's range-partitioned cumsum mean something by
their partitioning. Stages that only want every core busy call
``ensure_parallelism`` first.
"""

from __future__ import annotations

import sys
import zipimport

from pyspark.sql import DataFrame


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


def _release_zip_finders():
    """Drop every zipimporter from ``sys.path_importer_cache``.

    A reused Python worker starts each task with
    ``importlib.invalidate_caches()`` (pyspark ``setup_spark_files``). On
    CPython < 3.13 that re-reads the whole archive directory once per
    cached zipimporter, eagerly: each worker caches ~16 of them (pyspark.zip,
    the spark-core jar, py4j), 0.2-0.4 s per task. With none cached, the
    next task's call has nothing to re-read. A later import from a zip
    builds a fresh finder from ``zipimport._zip_directory_cache``, which is
    left alone, so the rebuild does not read the archive either.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)
