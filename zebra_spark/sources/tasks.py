"""Driver-planned Python tasks: one Spark stage, one task per split group.

Sources that hand work to Python workers by *reference* (parquet row
groups, zebra files) plan that work on the driver:

- ``pack_splits`` groups splits into tasks with Spark's own file-partition
  rule (``FilePartition.maxSplitBytes`` / ``getFilePartitions``): splits
  sorted largest first, filled next-fit into tasks of at most
  ``min(maxPartitionBytes, max(openCost, Σ(bytes + openCost) / parallelism))``,
  each split also charged ``openCost``.  So a handful of uniform splits
  gets one task per core and a large input gets ``maxPartitionBytes``-sized
  tasks, as ``spark.read.parquet`` packs whole files.
- ``map_tasks`` feeds the tasks from ``spark.range(n, numPartitions=n)``:
  partition ``i`` holds the single id ``i``, which indexes the plan.  The
  source is JVM-only, so the job has no PythonRDD stage and no Exchange —
  a ``createDataFrame(list).repartition(n)`` source costs an extra Python
  task per input slice plus a round-robin shuffle, and round-robin does
  not even place one row per partition.

Every Python task pays a fixed start-up cost before its function runs
(~0.19 worker CPU-s on a 4-core x86 VM: ``setup_spark_files`` calls
``importlib.invalidate_caches()``, which re-reads the archive behind each
of pyspark's zipimporters), so fewer, fuller tasks are the cheap layout.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, Sequence, TypeVar

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession

T = TypeVar("T")


def pack_splits(
    sizes: Sequence[int],
    max_partition_bytes: int,
    open_cost: int,
    parallelism: int,
) -> list[list[int]]:
    """Group split indices into tasks (Spark's Next Fit Decreasing).

    Deterministic: equal sizes keep their input order, and tasks come out
    in fill order."""
    total = sum(s + open_cost for s in sizes)
    max_split = min(max_partition_bytes, max(open_cost, total // parallelism))
    tasks: list[list[int]] = []
    cur: list[int] = []
    cur_bytes = 0
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        if cur and cur_bytes + sizes[i] > max_split:
            tasks.append(cur)
            cur, cur_bytes = [], 0
        cur.append(i)
        cur_bytes += sizes[i] + open_cost
    if cur:
        tasks.append(cur)
    return tasks


def plan_tasks(
    spark: SparkSession, splits: Sequence[T], sizes: Sequence[int]
) -> list[list[T]]:
    """``pack_splits`` under the session's ``spark.sql.files.*`` settings
    and default parallelism; returns the splits themselves, grouped."""
    conf = spark._jsparkSession.sessionState().conf()
    groups = pack_splits(
        sizes,
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        spark.sparkContext.defaultParallelism,
    )
    return [[splits[i] for i in g] for g in groups]


def plan_file_tasks(
    spark: SparkSession, paths: Sequence[str]
) -> list[list[tuple[int, str]]]:
    """Whole files as splits (each is read as one stream), sized by their
    on-disk bytes; returns groups of (position in ``paths``, path)."""
    sizes = [os.path.getsize(p) for p in paths]
    return plan_tasks(spark, list(enumerate(paths)), sizes)


def map_tasks(
    spark: SparkSession,
    tasks: Sequence[T],
    fn: Callable[[T], Iterator[pa.RecordBatch]],
    schema,
) -> DataFrame:
    """One stage of ``len(tasks)`` Python tasks; task ``i`` yields
    ``fn(tasks[i])`` as rows of ``schema`` (DDL string or StructType)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            for i in rb.column("id").to_pylist():
                yield from fn(tasks[i])

    return spark.range(len(tasks), numPartitions=max(1, len(tasks))).mapInArrow(
        run, schema=schema
    )
