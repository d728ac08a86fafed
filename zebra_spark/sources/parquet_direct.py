"""Direct-read parquet encode: distribute row-group splits, read in-worker.

``encode_df`` (operators/encode.py) pipes rows JVM -> Arrow -> Python; that
double hop costs a full serialization of the input.  For the pure encode
job — where Python reads, encodes, and emits only small block rows — the
idiomatic high-throughput layout is to ship *splits* (file, row-group), not
rows: each task opens its split with pyarrow (local FS here; HDFS/S3
filesystems on a cluster) and streams batches straight into the codec.
This is exactly how Spark's own DataSourceV2 readers, and zebra's 1 MiB
chunked file streaming (zebra-core/src/Zebra/Serial/Binary/File.hs:104-126),
keep the scan on the worker.

One encode is one Spark job of one stage: the driver packs the row groups
into tasks by Spark's file-partition rule (``tasks.plan_tasks``), and a
JVM-only source starts one Python task per group (``tasks.map_tasks``).
Row-group granularity gives free partition pruning, and block ids
(``file:row_group:seq``) do not depend on the grouping.
"""

from __future__ import annotations

import glob
import os
from typing import Iterator

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession

from ..operators.encode import BLOCKS_DDL, encode_chunk_rows
from .tasks import map_tasks, plan_tasks


def _row_group_splits(path: str) -> tuple[list[tuple[str, int]], list[int]]:
    """(file, row group) splits in file order, and each split's compressed
    bytes (the size Spark's planner would give its byte range)."""
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) or [path]
    splits: list[tuple[str, int]] = []
    sizes: list[int] = []
    for f in files:
        md = pq.ParquetFile(f, memory_map=True).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            splits.append((f, rg))
            cols = range(g.num_columns)
            sizes.append(sum(g.column(c).total_compressed_size for c in cols))
    return splits, sizes


def list_row_groups(path: str) -> list[tuple[str, int]]:
    return _row_group_splits(path)[0]


def plan_row_groups(spark: SparkSession, path: str) -> list[list[tuple[str, int]]]:
    """The row-group splits of ``path`` grouped into Spark-sized tasks."""
    return plan_tasks(spark, *_row_group_splits(path))


def _read_split(split: tuple[str, int], columns: list[str] | None) -> pa.Table:
    p, rg = split
    # memory_map: page-cache reads without userspace copies — measured
    # ~7% off the tokens-column decode (guide §6)
    return pq.ParquetFile(p, memory_map=True).read_row_group(rg, columns=columns)


def _table_blocks(
    table: pa.Table, split: tuple[str, int], rows_per_block: int, max_block_values: int
) -> Iterator[pa.RecordBatch]:
    # one state per row group: block_id seq stays unique across chunks and
    # the schema bytes ship once per row group
    state = {"seq": 0}
    tag = f"{os.path.basename(split[0])}:{split[1]}"
    for chunk in table.to_batches(max_chunksize=rows_per_block):
        yield from encode_chunk_rows(
            chunk, task_tag=tag, max_block_values=max_block_values, _state=state
        )


def _encode_split(
    split: tuple[str, int],
    columns: list[str] | None,
    rows_per_block: int,
    max_block_values: int,
) -> Iterator[pa.RecordBatch]:
    # each split in its own frame: its table is freed before the task
    # reads the next split
    table = _read_split(split, columns)
    yield from _table_blocks(table, split, rows_per_block, max_block_values)


def encode_parquet_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
    max_block_values: int = 1 << 22,
    columns: list[str] | None = None,
) -> DataFrame:
    """Encode a parquet dataset without the JVM->Python row hop.

    Returns the same blocks DataFrame as ``encode_df``.
    """

    def encode_task(task: list[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        from ..codec.warmup import warm_codec

        warm_codec()
        for split in task:
            yield from _encode_split(split, columns, rows_per_block, max_block_values)

    return map_tasks(spark, plan_row_groups(spark, path), encode_task, BLOCKS_DDL)


def _fold_split(split: tuple[str, int], rows_per_block: int, tot: dict) -> None:
    table = _read_split(split, None)
    if "n_tok" in table.column_names:
        tot["tok"] += int(table.column("n_tok").to_numpy().sum())
    for blk in _table_blocks(table, split, rows_per_block, 1 << 22):
        tot["rows"] += blk.column("n_rows")[0].as_py()
        tot["raw"] += blk.column("raw_bytes")[0].as_py()
        tot["enc"] += blk.column("enc_bytes")[0].as_py()
        tot["zebra"] += blk.column("zebra_bytes")[0].as_py()


def encode_metrics_direct(
    spark: SparkSession,
    path: str,
    rows_per_block: int = 1 << 16,
) -> DataFrame:
    """Encode a parquet dataset and return per-TASK codec metric sums
    (rows/raw/enc/zebra bytes + token count) — the dry-run / size-estimate
    job, and the scaling-bench leg.  Tasks are planned as in
    ``encode_parquet_direct``.

    Unlike ``encode_parquet_direct`` + a JVM-side aggregate, the fold over
    block rows happens IN the encode task (python-side), so encoded
    payloads never cross the Arrow socket: one tiny row per task reaches
    the JVM.  This mirrors the production sink shape — write_zebra_files
    also streams payloads to storage from python and ships only manifest
    rows — and matters for measurement: at local[4] on a 4-core host
    grant, JVM ingest of ~300 MB of payload rows steals ~1 s from the
    python workers (measured r6), polluting the N-vs-4N wall ratio with
    sink cost that a per-executor sink would overlap.
    """

    def fold_task(task: list[tuple[str, int]]) -> Iterator[pa.RecordBatch]:
        from ..codec.warmup import warm_codec

        warm_codec()
        tot = {"rows": 0, "raw": 0, "enc": 0, "zebra": 0, "tok": 0}
        for split in task:
            _fold_split(split, rows_per_block, tot)
        yield pa.RecordBatch.from_pydict(
            {
                "n_rows": [tot["rows"]],
                "n_tokens": [tot["tok"]],
                "raw_bytes": [tot["raw"]],
                "enc_bytes": [tot["enc"]],
                "zebra_bytes": [tot["zebra"]],
            }
        )

    return map_tasks(
        spark,
        plan_row_groups(spark, path),
        fold_task,
        "n_rows long, n_tokens long, raw_bytes long, enc_bytes long, zebra_bytes long",
    )
