"""Corpus export sink: sharded, pruning-friendly parquet writes.

The domain pipeline's warehouse writes (pipeline.py) are
day/month-partitioned with dynamic overwrite; this module is the
other sink a training-data pipeline needs — bulk-exporting a curated
corpus for downstream consumers (tokenizer workers, trainers) where
the file LAYOUT is the contract:

- ``maxRecordsPerFile`` caps shard size so one output task cannot
  emit a multi-GB file (reader parallelism floor), while the shard
  count ceiling comes from the write parallelism (small-files
  guard: ``n_shards`` repartitions to exactly that many tasks);
- ``order_cols`` range-repartitions + sorts within shards, so the
  written row groups carry tight min/max stats on those columns and
  later scans with range predicates prune files without an index.

At 100 TB the writer is single-shuffle (the optional
range-repartition); the write itself is embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _shaped(
    df: DataFrame,
    n_shards: int | None,
    order_cols: list[str] | None,
) -> DataFrame:
    if order_cols:
        df = (
            df.repartitionByRange(n_shards, *order_cols)
            if n_shards
            else df.repartitionByRange(*order_cols)
        )
        return df.sortWithinPartitions(*order_cols)
    if n_shards:
        return df.repartition(n_shards)
    return df


def export_sharded_parquet(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    max_records_per_file: int | None = None,
    order_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write ``df`` as parquet shards: at most ``n_shards`` files per
    partition dir (write parallelism), each capped at
    ``max_records_per_file`` rows, optionally range-clustered on
    ``order_cols`` for min/max file pruning."""
    writer = _shaped(df, n_shards, order_cols).write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)
