"""Export sink: shard caps, range clustering, and round-trip
fidelity are the layout contract a downstream trainer relies on."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from inpe_queimadas_etl_spark.export import export_sharded_parquet
from inpe_queimadas_etl_spark.session import load_table

SF0001 = "/root/testdata/sf0.001"


def test_sharded_parquet_caps_records_and_roundtrips(spark, tmp_path):
    docs = load_table(spark, SF0001, "documents")
    n = docs.count()
    out = str(tmp_path / "corpus")
    export_sharded_parquet(
        docs, out, n_shards=2, max_records_per_file=20
    )
    files = sorted(Path(out).glob("*.parquet"))
    assert files, "no parquet shards written"
    per_file = [pq.read_metadata(str(f)).num_rows for f in files]
    assert all(c <= 20 for c in per_file), per_file
    assert sum(per_file) == n
    assert spark.read.parquet(out).count() == n


def test_range_clustered_shards_have_tight_minmax(spark, tmp_path):
    docs = load_table(spark, SF0001, "documents")
    out = str(tmp_path / "clustered")
    export_sharded_parquet(docs, out, n_shards=4, order_cols=["doc_id"])
    ranges = []
    for f in sorted(Path(out).glob("*.parquet")):
        md = pq.read_metadata(str(f))
        if md.num_rows == 0:
            continue
        idx = md.schema.names.index("doc_id")
        stats = md.row_group(0).column(idx).statistics
        lo = stats.min
        hi = pq.read_metadata(str(f)).row_group(md.num_row_groups - 1).column(idx).statistics.max
        ranges.append((lo, hi))
    # range clustering => file key ranges are disjoint (prunable)
    ranges.sort()
    for (_, hi_a), (lo_b, _) in zip(ranges, ranges[1:]):
        assert hi_a < lo_b, ranges


def test_partitioned_export_writes_partition_dirs(spark, tmp_path):
    docs = load_table(spark, SF0001, "documents")
    out = str(tmp_path / "bylang")
    export_sharded_parquet(docs, out, n_shards=1, partition_cols=["lang"])
    langs = {p.name.split("=")[1] for p in Path(out).glob("lang=*")}
    expect = {r["lang"] for r in docs.select("lang").distinct().collect()}
    assert langs == expect
    assert spark.read.parquet(out).count() == docs.count()
