"""dd7 adaptive clustering: the driver union-find fast path (small
candidate graphs) and the distributed label-propagation scale path
must produce identical clusters."""

from __future__ import annotations

import inpe_queimadas_etl_spark.corpus_ops as C

SF0001 = "/root/testdata/sf0.001"


def test_dd7_loop_path_matches_fast_path(spark, monkeypatch):
    fast = C.dd7_dedup_clusters(spark, SF0001).collect()
    # force the distributed propagation regardless of graph size
    monkeypatch.setattr(C, "_DD7_DRIVER_EDGE_LIMIT", -1)
    loop = C.dd7_dedup_clusters(spark, SF0001).collect()
    key = lambda r: (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])  # noqa: E731
    assert sorted(map(key, fast)) == sorted(map(key, loop))
    # sanity: the corpus actually has multi-doc clusters
    assert any(r["cluster_size"] > 1 for r in fast)
