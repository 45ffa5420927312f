"""dd12 (SemDeDup) semantics on planted geometry: the keeper is the
farthest-from-centroid member of each duplicate group, removal counts
follow the greedy order, and the documented cross-cluster blind spot
behaves exactly as documented (missed by dd12, caught by dd6-style
global verification)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark.operators.similarity import vec_norm
from inpe_queimadas_etl_spark.suite.llmdata import (
    _ivf_assign,
    semantic_dedup_removals,
)

# K=2 codebook = vec_ids 0,1. Cluster 0 carries a planted 4-way
# near-dup group {0, 10, 11, 12} (all pairwise cos >= 0.99); keeper
# order (csim ASC, vec_id ASC) is 12, 11, 10, 0 — so 12 survives.
# 20/21 are a cross-cluster near-dup pair (cos 0.96) split across the
# two clusters on purpose.
_VECS = {
    0: [1.0, 0.0, 0.0, 0.0],  # centroid 0; csim 1.0 -> pruned last
    1: [0.0, 1.0, 0.0, 0.0],  # centroid 1
    10: [1.0, 0.10, 0.0, 0.0],
    11: [1.0, 0.11, 0.0, 0.0],
    12: [1.0, 0.12, 0.0, 0.0],  # farthest from centroid 0 -> keeper
    20: [0.8, 0.6, 0.0, 0.0],  # cluster 0 (csim .8 vs .6)
    21: [0.6, 0.8, 0.0, 0.0],  # cluster 1; cos(20,21)=0.96
}


def _emb(spark):
    pdf = pd.DataFrame(
        {"vec_id": list(_VECS), "v": [list(map(float, v)) for v in _VECS.values()]}
    )
    return (
        spark.createDataFrame(pdf)
        .select("vec_id", F.col("v").cast("array<double>").alias("v"))
        .withColumn("nrm", vec_norm("v"))
    )


def test_planted_group_keeps_farthest_from_centroid(spark):
    out = {
        r["vec_id"]: r
        for r in semantic_dedup_removals(_emb(spark), k=2, tau=0.9).collect()
    }
    # exactly the three later-in-order members of the planted group
    assert set(out) == {0, 10, 11}
    assert out[11]["n_dups"] == 1  # preceded by 12
    assert out[10]["n_dups"] == 2  # preceded by 12, 11
    assert out[0]["n_dups"] == 3  # preceded by 12, 11, 10
    assert all(r["centroid_id"] == 0 for r in out.values())
    assert all(r["max_sim"] >= 0.99 for r in out.values())


def test_cluster_first_member_never_removed(spark):
    """Greedy invariant: the (csim ASC, vec_id ASC)-first vector of
    every cluster has no preceding neighbor, so it can never appear
    in the removal list — for any tau."""
    emb = _emb(spark)
    assigned = _ivf_assign(emb, k=2).toPandas()
    firsts = set(
        assigned.sort_values(["csim", "vec_id"])
        .groupby("centroid_id")["vec_id"]
        .first()
    )
    for tau in (0.5, 0.9, 0.99):
        removed = {
            r["vec_id"]
            for r in semantic_dedup_removals(emb, k=2, tau=tau).collect()
        }
        assert not (firsts & removed), (tau, firsts, removed)


def test_cross_cluster_neardup_is_the_documented_blind_spot(spark):
    """20/21 have cos 0.96 but straddle the cluster boundary: dd12
    must NOT flag either (the SemDeDup trade: exact within-cluster
    sweep, zero cross-cluster recall) — the case dd6's global LSH
    exists for."""
    emb = _emb(spark)
    a = {r["vec_id"]: r["centroid_id"] for r in _ivf_assign(emb, k=2).collect()}
    assert a[20] == 0 and a[21] == 1  # the plant actually straddles
    removed = {
        r["vec_id"]
        for r in semantic_dedup_removals(emb, k=2, tau=0.9).collect()
    }
    assert 20 not in removed and 21 not in removed


def test_cur7_flags_planted_paraphrase_only(spark):
    """cur7 semantics on planted geometry: a corpus vector nearly
    parallel to an eval vector is flagged (with the right hit count);
    an orthogonal one is not; a vector close to TWO eval items counts
    both."""
    from inpe_queimadas_etl_spark.suite.llmdata import (
        semantic_decontamination,
    )

    def df(rows):
        pdf = pd.DataFrame(
            {
                "vec_id": [r[0] for r in rows],
                "v": [list(map(float, r[1])) for r in rows],
            }
        )
        return (
            spark.createDataFrame(pdf)
            .select("vec_id", F.col("v").cast("array<double>").alias("v"))
            .withColumn("nrm", vec_norm("v"))
        )

    eval_set = df([(100, [1, 0, 0, 0]), (101, [0.9, 0.1, 0, 0])])
    corpus = df(
        [
            (1, [1.0, 0.05, 0.0, 0.0]),  # near both eval items
            (2, [0.0, 0.0, 1.0, 0.0]),  # orthogonal -> clean
            (3, [0.0, 1.0, 0.0, 0.0]),  # cos .05 / .11 -> clean
        ]
    )
    out = {
        r["vec_id"]: r
        for r in semantic_decontamination(corpus, eval_set, tau=0.9).collect()
    }
    assert set(out) == {1}
    assert out[1]["n_eval_hits"] == 2
    assert out[1]["max_sim"] >= 0.99
