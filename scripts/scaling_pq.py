"""Scaling validation for the PQ serving tier (sim8 ADC, sim9 IVF-PQ).

Three measured claims, one JSON line, recorded in SCALING.md:

1. **Store compression, measured on disk**: parquet bytes of the
   float32 embeddings table vs the sim8 code store (vec_id + 8 codes)
   vs the sim9 store (vec_id + centroid_id + codes + reconstruction
   norm) at 1M vectors — the 100-TB claim ("float32 corpus -> ~3 TB
   of codes") as actual file sizes, not arithmetic.
2. **sim8 ADC scan vs full-precision brute**: both O(n) scans over
   10k/100k/1M; the artifact is the RATIO (the ADC scan reads 8-byte
   codes and does m table lookups per row) and the exponent staying
   ~linear.
3. **sim9 probed ADC at K=64/nprobe=2** (candidate fraction 1/32) at
   1M: the composed win — probe-scoped ADC over 16-byte rows vs
   sim8's full ADC scan vs brute.

Searches run against PREBUILT, checkpointed stores (the deployment
shape — the store is a materialized artifact); build (one Arrow
encode scan) is timed separately. Queries are 8 full-precision
vectors outside the codebook, the scaling_ann_media convention.

Usage: python scripts/scaling_pq.py  [env: SPARK_GRAFT_CPUS]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EMB_DIM = 64
SIZES = {"10k": 10_000, "100k": 100_000, "1M": 1_000_000}


def gen_embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    vecs = rng.normal(0, 1, size=(n, EMB_DIM)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(n), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        }
    )


def _t(fn, runs: int = 2) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.dirname(here))
    sys.path.insert(0, here)
    from scaling_common import fit_exponent  # noqa: F401  (fail fast)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from inpe_queimadas_etl_spark.operators.pq import (
        dot_unrolled,
        pq_adc_ip_expr,
        pq_adc_score_expr,
        pq_adc_search_scan,
        pq_encode,
        pq_ivf_adc_search_scan,
        pq_ivf_encode,
        pq_ivf_norm2_expr,
        pq_lut_arrays,
        train_pq_codebook,
    )
    from inpe_queimadas_etl_spark.operators.similarity import (
        dot_product,
        vec_norm,
    )
    from inpe_queimadas_etl_spark.session import get_spark
    from inpe_queimadas_etl_spark.suite.llmdata import (
        _cosine_top5,
        _ivf_assign,
        _ivf_centroids,
        _score_rank_top5,
    )

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="scaling-pq",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    K, NPROBE, CAND = 64, 2, 100

    out: dict = {
        "sim8_build": {},
        "sim8_search": {},
        "sim8_search_jvm": {},
        "brute": {},
        "sim9_1m": {},
        "bytes_1m": {},
    }
    with tempfile.TemporaryDirectory() as tmp:
        for label, n in SIZES.items():
            d = os.path.join(tmp, f"emb_{label}")
            os.makedirs(d)
            pq.write_table(
                gen_embeddings(n, seed=9),
                os.path.join(d, "embeddings.parquet"),
            )
            emb = (
                spark.read.parquet(os.path.join(d, "embeddings.parquet"))
                .select(
                    "vec_id",
                    F.col("embedding").cast("array<double>").alias("v"),
                )
                .withColumn("nrm", vec_norm("v"))
            )
            cb = train_pq_codebook(emb, m=8, ks=16)

            # sim8: full-corpus ADC scan over the prebuilt code store
            t0 = time.perf_counter()
            codes = pq_encode(emb, cb).localCheckpoint(eager=True)
            out["sim8_build"][label] = round(time.perf_counter() - t0, 3)
            q = (
                emb.filter((F.col("vec_id") >= K) & (F.col("vec_id") < K + 8))
                .select(
                    F.col("vec_id").alias("query_id"),
                    F.col("v").alias("qv"),
                    F.col("nrm").alias("nq"),
                )
                .localCheckpoint(eager=True)
            )
            qlut = q.select(
                "query_id",
                *[
                    F.expr(e).alias(f"lut_{j}")
                    for j, e in enumerate(pq_lut_arrays(cb, "spark", "qv"))
                ],
            ).localCheckpoint(eager=True)

            queries = [
                (r["query_id"], list(r["qv"]))
                for r in q.select("query_id", "qv").collect()
            ]

            def sim8_search():
                # the PRODUCTION Arrow path (r8): numpy ADC replay
                scored = pq_adc_search_scan(codes, cb, queries, CAND)
                w_g = Window.partitionBy("query_id").orderBy(
                    F.desc_nulls_first("pq_score"), F.asc("vec_id")
                )
                cand = (
                    scored.withColumn("rn", F.row_number().over(w_g))
                    .filter(F.col("rn") <= CAND)
                    .select("query_id", "vec_id")
                )
                paired = cand.join(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")),
                    "vec_id",
                ).join(F.broadcast(q), "query_id")
                _score_rank_top5(paired).collect()

            def sim8_search_jvm():
                # the unrolled-JVM reference form (the r7 shape)
                scored = (
                    codes.crossJoin(F.broadcast(qlut))
                    .filter(F.col("vec_id") != F.col("query_id"))
                    .withColumn(
                        "pq_score", F.expr(pq_adc_score_expr(cb, "spark"))
                    )
                )
                order = [F.desc("pq_score"), F.asc("vec_id")]
                w_l = Window.partitionBy("query_id", "pid").orderBy(*order)
                w_g = Window.partitionBy("query_id").orderBy(*order)
                cand = (
                    scored.withColumn("pid", F.spark_partition_id())
                    .withColumn("r", F.row_number().over(w_l))
                    .filter(F.col("r") <= CAND)
                    .withColumn("rn", F.row_number().over(w_g))
                    .filter(F.col("rn") <= CAND)
                    .select("query_id", "vec_id")
                )
                paired = cand.join(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")),
                    "vec_id",
                ).join(F.broadcast(q), "query_id")
                _score_rank_top5(paired).collect()

            def brute():
                _cosine_top5(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")), q
                ).collect()

            out["sim8_search"][label] = _t(sim8_search)
            out["sim8_search_jvm"][label] = _t(sim8_search_jvm)
            out["brute"][label] = _t(brute)
            print(
                f"# {label}: sim8 build {out['sim8_build'][label]}s, "
                f"search {out['sim8_search'][label]}s "
                f"(jvm {out['sim8_search_jvm'][label]}s), "
                f"brute {out['brute'][label]}s",
                file=sys.stderr,
            )

            if label != "1M":
                continue

            # sim9 at K=64/nprobe=2: probe-scoped ADC over 16-byte rows
            cent = _ivf_centroids(emb, K)
            rescb = cb  # residual codebook: reuse (geometry identical)

            # PRODUCTION build (r9, VERDICT r8 #3): the FUSED Arrow
            # pass — assign + residual + encode in one numpy scan
            # (pq_ivf_encode), bit-equal to the compositional path
            # below (pinned in tests/test_pq.py). This is the store
            # the deployment materializes; n2 is recomputed inside
            # the Arrow search scan, never stored.
            cents3 = sorted(
                (r["centroid_id"], list(r["cv"]), r["cn"])
                for r in cent.select("centroid_id", "cv", "cn").collect()
            )
            t0 = time.perf_counter()
            store9f = pq_ivf_encode(emb, cents3, rescb).localCheckpoint(
                eager=True
            )
            out["sim9_1m"]["build_sec"] = round(
                time.perf_counter() - t0, 3
            )

            # COMPOSITIONAL build kept as the anchor the fused pass
            # replaced (also feeds the JVM search path, which wants a
            # precomputed n2 column)
            t0 = time.perf_counter()
            asg = _ivf_assign(emb, K).join(
                F.broadcast(cent.select("centroid_id", "cv")),
                "centroid_id",
            ).withColumn("r", F.expr("zip_with(v, cv, (a, b) -> a - b)"))
            aux = cent.select(
                "centroid_id",
                F.expr(dot_unrolled("cv", "cv", EMB_DIM, "spark")).alias(
                    "cvn2"
                ),
                *[
                    F.expr(e).alias(f"cvlut_{j}")
                    for j, e in enumerate(
                        pq_lut_arrays(rescb, "spark", "cv")
                    )
                ],
            )
            store9 = (
                pq_encode(asg, rescb, vec_col="r", carry_cols=("centroid_id",))
                .join(F.broadcast(aux), "centroid_id")
                .withColumn("n2", F.expr(pq_ivf_norm2_expr(rescb, "spark")))
                .select("vec_id", "centroid_id", "codes", "n2")
                .localCheckpoint(eager=True)
            )
            out["sim9_1m"]["build_compositional_sec"] = round(
                time.perf_counter() - t0, 3
            )

            # sim11/OPQ build-cost delta (r9): the rotation adds ONE
            # batched GEMM to the fused encode — measure it honestly
            # against the un-rotated fused build above (same run)
            import numpy as np

            from inpe_queimadas_etl_spark.operators.pq import (
                train_opq_rotation,
            )

            t0 = time.perf_counter()
            res_rows = (
                asg.select("vec_id", "r").orderBy("vec_id").limit(4096)
                .collect()
            )
            Xr = np.array(
                [list(r["r"]) for r in res_rows], dtype=np.float64
            )
            rot11, cb11, err_opq, err_id = train_opq_rotation(Xr, 8, 16)
            out["sim9_1m"]["opq_train_sec"] = round(
                time.perf_counter() - t0, 3
            )
            out["sim9_1m"]["opq_err_improvement"] = round(
                1 - err_opq / err_id, 4
            )
            t0 = time.perf_counter()
            store11 = pq_ivf_encode(
                emb, cents3, cb11, rot=rot11
            ).localCheckpoint(eager=True)
            out["sim9_1m"]["build_opq_sec"] = round(
                time.perf_counter() - t0, 3
            )
            print(
                f"# 1M OPQ: train {out['sim9_1m']['opq_train_sec']}s "
                f"(err -{out['sim9_1m']['opq_err_improvement']:.1%}), "
                f"rotated fused build "
                f"{out['sim9_1m']['build_opq_sec']}s vs "
                f"{out['sim9_1m']['build_sec']}s unrotated",
                file=sys.stderr,
            )
            qw = Window.partitionBy("vec_id").orderBy(
                F.desc("csim"), F.asc("centroid_id")
            )
            probe = (
                emb.filter(
                    (F.col("vec_id") >= K) & (F.col("vec_id") < K + 8)
                )
                .join(F.broadcast(cent))
                .withColumn(
                    "csim",
                    F.try_divide(
                        dot_product("v", "cv"), F.col("nrm") * F.col("cn")
                    ),
                )
                .withColumn("rn", F.row_number().over(qw))
                .filter(F.col("rn") <= NPROBE)
            )
            qlut9 = probe.select(
                F.col("vec_id").alias("query_id"),
                F.col("centroid_id").alias("qcluster"),
                F.expr(dot_unrolled("v", "cv", EMB_DIM, "spark")).alias(
                    "qip_c"
                ),
                *[
                    F.expr(e).alias(f"lut_{j}")
                    for j, e in enumerate(pq_lut_arrays(rescb, "spark", "v"))
                ],
            ).localCheckpoint(eager=True)

            cents9 = [
                (r["centroid_id"], list(r["cv"]))
                for r in cent.select("centroid_id", "cv").collect()
            ]
            probes9 = [
                (r["vec_id"], r["centroid_id"], list(r["v"]))
                for r in probe.select("vec_id", "centroid_id", "v")
                .collect()
            ]
            # deployment shape: the store materialized PARTITIONED BY
            # centroid_id, so the probed-cluster IN filter is
            # partition pruning — only probed clusters' files are read
            store9_path = os.path.join(tmp, "store9_parquet")
            store9f.write.mode("overwrite").partitionBy(
                "centroid_id"
            ).parquet(store9_path)
            store9_disk = spark.read.parquet(store9_path)
            probed_cids = sorted({int(p[1]) for p in probes9})
            out["sim9_1m"]["n_probed_clusters"] = len(probed_cids)

            def _sim9_arrow(codes_src):
                scored = pq_ivf_adc_search_scan(
                    codes_src, rescb, cents9, probes9, CAND
                )
                w_g = Window.partitionBy("query_id").orderBy(
                    F.desc_nulls_first("pq_score"), F.asc("vec_id")
                )
                cand = (
                    scored.withColumn("rn", F.row_number().over(w_g))
                    .filter(F.col("rn") <= CAND)
                    .select("query_id", "vec_id")
                )
                paired = cand.join(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")),
                    "vec_id",
                ).join(
                    F.broadcast(q.select("query_id", "qv", "nq")),
                    "query_id",
                )
                _score_rank_top5(paired).collect()

            def sim9_search():
                # the PRODUCTION Arrow path (r8): partitioned on-disk
                # store, probed-cluster partition pruning below the scan
                _sim9_arrow(
                    store9_disk.filter(
                        F.col("centroid_id").isin(probed_cids)
                    )
                )

            def sim9_search_unpruned():
                # same Arrow path over the UNPRUNED on-disk store —
                # isolates the partition-pruning win
                _sim9_arrow(store9_disk)

            def sim9_search_jvm():
                scored = store9.join(
                    F.broadcast(qlut9),
                    (F.col("centroid_id") == F.col("qcluster"))
                    & (F.col("vec_id") != F.col("query_id")),
                ).withColumn(
                    "adc",
                    F.expr(
                        f"(qip_c + ({pq_adc_ip_expr(rescb, 'spark')}))"
                        " / sqrt(n2)"
                    ),
                )
                order = [F.desc("adc"), F.asc("vec_id")]
                w_l = Window.partitionBy("query_id", "pid").orderBy(*order)
                w_g = Window.partitionBy("query_id").orderBy(*order)
                cand = (
                    scored.withColumn("pid", F.spark_partition_id())
                    .withColumn("r", F.row_number().over(w_l))
                    .filter(F.col("r") <= CAND)
                    .withColumn("rn", F.row_number().over(w_g))
                    .filter(F.col("rn") <= CAND)
                    .select("query_id", "vec_id")
                )
                paired = cand.join(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")),
                    "vec_id",
                ).join(
                    F.broadcast(
                        q.select("query_id", "qv", "nq")
                    ),
                    "query_id",
                )
                _score_rank_top5(paired).collect()

            out["sim9_1m"]["search_sec"] = _t(sim9_search)
            out["sim9_1m"]["search_unpruned_sec"] = _t(
                sim9_search_unpruned
            )
            out["sim9_1m"]["search_jvm_sec"] = _t(sim9_search_jvm)

            # r10 (VERDICT r9 #2): recall@5 at EQUAL probe budget at
            # 1M — plain residual PQ (sim10's quantizer) vs the OPQ
            # rotation (sim11), SAME coarse codebook, SAME probe sets
            # (selection is in original space, so the candidate pools
            # differ only through ADC fidelity), SAME exact-rerank
            # tail. Ground truth: exact cosine top-5 over the corpus
            # for NQ in-store queries (self-skip on both sides). The
            # sf0.01 demo scale step-quantizes recall at 0.025/hit —
            # THIS is the measurement that decides the default tier.
            from inpe_queimadas_etl_spark.operators.pq import rot_apply

            NQ = 32
            rq_src = emb.filter(
                (F.col("vec_id") >= K) & (F.col("vec_id") < K + NQ)
            ).localCheckpoint(eager=True)
            rq = rq_src.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("nq"),
            ).localCheckpoint(eager=True)
            t0 = time.perf_counter()
            exact5: dict = {}
            for r in _cosine_top5(
                emb.select("vec_id", "v", F.col("nrm").alias("nv")), rq
            ).collect():
                exact5.setdefault(int(r["query_id"]), set()).add(
                    int(r["neighbor_id"])
                )
            out["recall_1m"] = {
                "nq": NQ,
                "nprobe": NPROBE,
                "exact_sec": round(time.perf_counter() - t0, 3),
            }
            probe64 = (
                rq_src.join(F.broadcast(cent))
                .withColumn(
                    "csim",
                    F.try_divide(
                        dot_product("v", "cv"),
                        F.col("nrm") * F.col("cn"),
                    ),
                )
                .withColumn("rn", F.row_number().over(qw))
                .filter(F.col("rn") <= NPROBE)
            )
            probes64 = [
                (r["vec_id"], r["centroid_id"], list(r["v"]))
                for r in probe64.select(
                    "vec_id", "centroid_id", "v"
                ).collect()
            ]

            def _recall_at5(store_df, cb_, cents_, probes_):
                scored = pq_ivf_adc_search_scan(
                    store_df, cb_, cents_, probes_, CAND
                )
                w_g = Window.partitionBy("query_id").orderBy(
                    F.desc_nulls_first("pq_score"), F.asc("vec_id")
                )
                cand5 = (
                    scored.withColumn("rn", F.row_number().over(w_g))
                    .filter(F.col("rn") <= CAND)
                    .select("query_id", "vec_id")
                )
                paired = cand5.join(
                    emb.select("vec_id", "v", F.col("nrm").alias("nv")),
                    "vec_id",
                ).join(F.broadcast(rq), "query_id")
                hits = 0
                for r in _score_rank_top5(paired).collect():
                    if int(r["neighbor_id"]) in exact5.get(
                        int(r["query_id"]), set()
                    ):
                        hits += 1
                return round(hits / (5 * NQ), 4)

            t0 = time.perf_counter()
            out["recall_1m"]["sim10_recall_at5"] = _recall_at5(
                store9f, rescb, cents9, probes64
            )
            out["recall_1m"]["sim10_search_sec"] = round(
                time.perf_counter() - t0, 3
            )
            rot_cents = [
                (cid, rot_apply(rot11, cv)) for cid, cv in cents9
            ]
            rot_probes = [
                (qid, cid, rot_apply(rot11, qv))
                for qid, cid, qv in probes64
            ]
            t0 = time.perf_counter()
            out["recall_1m"]["sim11_recall_at5"] = _recall_at5(
                store11, cb11, rot_cents, rot_probes
            )
            out["recall_1m"]["sim11_search_sec"] = round(
                time.perf_counter() - t0, 3
            )
            print(f"# 1M recall@5: {out['recall_1m']}", file=sys.stderr)
            store11.unpersist()

            print(
                f"# 1M sim9 K={K}/nprobe={NPROBE}: build "
                f"{out['sim9_1m']['build_sec']}s fused (compositional "
                f"{out['sim9_1m']['build_compositional_sec']}s), search "
                f"{out['sim9_1m']['search_sec']}s pruned "
                f"({out['sim9_1m']['n_probed_clusters']}/{K} clusters; "
                f"unpruned {out['sim9_1m']['search_unpruned_sec']}s, "
                f"jvm {out['sim9_1m']['search_jvm_sec']}s)",
                file=sys.stderr,
            )

            # measured on-disk compression at 1M
            p_emb = os.path.join(tmp, "bytes_emb")
            p_s8 = os.path.join(tmp, "bytes_s8")
            p_s9 = os.path.join(tmp, "bytes_s9")
            spark.read.parquet(
                os.path.join(d, "embeddings.parquet")
            ).write.mode("overwrite").parquet(p_emb)
            codes.write.mode("overwrite").parquet(p_s8)
            # the PRODUCTION store shape (fused build: vec_id,
            # centroid_id, codes — n2 is recomputed inside the Arrow
            # search scan, never stored)
            store9f.write.mode("overwrite").parquet(p_s9)
            out["bytes_1m"] = {
                "float32_embeddings": _dir_bytes(p_emb),
                "sim8_codes": _dir_bytes(p_s8),
                "sim9_store": _dir_bytes(p_s9),
            }
            print(f"# 1M bytes: {out['bytes_1m']}", file=sys.stderr)

    out["sim8_search_exponent"] = fit_exponent(SIZES, out["sim8_search"])
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
