"""Phase-level profiling of the hottest bench queries (r12 guide §1).

Times the component passes of the most expensive suite entries in
isolation (noop-sink consume where a DataFrame is produced, the
query's own driver action where the phase IS a driver action), so the
optimization targets the pass that actually costs, not the one that
looks big in the plan. Not part of the bench protocol — a measuring
tool only.

Usage: python scripts/profile_hot.py [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _t(label, fn, runs=3):
    fn()  # warm
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    med = samples[len(samples) // 2]
    print(f"  {label:55s} {med:7.3f}s  (min {samples[0]:.3f})")
    return med


def profile_dd2(spark):
    from pyspark.sql import functions as F

    from inpe_queimadas_etl_spark.session import load_table
    from inpe_queimadas_etl_spark.suite.llmdata import (
        _dd2_shingle_hash_sets,
        dd2_ngram_jaccard_pairs,
    )

    print("dd2_ngram_jaccard_pairs phases:")
    docs = load_table(spark, SF_DIR, "documents")
    _t("full query (checksum-free noop of final df)",
       lambda: _noop(dd2_ngram_jaccard_pairs(spark, SF_DIR)))
    _t("shingle sets build + checkpoint",
       lambda: _dd2_shingle_hash_sets(docs).localCheckpoint(eager=True))
    raw = _dd2_shingle_hash_sets(docs).localCheckpoint(eager=True)
    ex = raw.select("doc_id", F.explode("xs").alias("sh"))
    df_tbl = ex.groupBy("sh").agg(F.count("*").alias("df"))

    def stats():
        df_tbl.agg(
            F.max("df").alias("mx"),
            F.expr("approx_percentile(df, 0.5)").alias("md"),
            F.sum(F.col("df").cast("double") * F.col("df")).alias("df2"),
        ).first()
        raw.count()

    _t("adaptive df-stats job (+count)", stats)

    threshold = 0.5
    prefix_len = (
        F.col("n_sh") - F.ceil(threshold * F.col("n_sh")) + 1
    ).cast("int")
    prefixes = raw.select(
        "doc_id", "n_sh", F.explode(F.slice("xs", 1, prefix_len)).alias("sh")
    )
    a = prefixes.alias("a")
    b = prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.n_sh") >= threshold * F.col("b.n_sh"))
            & (F.col("b.n_sh") >= threshold * F.col("a.n_sh")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    _t("prefix self-join + distinct (from checkpoint)", lambda: _noop(cand))


def profile_dd7(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import (
        dd4_minhash_lsh_candidates,
        dd7_dedup_clusters,
    )

    print("dd7_dedup_clusters phases:")
    _t("full query", lambda: _noop(dd7_dedup_clusters(spark, SF_DIR)))
    _t("dd4 pairs + checkpoint",
       lambda: dd4_minhash_lsh_candidates(spark, SF_DIR).localCheckpoint(
           eager=True))


def profile_tx7b(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import (
        tx7_broadcast_quality_score,
        _tx7_weight_table,
        _TX7_BIG_BUCKETS,
    )

    print("tx7_broadcast_quality_score phases:")
    _tx7_weight_table(spark, _TX7_BIG_BUCKETS)  # session-cached model
    _t("full query", lambda: _noop(tx7_broadcast_quality_score(spark, SF_DIR)))


def profile_cur8(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import cur8_dsir_selection

    print("cur8_dsir_selection phases:")
    _t("full query", lambda: _noop(cur8_dsir_selection(spark, SF_DIR)))


def profile_cur9(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import cur9_dsir_resample

    print("cur9_dsir_resample phases:")
    _t("full query", lambda: _noop(cur9_dsir_resample(spark, SF_DIR)))


def profile_tx8(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import tx8_lm_perplexity

    print("tx8_lm_perplexity phases:")
    _t("full query", lambda: _noop(tx8_lm_perplexity(spark, SF_DIR)))


def profile_dd9(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import dd9_canonical_keeper

    print("dd9_canonical_keeper phases:")
    _t("full query", lambda: _noop(dd9_canonical_keeper(spark, SF_DIR)))


def profile_dd10(spark):
    from inpe_queimadas_etl_spark.operators.rollhash import (
        rolling_window_shingles,
    )
    from inpe_queimadas_etl_spark.session import load_table
    from inpe_queimadas_etl_spark.suite.llmdata import (
        dd10_duplicate_spans,
        _DD10_WIN,
    )

    print("dd10_duplicate_spans phases:")
    _t("full query", lambda: _noop(dd10_duplicate_spans(spark, SF_DIR)))
    docs = load_table(spark, SF_DIR, "documents")
    _t("rolling shingles + checkpoint",
       lambda: rolling_window_shingles(docs, _DD10_WIN).localCheckpoint(
           eager=True))


def profile_dd11(spark):
    from inpe_queimadas_etl_spark.suite.llmdata import dd11_span_scrub

    print("dd11_span_scrub phases:")
    _t("full query", lambda: _noop(dd11_span_scrub(spark, SF_DIR)))


PROFILES = {
    "dd2": profile_dd2,
    "dd7": profile_dd7,
    "dd9": profile_dd9,
    "tx7b": profile_tx7b,
    "cur8": profile_cur8,
    "cur9": profile_cur9,
    "tx8": profile_tx8,
    "dd10": profile_dd10,
    "dd11": profile_dd11,
}


def main():
    from inpe_queimadas_etl_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="profile-hot",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    wanted = sys.argv[1:] or list(PROFILES)
    for name in wanted:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        PROFILES[name](spark)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
