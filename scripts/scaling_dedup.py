"""sf1.0 scaling validation for the dedup family (VERDICT r3 #5).

Generates synthetic corpora of the TESTDATA documents shape at sf0.1 /
sf~0.3 / sf1.0 row counts (5k / 15.8k / 50k documents), runs dd1-dd5
and dd7 at each size, and fits the
wall-time-vs-rows scaling exponent per query (log-log least squares).
Prints one JSON line; the measured exponents are recorded in
SCALING.md.

The generator mirrors the driver testdata's statistical shape (small
shared vocabulary, ~300-char documents, 5 langs, 20 sources, sub-1 %
exact-dup rate) and injects a deterministic ~2 % exact-dup + ~3 %
near-dup tail so every dd operator has real work at every size.

Usage: python scripts/scaling_dedup.py  [env: SPARK_GRAFT_CPUS]
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

# Realistic corpus vocabulary: 10k words drawn Zipfian, like natural
# text. This matters for what the sweep measures: the driver testdata's
# ~30-word vocabulary makes every PPJoin prefix useless (every document
# contains every word, so the df histogram is flat and prefix pruning
# cannot discard anything) — that adversarial regime is measured
# separately and recorded in SCALING.md, but the scaling exponents
# should describe realistic corpora.
VOCAB = [f"w{i}" for i in range(10_000)]
ZIPF_A = 1.3
LANGS = ["en", "en", "en", "es", "fr", "pt", "zh"]  # en-heavy, 5 distinct
SIZES = {"0.1": 5_000, "0.3": 15_811, "1.0": 50_000}
DD_QUERIES = [
    "dd1_exact_dedup",
    "dd2_ngram_jaccard_pairs",
    "dd3_minhash_signatures",
    "dd4_minhash_lsh_candidates",
    "dd5_simhash",
    "dd7_dedup_clusters",
]


def gen_documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    lens = rng.integers(8, 100, size=n)
    nv = len(VOCAB)
    texts = [
        " ".join(
            VOCAB[int(w)]
            for w in np.minimum(rng.zipf(ZIPF_A, size=ln) - 1, nv - 1)
        )
        for ln in lens
    ]
    # deterministic duplicate tail: 2% exact copies, 3% near copies
    # (one word appended), always of an EARLIER doc so clusters form
    n_exact = n // 50
    n_near = (3 * n) // 100
    dup_src = rng.integers(0, max(1, n - n_exact - n_near), size=n_exact + n_near)
    for i in range(n_exact):
        texts[n - 1 - i] = texts[dup_src[i]]
    for i in range(n_near):
        j = n - 1 - n_exact - i
        texts[j] = texts[dup_src[n_exact + i]] + " extra"
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), size=n)]
    sources = [f"src{int(x)}" for x in rng.integers(0, 20, size=n)]
    return pa.table(
        {
            "doc_id": pa.array(range(n), type=pa.int64()),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(sources, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from inpe_queimadas_etl_spark.session import get_spark
    from inpe_queimadas_etl_spark.suite import all_queries

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    spark = get_spark(
        app_name="scaling-dedup",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
        # one local JVM stands in for a cluster's worth of executors at
        # sf1.0; size its heap like one (the pyspark default is 1g)
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    results: dict[str, dict[str, float]] = {q: {} for q in DD_QUERIES}
    with tempfile.TemporaryDirectory() as tmp:
        dirs = {}
        for sf, n in SIZES.items():
            d = os.path.join(tmp, f"sf{sf}")
            os.makedirs(d)
            pq.write_table(gen_documents(n, seed=42), os.path.join(d, "documents.parquet"))
            dirs[sf] = d

        # JVM/codegen warm-up at the smallest size
        for q in DD_QUERIES:
            queries[q](spark, dirs["0.1"]).count()

        for sf in SIZES:
            for q in DD_QUERIES:
                samples = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    queries[q](spark, dirs[sf]).count()
                    samples.append(time.perf_counter() - t0)
                results[q][sf] = round(min(samples), 3)
                print(f"# {q} sf{sf}: {results[q][sf]}s", file=sys.stderr)

    # log-log least-squares slope of time vs document rows
    from scaling_common import fit_exponent

    exponents = {q: fit_exponent(SIZES, times) for q, times in results.items()}

    print(json.dumps({"times_sec": results, "scaling_exponent": exponents}))
    spark.stop()


if __name__ == "__main__":
    main()
