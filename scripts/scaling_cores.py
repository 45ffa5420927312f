"""Core-count scaling evidence for the heaviest queries (VERDICT r12 #6).

The r12 driver's 8-vs-32-core suite totals read ~1:1, which is either a
serialization problem or (the r12 judge's hypothesis) sf0.1 being too
small for 32 cores to matter — seconds-scale queries are dominated by
fixed overhead (job scheduling, Arrow batch spin-up, windows over a
500-row corpus). This sweep settles it per query: run the five heaviest
(dd7, dd2, dd4, dd11, tx8) at the real sf0.1 testdata AND at a 10x
synthetic corpus (scaling_dedup's generator — realistic Zipf vocab) at
8 and 32 cores, fresh JVM per core count, and record the 8/32 ratios.
A query whose ratio stays ~1 at the 10x shape has a real serialization
to name; a query whose ratio grows toward the core ratio was simply
overhead-bound at sf0.1.

Usage: python scripts/scaling_cores.py            (parent: spawns one
worker per core count, prints one JSON line; record in SCALING.md)
       python scripts/scaling_cores.py --worker   (internal)
Env: SPARK_GRAFT_SCALING_RUNS (timed runs per query, default 2).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "dd2_ngram_jaccard_pairs",
    "dd4_minhash_lsh_candidates",
    "dd7_dedup_clusters",
    "dd11_span_scrub",
    "tx8_lm_perplexity",
]
CPUS_GRID = (8, 32)
BIG_DOCS = 50_000  # 10x the sf0.1 documents shape
SF01 = "/root/testdata/sf0.1"


def _gen_big(dir_: str) -> None:
    import pyarrow.parquet as pq_

    from scaling_dedup import gen_documents

    pq_.write_table(
        gen_documents(BIG_DOCS, seed=42),
        os.path.join(dir_, "documents.parquet"),
    )


def _worker(big_dir: str) -> None:
    import bench
    from inpe_queimadas_etl_spark.session import get_spark, load_table
    from inpe_queimadas_etl_spark.suite import all_queries
    import inpe_queimadas_etl_spark.suite.llmdata as llm

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    runs = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "2"))
    spark = get_spark(
        app_name=f"scaling-cores-{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = all_queries()
    for name in QUERIES:
        reg.setdefault(name, getattr(llm, name))
    out: dict[str, dict[str, float]] = {}
    import gc

    for sf_label, sf_dir in (("sf0.1", SF01), ("big", big_dir)):
        load_table(spark, sf_dir, "documents").count()
        for name in QUERIES:
            fn = reg[name]
            gc.collect()
            try:
                jvm = spark.sparkContext._jvm
                if jvm is not None:
                    jvm.System.gc()
            except Exception:
                pass
            runner = lambda: bench._consume_checksum(fn(spark, sf_dir))
            runner()  # warm-up
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                runner()
                samples.append(time.perf_counter() - t0)
            out.setdefault(name, {})[sf_label] = round(
                statistics.median(samples), 3
            )
            print(
                f"# c{cpus} {sf_label} {name}: {out[name][sf_label]}",
                file=sys.stderr,
            )
    spark.stop()
    print(json.dumps({"cpus": cpus, "timings": out}))


def main() -> None:
    if "--worker" in sys.argv:
        _worker(os.environ["SPARK_GRAFT_SCALING_BIG_DIR"])
        return
    with tempfile.TemporaryDirectory() as tmp:
        _gen_big(tmp)
        per_cpus: dict[int, dict] = {}
        for cpus in CPUS_GRID:
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                SPARK_GRAFT_SCALING_BIG_DIR=tmp,
            )
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker"],
                env=env,
                capture_output=True,
                text=True,
            )
            sys.stderr.write(proc.stderr[-2000:])
            line = proc.stdout.strip().splitlines()[-1]
            rec = json.loads(line)
            per_cpus[cpus] = rec["timings"]
        ratios = {
            q: {
                sf: round(per_cpus[8][q][sf] / per_cpus[32][q][sf], 2)
                for sf in per_cpus[8][q]
            }
            for q in QUERIES
        }
        print(
            json.dumps(
                {
                    "metric": "core_scaling_c8_over_c32",
                    "big_docs": BIG_DOCS,
                    "per_cpus": {str(c): per_cpus[c] for c in per_cpus},
                    "ratios_c8_over_c32": ratios,
                }
            )
        )


if __name__ == "__main__":
    main()
