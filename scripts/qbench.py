"""Targeted per-query micro-bench for optimization iterations (r12).

Times ONLY the named queries with bench.py's own methodology —
checksum-consume, one warm-up, median of N,
per-run interleaved bandwidth probe — so a candidate change can be
measured in seconds instead of re-running the full suite. Not part of
the bench protocol; bench.py remains the round artifact.

Usage: python scripts/qbench.py [-n RUNS] query [query ...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=3, help="timed runs per query")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import bench
    from inpe_queimadas_etl_spark.session import get_spark, load_table
    from inpe_queimadas_etl_spark.suite import all_queries

    spark = get_spark(
        app_name="qbench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()
    # resolve unregistered entries the same way bench.main does
    import inpe_queimadas_etl_spark.suite.llmdata as llm
    import inpe_queimadas_etl_spark.suite.relational as rel

    for mod in (llm, rel):
        for name in bench.UNREGISTERED:
            fn = getattr(mod, name, None)
            if fn is not None:
                registry.setdefault(name, fn)
    registry.setdefault(
        "p7_stable_event_hash", rel.p7_stable_event_hash
    )
    registry.setdefault("j7_crossjoin_zerofill", rel.j7_crossjoin_zerofill)

    for warm_tbl in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, SF_DIR, warm_tbl).count()

    bench._bw_sample()  # build + warm the probe kernel
    import gc

    for name in args.queries:
        fn = registry.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        runner = lambda: bench._consume_checksum(fn(spark, SF_DIR))
        gc.collect()
        try:  # bench.py's convention; _jvm may be absent (ADVICE r12)
            jvm = spark.sparkContext._jvm
            if jvm is not None:
                jvm.System.gc()
        except Exception:
            pass
        spark.sparkContext.setJobDescription(f"qbench:{name}")
        runner()  # warm-up
        samples, probes = [], [bench._bw_sample()]
        for _ in range(args.n):
            t0 = time.perf_counter()
            runner()
            samples.append(time.perf_counter() - t0)
            probes.append(bench._bw_sample())
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(samples)
        print(
            f"{name:35s} median {med:7.3f}s  "
            f"[{min(samples):.3f}, {max(samples):.3f}] n={args.n}  "
            f"bw_med {statistics.median(probes):.4f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
