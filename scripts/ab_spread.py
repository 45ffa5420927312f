"""Same-process alternating A/B for the r13 `_spread` change.

A = current code (scan spread to defaultParallelism when the input
yields fewer splits); B = `_spread` patched to identity (the pre-r13
shape). Runs alternate A,B,A,B,... per query with bench.py's
checksum-consume, so host drift hits both sides equally. Not part of
the bench protocol; evidence script only.

Usage: python scripts/ab_spread.py [-n PAIRS] query [query ...]
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
    ap.add_argument("-n", type=int, default=5, help="A/B pairs per query")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    import bench
    from inpe_queimadas_etl_spark.session import get_spark, load_table
    from inpe_queimadas_etl_spark.suite import all_queries
    import inpe_queimadas_etl_spark.corpus_ops as ops
    import inpe_queimadas_etl_spark.suite.llmdata as llm
    import inpe_queimadas_etl_spark.suite.relational as rel

    spark = get_spark(
        app_name="ab_spread",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")

    registry = all_queries()
    for mod in (llm, rel):
        for name in bench.UNREGISTERED:
            fn = getattr(mod, name, None)
            if fn is not None:
                registry.setdefault(name, fn)

    for warm_tbl in ("documents", "embeddings"):
        load_table(spark, SF_DIR, warm_tbl).count()
    bench._bw_sample()

    real_spread = llm._spread
    identity = lambda df: df

    for name in args.queries:
        fn = registry[name]
        a_times: list[float] = []
        b_times: list[float] = []
        bw: list[float] = []
        # one warm-up per side
        for side_fn in (real_spread, identity):
            llm._spread = ops._spread = side_fn
            bench._consume_checksum(fn(spark, SF_DIR))
        for _ in range(args.n):
            for side_fn, bucket in (
                (real_spread, a_times),
                (identity, b_times),
            ):
                llm._spread = ops._spread = side_fn
                t0 = time.perf_counter()
                bench._consume_checksum(fn(spark, SF_DIR))
                bucket.append(time.perf_counter() - t0)
                bw.append(bench._bw_sample())
        llm._spread = ops._spread = real_spread
        am, bm = statistics.median(a_times), statistics.median(b_times)
        print(
            f"{name:36s} A(spread) {am:7.3f}s {sorted(round(t,3) for t in a_times)}  "
            f"B(plain) {bm:7.3f}s {sorted(round(t,3) for t in b_times)}  "
            f"ratio A/B {am/bm:5.2f}  bw_med {statistics.median(bw):.4f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
