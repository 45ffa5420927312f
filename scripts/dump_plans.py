"""Dump .explain("formatted") for every benched query to plans/<tag>/.

Usage: python scripts/dump_plans.py <tag> [suffix] [only...]
Writes plans/<tag>/<query>_<suffix>.txt (suffix default "before").
Queries that execute driver-side actions during plan construction
(model trains, probe collects) run them at $SPARK_GRAFT_SF_DIR scale.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r12"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3:])

    from inpe_queimadas_etl_spark.session import get_spark
    from inpe_queimadas_etl_spark.suite import all_queries

    import bench

    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")

    queries = dict(all_queries())
    # pull in the unregistered benched entries exactly as bench.py does
    import importlib

    for name in bench.UNREGISTERED:
        mod_candidates = (
            "inpe_queimadas_etl_spark.suite.llmdata",
            "inpe_queimadas_etl_spark.suite.relational",
        )
        for m in mod_candidates:
            mod = importlib.import_module(m)
            if hasattr(mod, name):
                queries.setdefault(name, getattr(mod, name))
                break

    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    for name in bench.HEADLINE:
        if only and name not in only:
            continue
        fn = queries.get(name)
        if fn is None:
            print(f"!! {name}: not found", file=sys.stderr)
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"ok {name}")
        except Exception as exc:  # keep going; report at the end
            print(f"!! {name}: {exc}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
