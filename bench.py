"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR.

Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3) and the
recorded number is the MEDIAN, so one machine-load spike cannot poison
the round artifact (VERDICT r2: recorded 31.7s vs 18.9s reproducible).
Entries whose 3-run spread exceeds 30 % of the median adaptively widen
to 5 runs with a trimmed [lo, hi] band (VERDICT r7 #5 — sub-second
entries on a loaded VM were uninterpretable at 3 runs); `runs_used`
lands in the JSON's runs_per_query.
Prints the compact JSON record {"metric": ..., "value": total_sec,
"unit": "sec", "queries": {name: sec}, "sf": ...}, then a SHORT JSON
line (metric/value/queries-median-map/comparable/cpu_marker) as the
FINAL stdout line — the driver's tail capture truncated the front of
the growing full record in r5 and r8 (`parsed: null`), so the last
line is kept small enough to always parse (VERDICT r8 #4) while still
carrying the per-query medians the driver's PERF comparison needs
(VERDICT r12 #1). The FULL record (per-query spread, probe medians,
protocol doc) additionally goes to repo-side `bench_last.json` AND a
per-core-count `bench_last_c{CPUS}.json` (VERDICT r12 #7).

Timings are checksum-consumed (`_consume_checksum`, unprunable) —
adopted round 5; the r1-r4 `.count()` protocol ran one transition
round and was dropped in round 6 per VERDICT r5 #1. Cross-round
comparisons must normalize by `cpu_marker` (±20 % driver-VM variance
is proven), never raw seconds: r5 anchors were checksum comparable
subset 10.893 s at cpu_marker {numpy 0.0213, loop 0.0772} (judge VM).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "a8_fact_cube",
    "j7_crossjoin_zerofill",
    "w1_trend_moving_avg",
    "p7_stable_event_hash",
    "dd1_exact_dedup",
    "dd2_ngram_jaccard_pairs",
    "dd3_minhash_signatures",
    "dd4_minhash_lsh_candidates",
    "dd7_dedup_clusters",
    "dd8_passage_dedup",
    "dd9_canonical_keeper",
    "dd10_duplicate_spans",
    "dd11_span_scrub",
    "tx2_token_counts",
    "tx6_ngram_topk",
    "pack1_token_packing",
    "cur5_mixture_resample",
    "cur6_leakfree_split",
    "card1_corpus_manifest",
    "tx7_model_quality_score",
    "tx7_broadcast_quality_score",
    "tx8_lm_perplexity",
    "cur8_dsir_selection",
    "cur9_dsir_resample",
    "tx9_bpe_tokenize",
    "cur10_substring_decontamination",
]

TRANSFORM_ROWS = 100_000

# the two noisiest entries get a wider sample (VERDICT r4 #8): median
# of 5 instead of 3, so one straggler run cannot move the recorded
# number.
_EXTRA_RUNS = {
    "dd2_ngram_jaccard_pairs": 5,
    "transform_canonicalize_100k": 5,
}

# benched-but-unregistered queries (the suite registry is capped at 50
# entries to fit the driver's correctness snapshot); main() resolves
# these directly from their modules, and scripts/qbench.py and
# scripts/dump_plans.py resolve them the same way
UNREGISTERED = (
    "p7_stable_event_hash",
    "j7_crossjoin_zerofill",
    "dd8_passage_dedup",
    "dd9_canonical_keeper",
    "dd10_duplicate_spans",
    "dd11_span_scrub",
    "cur5_mixture_resample",
    "cur6_leakfree_split",
    "card1_corpus_manifest",
    "tx7_model_quality_score",
    "tx7_broadcast_quality_score",
    "tx8_lm_perplexity",
    "cur8_dsir_selection",
    "cur9_dsir_resample",
    "tx9_bpe_tokenize",
    "cur10_substring_decontamination",
)


def _write_transform_csv(path: str, n: int) -> None:
    """Deterministic INPE-shaped CSV for the transform bench (P1-P9
    full path: parse -> clean -> payload -> JVM md5 -> dedup)."""
    sats = ["AQUA_M-T", "TERRA_M", "NOAA-20", "GOES-16"]
    muns = ["São Félix", "Cuiabá", "Alta Floresta", "NA", ""]
    ufs = ["MT", "PA", "AM", "GO"]
    with open(path, "w", encoding="utf-8") as f:
        f.write("Lat,Lon,Data_Hora_GMT,Satelite,Municipio,Estado,Bioma,FRP\n")
        for i in range(n):
            lat = -33.0 + (i % 6000) * 0.01
            lon = -73.0 + (i % 3900) * 0.01
            f.write(
                f"{lat:.6f},{lon:.6f},2024-05-02 {i % 24:02d}:{i % 60:02d}:00,"
                f"{sats[i % 4]},{muns[i % 5]},{ufs[i % 4]},"
                f"Amazônia,{(i % 300) / 10.0}\n"
            )


_ADAPTIVE_MAX_RUNS = 5
_ADAPTIVE_SPREAD_TOL = 0.30


def _time_runs(
    fn, runs: int = RUNS, probe=None
) -> tuple[float, float, float, int]:
    """(median, lo, hi, n_runs) over `runs` executions of fn(), after
    ONE discarded warm-up run so first-run JIT/codegen/shuffle-file
    warm-up does not pollute the recorded spread (VERDICT r3 "What's
    wrong" #3).

    ADAPTIVE WIDENING (VERDICT r7 #5): sub-second entries on a loaded
    VM showed up to 63 % spread at 3 runs, making per-query moves
    uninterpretable. If the initial spread (max-min) exceeds 30 % of
    the median, sampling widens to 5 runs. The TRIMMED middle-(n-2)
    band (one outlier dropped each side) is recorded whenever the
    spread at >=5 samples STILL exceeds 30 % (ADVICE r8: the rule
    follows the spread test alone — pinned 5-run entries included,
    and a widened entry whose extra runs tightened the spread keeps
    the honest untrimmed band); the median is over ALL samples, and
    n_runs records how many were taken.

    ``probe`` (review r12): zero-arg callable invoked between (never
    inside) timed runs — the bandwidth sampler. Sampling only after a
    query's whole run SET let a steal burst contained within the set
    inflate the median while the post-set sample read clean; per-run
    interleaving bounds the blind window to one run."""
    fn()  # warm-up, not measured
    if probe is not None:
        probe()
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
        if probe is not None:
            probe()
    med = statistics.median(samples)

    def _spread_wide() -> bool:
        return (
            med > 0
            and (max(samples) - min(samples)) / med > _ADAPTIVE_SPREAD_TOL
        )

    if len(samples) < _ADAPTIVE_MAX_RUNS and _spread_wide():
        for _ in range(_ADAPTIVE_MAX_RUNS - len(samples)):
            t0 = time.perf_counter()
            fn()
            samples.append(time.perf_counter() - t0)
            if probe is not None:
                probe()
        med = statistics.median(samples)
    # the trimmed-band rule follows the SPREAD test alone (ADVICE r8):
    # a pinned 5-run entry with >30 % spread gets the same trimmed
    # middle-(n-2) band a widened entry does — the protocol is about
    # the spread, not about how the samples were acquired
    if len(samples) >= _ADAPTIVE_MAX_RUNS and _spread_wide():
        band = sorted(samples)[1:-1]
    else:
        band = sorted(samples)
    return (
        round(med, 3),
        round(band[0], 3),
        round(band[-1], 3),
        len(samples),
    )


def _consume_checksum(df):
    """Consume a result by folding EVERY output column into one value.

    ``.count()`` lets Catalyst prune unreferenced expressions out of
    pure-projection plans, so the timed number under-measures (VERDICT
    r4 "What's wrong" #1: p7's md5, dd3's minhash arrays, the agg
    expressions of q1/a8/w1 were all eliminated). xxhash64 over
    struct(*) references every column, so nothing is prunable;
    bit_xor aggregates the hashes without the ANSI-mode overflow risk
    a sum() of full-range 64-bit hashes would carry (Spark 4 defaults
    spark.sql.ansi.enabled=true).
    """
    from pyspark.sql import functions as F

    return df.select(
        F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("checksum")
    ).collect()


def _loadavg() -> list[float]:
    try:
        return [round(x, 2) for x in os.getloadavg()]
    except OSError:  # pragma: no cover - non-POSIX
        return []


def _cpu_marker() -> dict[str, float]:
    """Spark-independent machine-speed probe, recorded so cross-round
    comparisons can separate plan changes from driver-VM variance:
    identical code measured a 7.44 s count-style comparable subset on
    one round-5 VM instance and 9.12 s (idle) on a fresh instance the
    same round — a ±20 % band no per-query analysis can explain from
    plans. Two fixed workloads, median of 5: a numpy matmul (memory
    bandwidth + SIMD) and a pure-Python loop (single-core scalar)."""
    import numpy as np

    a = np.fromfunction(
        lambda i, j: ((i * 37 + j * 11) % 97) / 97.0, (512, 512)
    )
    m_samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            a = 0.5 * (a @ a) / 512.0 + 0.5
        m_samples.append(time.perf_counter() - t0)
    p_samples = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc = (acc + i * 17) % 1_000_003
        p_samples.append(time.perf_counter() - t0)
    return {
        "numpy_matmul_s": round(statistics.median(m_samples), 4),
        "python_loop_s": round(statistics.median(p_samples), 4),
    }


_BW_ARR = None


def _bw_sample() -> float:
    """ONE sample of the numpy-matmul bandwidth workload (the same
    kernel `_cpu_marker` medians over 5), taken DURING the run —
    between timed queries. Why (VERDICT r12 #2): the r11 anchor study
    proved the comparable subset is memory-bandwidth-bound and the
    host's bandwidth steal is bursty WITHIN runs (this marker swings
    0.021<->0.17 within seconds), so a before-run median-of-5 can
    read clean while steal lands mid-run. Per-query samples pin the
    steal to the queries it actually overlapped; their min is the
    best evidence the host was (ever) clean, their median/max show
    what the timed queries actually ran under. ~20 ms clean — noise
    against multi-second query medians."""
    global _BW_ARR
    import numpy as np

    if _BW_ARR is None:
        _BW_ARR = np.fromfunction(
            lambda i, j: ((i * 37 + j * 11) % 97) / 97.0, (512, 512)
        )
    a = _BW_ARR
    t0 = time.perf_counter()
    for _ in range(8):
        a = 0.5 * (a @ a) / 512.0 + 0.5
    _BW_ARR = a
    return time.perf_counter() - t0


def main() -> None:
    from inpe_queimadas_etl_spark.session import get_spark, load_table
    from inpe_queimadas_etl_spark.suite import all_queries

    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # p7 is benched but intentionally unregistered (the suite registry
    # is capped at 50 entries to fit the driver's correctness snapshot;
    # p7 is value-checked inside micro_ops_battery).
    from inpe_queimadas_etl_spark.suite.llmdata import (
        card1_corpus_manifest,
        cur5_mixture_resample,
        dd10_duplicate_spans,
        dd11_span_scrub,
        cur6_leakfree_split,
        dd8_passage_dedup,
        dd9_canonical_keeper,
        tx7_broadcast_quality_score,
        tx7_model_quality_score,
        tx8_lm_perplexity,
        cur8_dsir_selection,
        cur9_dsir_resample,
        tx9_bpe_tokenize,
        cur10_substring_decontamination,
    )
    from inpe_queimadas_etl_spark.suite.relational import (
        j7_crossjoin_zerofill,
        p7_stable_event_hash,
    )

    queries.setdefault("p7_stable_event_hash", p7_stable_event_hash)
    # j7 left the 50-slot registry in round 7 (slot went to
    # llm_ops_battery) but stays benched as an r1-comparable anchor
    queries.setdefault("j7_crossjoin_zerofill", j7_crossjoin_zerofill)
    queries.setdefault("dd8_passage_dedup", dd8_passage_dedup)
    queries.setdefault("dd9_canonical_keeper", dd9_canonical_keeper)
    queries.setdefault("dd10_duplicate_spans", dd10_duplicate_spans)
    queries.setdefault("dd11_span_scrub", dd11_span_scrub)
    queries.setdefault("cur5_mixture_resample", cur5_mixture_resample)
    queries.setdefault("cur6_leakfree_split", cur6_leakfree_split)
    queries.setdefault("card1_corpus_manifest", card1_corpus_manifest)
    queries.setdefault("tx7_model_quality_score", tx7_model_quality_score)
    queries.setdefault("tx8_lm_perplexity", tx8_lm_perplexity)
    queries.setdefault("cur8_dsir_selection", cur8_dsir_selection)
    queries.setdefault("cur9_dsir_resample", cur9_dsir_resample)
    queries.setdefault("tx9_bpe_tokenize", tx9_bpe_tokenize)
    queries.setdefault("cur10_substring_decontamination", cur10_substring_decontamination)
    queries.setdefault(
        "tx7_broadcast_quality_score", tx7_broadcast_quality_score
    )

    # Warm the JVM / session (codegen, parquet footer reads) so the
    # first timed query measures the plan, not session startup; keeps
    # round-over-round numbers comparable (VERDICT r1 #10).
    for warm_tbl in ("lineitem", "events", "documents", "embeddings"):
        load_table(spark, SF_DIR, warm_tbl).count()

    load_before = _loadavg()
    cpu_marker = _cpu_marker()
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    runs_used: dict[str, int] = {}
    bw_after: dict[str, float] = {}
    bw_samples: list[float] = []  # every raw probe, all queries
    _bw_sample()  # build + warm the kernel OUTSIDE any query's
    # record (review r12: the lazy first build inflated query 1's
    # sample, skewing the min/median comparison)
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            # a silent skip would shrink the headline total and read
            # as a perf win — fail loudly on renames/removals instead
            raise KeyError(
                f"bench HEADLINE entry {name!r} not found in the suite "
                "registry; update HEADLINE or restore the query"
            )
        # checksum-consume: every output column is referenced, so
        # Catalyst cannot prune the timed work (VERDICT r4 #1)
        runner = lambda: _consume_checksum(fn(spark, SF_DIR))
        # Drop the previous query's lingering state (Python-held
        # localCheckpoint RDDs keep executor blocks alive until GC):
        # isolated dd7 reruns at 1.55 s while the same code inside a
        # long bench process drifted to 2.2 s from exactly this
        # cross-query interference. The Python collect alone only
        # detaches the py4j refs — the JVM-side RDDs stay reachable
        # until a JVM GC lets ContextCleaner drop their blocks, so
        # nudge the JVM too (r12): one System.gc() per QUERY (never
        # inside a timed run), so each query starts from the same
        # drained block store instead of inheriting the previous
        # queries' accumulation.
        import gc

        gc.collect()
        # _jvm is a private py4j handle and absent under Spark Connect;
        # degrade to the Python-only collect instead of crashing the
        # bench before any timing runs (ADVICE r12)
        try:
            jvm = spark.sparkContext._jvm
            if jvm is not None:
                jvm.System.gc()
        except Exception:
            pass
        # per-RUN interleaved sampling (review r12): sampling once
        # after the whole run set left a burst contained within the
        # set invisible; now each query records the median of the
        # probes taken between its own timed runs
        q_bw: list[float] = []
        med, lo, hi, n_used = _time_runs(
            runner, _EXTRA_RUNS.get(name, RUNS),
            probe=lambda: q_bw.append(_bw_sample()),
        )
        timings[name] = med
        spread[name] = [lo, hi]
        runs_used[name] = n_used
        bw_samples.extend(q_bw)
        bw_after[name] = round(statistics.median(q_bw), 4)
        print(f"# {name}: median {med}s over {n_used} runs "
              f"[{lo}, {hi}] bw {bw_after[name]}", file=sys.stderr)

    # Transform canonicalize bench: CSV -> curated (P1-P9) over a
    # deterministic 100k-row file; measures the Arrow batch + JVM md5
    # + dedup-window path end to end (VERDICT r2 #2).
    from inpe_queimadas_etl_spark.sources.csv_ingest import read_csv_all_string
    from inpe_queimadas_etl_spark.transform import curated_from_raw

    with tempfile.TemporaryDirectory() as tmp:
        csv_path = os.path.join(tmp, "focos_bench.csv")
        _write_transform_csv(csv_path, TRANSFORM_ROWS)
        file_date = dt.date(2024, 5, 2)

        def run_transform():
            raw = read_csv_all_string(spark, csv_path)
            curated_from_raw(raw, file_date).count()

        q_bw = []
        med, lo, hi, n_used = _time_runs(
            run_transform, _EXTRA_RUNS["transform_canonicalize_100k"],
            probe=lambda: q_bw.append(_bw_sample()),
        )
        timings["transform_canonicalize_100k"] = med
        spread["transform_canonicalize_100k"] = [lo, hi]
        runs_used["transform_canonicalize_100k"] = n_used
        bw_samples.extend(q_bw)
        bw_after["transform_canonicalize_100k"] = round(
            statistics.median(q_bw), 4
        )
        print(f"# transform_canonicalize_100k: median {med}s over "
              f"{n_used} runs [{lo}, {hi}]", file=sys.stderr)

    sf_label = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf = float(sf_label)
    except ValueError:
        sf = sf_label
    # the queries present since round 1 that still exist (13 of the
    # 14) — the anchor subset judged against the r1-recorded 22.09 s
    # (new entries grow the headline total without regressing
    # anything; this keeps rounds comparable)
    comparable = [
        "q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier_volume", "a8_fact_cube",
        "j7_crossjoin_zerofill", "w1_trend_moving_avg",
        "p7_stable_event_hash", "dd1_exact_dedup",
        "dd2_ngram_jaccard_pairs", "dd3_minhash_signatures",
        "dd4_minhash_lsh_candidates", "dd7_dedup_clusters",
        "tx2_token_counts",
    ]
    result = {
        "metric": "headline_suite_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs_per_query": {
            "default": RUNS,
            **{n: k for n, k in sorted(runs_used.items()) if k != RUNS},
        },
        "comparable_r1_subset_total": round(
            sum(timings[q] for q in comparable if q in timings), 3
        ),
        # machine-load markers (VERDICT r4 #2: prove/deny env drift)
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "cpu_marker": cpu_marker,
        # DURING-run bandwidth probe (VERDICT r12 #2): matmul
        # samples interleaved between every timed run — min is the
        # host's clean floor, median/max what the timed queries
        # actually ran under; per-query MEDIANS in bench_last.json's
        # bw_probe_after, the aggregate here over all raw samples
        "cpu_marker_during": {
            "min": round(min(bw_samples), 4),
            "median": round(statistics.median(bw_samples), 4),
            "max": round(max(bw_samples), 4),
            "n": len(bw_samples),
        },
        "cpus": CPUS,
        "notes": "checksum protocol (r5+); adaptive 5-run widening + "
        "trimmed band when 3-run spread >30% (r8); during-run bw "
        "probe (r12); anchors+spread in bench_last.json/SCALING.md",
    }
    # The full record (per-query spread, consume-protocol doc) goes to a
    # repo-side file so the round artifact never again depends on the
    # driver's tail-capture buffer (BENCH_r05 was `parsed: null` — the
    # dual-protocol line outgrew it). The stdout line stays compact.
    full = dict(result)
    full["spread"] = spread
    full["bw_probe_after"] = bw_after
    full["consume"] = (
        "bit_xor(xxhash64(struct(*))) — unprunable; see _consume_checksum"
    )
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo_dir, "bench_last.json"), "w") as f:
        json.dump(full, f, indent=2, sort_keys=True)
        f.write("\n")
    # ALSO stamp a per-core-count copy (VERDICT r12 #3/#7): the
    # driver's scaling pass (same command, lower $SPARK_GRAFT_CPUS)
    # used to clobber the anchor record; bench_last_c{N}.json keeps
    # one record per configuration so a c8 run never erases the c32
    # anchor's spread/probe detail.
    with open(os.path.join(repo_dir, f"bench_last_c{CPUS}.json"), "w") as f:
        json.dump(full, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(result))
    # SECOND, short line LAST (VERDICT r8 #4): the driver records the
    # tail of stdout, and the full per-query record outgrew its capture
    # buffer in r5 and again in r8 (`parsed: null`, front truncated).
    # A compact headline as the FINAL line always fits the tail intact,
    # so BENCH_r{N}.json parses regardless of suite size.
    # VERDICT r12 #1: the driver parses ONLY this final line, so the
    # per-query median map must ride it or PERF_r{N} gets
    # `per_query: {}` / `n_common: 0` (two rounds running). The map is
    # ~1.7 KB for 50 entries — far under the observed ~4 KB tail
    # capture, and an order of magnitude below the full record whose
    # spread/notes/runs fields caused the r5/r8 truncations. Those
    # heavyweight fields stay OUT of this line (full record: preceding
    # stdout line + bench_last.json).
    print(
        json.dumps(
            {
                "metric": result["metric"],
                "value": result["value"],
                "unit": result["unit"],
                "queries": timings,
                "sf": result["sf"],
                "comparable_r1_subset_total": result[
                    "comparable_r1_subset_total"
                ],
                "cpu_marker": cpu_marker,
                "cpu_marker_during": result["cpu_marker_during"],
                "n_queries": len(timings),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
