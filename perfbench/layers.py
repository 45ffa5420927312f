"""Which package functions the traced run wraps, and the per-layer
metrics read back from their spans.

Span names are ``<layer>.<what>``; the layer is the package module
the wrapped function belongs to. Counts (rows in and out, partitions
and bytes published, cache hits) are recorded at the same boundaries.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

QUERY_FNS = ["timeseries_total", "top_groups", "totals", "summary",
             "choropleth_uf", "choropleth_mun", "points"]
API_ROUTES = ["summary", "timeseries_total", "top", "totals", "choropleth_uf",
              "choropleth_mun", "points", "geo"]
SELF_LAYERS = ["csv_ingest", "transform", "enrich", "geo", "marts", "pipeline",
               "warehouse", "checks", "queries", "geoqueries", "serving_cache", "api", "corpus"]

# per-layer metric name -> unit, as BENCHMARK.json lists them
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    UNITS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}

_DAILY_MARTS = ["focos_diario_municipio", "focos_diario_uf", "focos_diario_bioma",
                "focos_diario_uc", "focos_diario_ti"]
_MONTHLY_MARTS = ["focos_mensal_municipio", "focos_mensal_uf"]


def _written_since(root: str, since: float) -> list[str]:
    """Parquet files under ``root`` written at or after ``since``."""
    out = []
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            if n.endswith(".parquet") and os.stat(p).st_mtime >= since:
                out.append(p)
    return out


def instrument(tracer) -> None:
    """Wrap the package's public functions for one traced run."""
    from inpe_queimadas_etl_spark import (
        api, corpus_pipeline, enrich, geoqueries, marts, pipeline, queries, session,
    )
    from inpe_queimadas_etl_spark import checks as C

    t = tracer

    def raw_counts(span, args, kwargs, df):
        path = args[1] if len(args) > 1 else kwargs["path"]
        span["attrs"]["rows"] = n = df.count()
        t.count("csv_ingest.rows_in", n)
        t.count("csv_ingest.bytes_in", os.path.getsize(path))

    def curated_counts(span, args, kwargs, df):
        # rows with parseable, in-range coordinates: the transform's
        # own validity rule, applied through the package's helpers
        from inpe_queimadas_etl_spark.functions.core import (
            decimal_comma_to_double, normalize_columns,
        )
        from inpe_queimadas_etl_spark.transform import resolve_focos_columns

        raw = normalize_columns(args[0])
        cols = resolve_focos_columns(raw.columns)
        lat, lon = decimal_comma_to_double(cols["lat"]), decimal_comma_to_double(cols["lon"])
        rows_in = raw.count()
        valid = raw.filter(lat.between(-90, 90) & lon.between(-180, 180)).count()
        t.count("transform.rows_in", rows_in)
        t.count("transform.valid", valid)
        t.count("transform.rows_out", span["attrs"]["rows"])

    def enriched_counts(span, args, kwargs, df):
        t.count("enrich.rows", span["attrs"]["rows"])
        t.count("enrich.unattributed", df.filter(F.col("mun_cd_mun").isNull()).count())

    def knn_counts(span, args, kwargs, df):
        t.count("geo.knn_matched", df.filter(F.col(kwargs.get("id_alias", "mun_cd_mun")).isNotNull()).count())

    def pip_dim(args, kwargs):
        alias = kwargs["id_alias"]
        return {"dim": {"mun_cd_mun": "mun", "cd_bioma": "bioma", "cd_cnuc": "uc",
                        "terrai_cod": "ti"}.get(alias, alias)}

    t.wrap(session, "get_spark", "session.start")
    t.wrap(pipeline, "read_csv_all_string", "csv_ingest.read", force=True, after=raw_counts)
    t.wrap(pipeline, "curated_from_raw", "transform.curate", force=True, after=curated_counts)
    t.wrap(pipeline, "new_rows_only", "enrich.new_rows_only", force=True)
    t.wrap(pipeline, "enrich", "enrich.enrich", force=True, after=enriched_counts)
    t.wrap(enrich, "point_in_polygon_join", "geo.pip", force=True, attrs=pip_dim)
    t.wrap(enrich, "knn_nearest_within", "geo.knn", force=True, after=knn_counts)
    for name in _DAILY_MARTS + _MONTHLY_MARTS + ["focos_diario_uf_trend", "mv_focos_day_dim"]:
        t.wrap(marts, name, f"marts.{name}", force=True)
    t.wrap(pipeline, "process_batch", "pipeline.process_batch")
    t.wrap(pipeline, "write_validation_report", "checks.report")
    for name in ("check_mart_consistency", "check_enrichment_coverage", "check_checked_flags"):
        t.wrap(C, name, f"checks.{name}")

    wh = pipeline.Warehouse

    def publish(kind):
        def after(span, args, kwargs, _out):
            table = args[2] if len(args) > 2 else kwargs["table"]
            root = os.path.join(str(args[0].root), table)
            fresh = _written_since(root, span["attrs"]["start_wall"])
            parts = {os.path.dirname(p) for p in fresh}
            t.count("warehouse.files_written", len(fresh))
            t.count("warehouse.bytes_written", sum(os.path.getsize(p) for p in fresh))
            if kind != "append":
                t.count("warehouse.publishes")
                t.count("warehouse.partitions_swapped", len(parts) if kind == "partitions" else 1)
        return after

    for attr, kind in (("append", "append"), ("overwrite_partitions", "partitions"),
                       ("overwrite", "table")):
        # file mtimes have coarse granularity on some filesystems
        t.wrap(wh, attr, f"warehouse.{attr}", after=publish(kind),
               attrs=lambda a, k: {"start_wall": time.time() - 0.05})

    for fn in QUERY_FNS:
        t.wrap(queries, fn, f"queries.{fn}", force=fn not in ("summary", "points"))
    t.wrap(geoqueries, "geo_overlay", "geoqueries.geo_overlay")

    seen_miss: set[str] = set()
    orig_cached = api.cached

    def cached(cache, key, run):
        def traced_run():
            with t.span("api.compute"):
                return run()

        with t.span("serving_cache.lookup"):
            out = orig_cached(cache, key, traced_run)
        kind = "points" if key.startswith("/api/points") else "general"
        t.count(f"serving_cache.{kind}_{'hits' if out[1] else 'misses'}")
        if not out[1]:
            with t._lock:
                if key in seen_miss:
                    t.counts["serving_cache.redundant_misses"] += 1
                seen_miss.add(key)
        return out

    api.cached = cached
    t._patches.append((api, "cached", orig_cached))

    t.wrap(corpus_pipeline, "dd7_dedup_clusters", "corpus.dd7_labels", force=True)
    for name in ("curation_decisions", "repetition_stats"):
        t.wrap(corpus_pipeline, name, f"corpus.curation.{name}", force=True)
    for name in ("split_from_clusters", "pack_doc_assignments"):
        t.wrap(corpus_pipeline, name, f"corpus.split_pack.{name}", force=True)
    t.wrap(corpus_pipeline, "export_sharded_parquet", "corpus.export")


def _sum(spans, pred) -> float:
    return sum(s["end"] - s["start"] for s in spans if pred(s["name"]))


def _median_ms(spans, name) -> float:
    xs = [(s["end"] - s["start"]) * 1e3 for s in spans if s["name"] == name]
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, requests: list[dict], corpus_manifest: dict | None,
                  corpus_docs_per_s: float, extra: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    spans, c = tracer.spans, tracer.counts
    m: dict[str, float] = {}
    m["session.start_s"] = _sum(spans, lambda n: n == "session.start")
    m["csv_ingest.read_s"] = _sum(spans, lambda n: n == "csv_ingest.read")
    m["csv_ingest.rows_in"] = c["csv_ingest.rows_in"]
    m["csv_ingest.bytes_in"] = c["csv_ingest.bytes_in"]
    m["transform.curate_s"] = _sum(spans, lambda n: n == "transform.curate")
    m["transform.rows_out"] = c["transform.rows_out"]
    rows_in = max(c["transform.rows_in"], 1)
    m["transform.dedup_drop_share"] = (c["transform.valid"] - c["transform.rows_out"]) / rows_in
    m["transform.invalid_drop_share"] = (c["transform.rows_in"] - c["transform.valid"]) / rows_in
    m["enrich.new_rows_only_s"] = _sum(spans, lambda n: n == "enrich.new_rows_only")
    m["enrich.enrich_s"] = _sum(spans, lambda n: n == "enrich.enrich")
    enriched = max(c["enrich.rows"], 1)
    m["enrich.mun_knn_share"] = c["geo.knn_matched"] / enriched
    m["enrich.unattributed_share"] = c["enrich.unattributed"] / enriched
    for dim in ("mun", "bioma", "uc", "ti"):
        m[f"geo.pip_{dim}_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["name"] == "geo.pip" and s["attrs"].get("dim") == dim
        )
    m["geo.knn_s"] = _sum(spans, lambda n: n == "geo.knn")
    m["marts.daily_s"] = _sum(spans, lambda n: n in {f"marts.{x}" for x in _DAILY_MARTS})
    m["marts.monthly_s"] = _sum(spans, lambda n: n in {f"marts.{x}" for x in _MONTHLY_MARTS})
    m["marts.trend_s"] = _sum(spans, lambda n: n == "marts.focos_diario_uf_trend")
    m["marts.day_dim_s"] = _sum(spans, lambda n: n == "marts.mv_focos_day_dim")
    m["pipeline.process_batch_s"] = _sum(spans, lambda n: n == "pipeline.process_batch")
    m["api.first_paint_s"] = extra.get("first_paint_s", 0.0)
    m["pipeline.replay_s"] = extra.get("replay_s", 0.0)
    m["pipeline.daily_ingest_s"] = extra.get("daily_ingest_s", 0.0)
    m["warehouse.append_s"] = _sum(spans, lambda n: n == "warehouse.append")
    m["warehouse.publish_s"] = _sum(
        spans, lambda n: n in ("warehouse.overwrite_partitions", "warehouse.overwrite"))
    for k in ("publishes", "partitions_swapped", "files_written", "bytes_written"):
        m[f"warehouse.{k}"] = c[f"warehouse.{k}"]
    m["warehouse.write_amp"] = c["warehouse.bytes_written"] / max(c["csv_ingest.bytes_in"], 1)
    m["checks.report_s"] = _sum(spans, lambda n: n == "checks.report")
    for fn in QUERY_FNS:
        m[f"queries.{fn}_ms"] = _median_ms(spans, f"queries.{fn}")
    m["geoqueries.geo_overlay_ms"] = _median_ms(spans, "geoqueries.geo_overlay")
    for kind in ("general", "points"):
        h, mi = c[f"serving_cache.{kind}_hits"], c[f"serving_cache.{kind}_misses"]
        m[f"serving_cache.{kind}_hit_ratio"] = h / max(h + mi, 1)
    misses = c["serving_cache.general_misses"] + c["serving_cache.points_misses"]
    m["serving_cache.redundant_miss_ratio"] = c["serving_cache.redundant_misses"] / max(misses, 1)
    for r in API_ROUTES:
        lat = [q["ms"] for q in requests if q["route"] == r]
        m[f"api.{r}.p50_ms"] = statistics.median(lat) if lat else 0.0
        m[f"api.{r}.count"] = len(lat)
    m["api.non200"] = sum(q["status"] != 200 for q in requests)
    m["api.p90_ms"] = extra.get("request_p90_ms", 0.0)
    run = tracer.spark_counts(s["id"] for s in spans)
    req_ids = {s["trace_id"] for s in spans if s["name"] == "api.request"}
    dash = tracer.spark_counts(s["id"] for s in spans if s["trace_id"] in req_ids)
    m["spark.jobs"] = run["jobs"]
    m["spark.tasks"] = run["tasks"]
    m["spark.single_task_stage_share"] = run["single_task_stages"] / max(run["stages"], 1)
    m["spark.jobs_per_request"] = dash["jobs"] / max(len(req_ids), 1)
    m["spark.jvm_peak_rss_mb"] = extra["peak_rss_mb"]
    m["corpus.dd7_labels_s"] = _sum(spans, lambda n: n == "corpus.dd7_labels")
    m["corpus.curation_s"] = _sum(spans, lambda n: n.startswith("corpus.curation."))
    m["corpus.split_pack_s"] = _sum(spans, lambda n: n.startswith("corpus.split_pack."))
    m["corpus.export_s"] = _sum(spans, lambda n: n == "corpus.export")
    if corpus_manifest:
        kept = sum(s["docs"] for s in corpus_manifest["splits"].values())
        m["corpus.kept_share"] = kept / max(corpus_manifest["input_docs"], 1)
    else:
        m["corpus.kept_share"] = 0.0
    m["corpus.docs_per_s"] = corpus_docs_per_s
    st = tracer.self_times()
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = sum(st[s["id"]] for s in spans if s["name"].split(".")[0] == layer)
    assert set(m) == set(UNITS), set(m) ^ set(UNITS)
    return m
