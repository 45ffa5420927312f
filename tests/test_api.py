"""HTTP serving front (api.py vs reference api/app/main.py:925-1710 +
scripts/smoke.ps1:36-97): every endpoint served over real HTTP against
a fixture warehouse, with the reference smoke script's assertions."""

from __future__ import annotations

import datetime as dt
import json
import threading
import time
import urllib.error
import urllib.request

import pytest

from inpe_queimadas_etl_spark import geoprep, marts
from inpe_queimadas_etl_spark.api import ApiContext, handle_request, serve
from inpe_queimadas_etl_spark.pipeline import batch_pass
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G

FILE_DATE = dt.date(2024, 5, 2)
FROM, TO = "2024-05-01", "2024-05-05"


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    dims = {"municipios": G.municipios(), "biomas": G.biomas(), "ucs": G.ucs(), "tis": G.tis()}
    enriched = batch_pass(spark, [(FILE_DATE, path)], dims).cache()
    fact = spark.createDataFrame(marts.mv_focos_day_dim(marts.day_cube(enriched.toArrow()))).cache()
    all_ufs = spark.createDataFrame([(u,) for u in G.UFS], "uf string")
    mun_feats = G.municipios()
    ufs_web = geoprep.ufs_web(geoprep.municipios_web(mun_feats))
    uf_feats = [p for parts in ufs_web.values() for p in parts]
    return ApiContext(
        spark=spark,
        fact=fact,
        all_ufs=all_ufs,
        enriched=enriched,
        feats={
            "uf": uf_feats,
            "mun": mun_feats,
            "uc": G.ucs(),
            "ti": G.tis(),
        },
    )


@pytest.fixture(scope="module")
def base_url(ctx):
    server = serve(ctx, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


def _get(base_url: str, path: str):
    try:
        with urllib.request.urlopen(base_url + path, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_smoke_all_endpoints(base_url):
    """The smoke.ps1 walk: health, validate, choropleths, points (with
    payload-field assertions), summary -> peak-day points, top -> keyed
    bounds/geo for uf/uc/ti, lookup."""
    rng = f"from={FROM}&to={TO}"

    status, health = _get(base_url, "/health")
    assert status == 200 and health["status"] == "ok"

    status, val = _get(base_url, f"/api/validate?{rng}")
    assert status == 200
    assert val["consistent"] and val["ok"]

    status, choro = _get(base_url, f"/api/choropleth/uf?{rng}")
    assert status == 200
    assert {i["key"] for i in choro["items"]} == set(G.UFS)  # zero-filled
    assert choro["legend"]["breaks"] == sorted(choro["legend"]["breaks"])

    status, points = _get(
        base_url, "/api/points?date=2024-05-02&bbox=0.0,0.0,4.0,3.0&limit=5000"
    )
    assert status == 200
    assert points["returned"] <= points["limit"]  # smoke.ps1:50-52
    assert points["returned"] > 0
    first = points["points"][0]
    for fieldname in ("uf", "mun_key", "mun_label", "bioma_key", "bioma_label"):
        assert fieldname in first  # smoke.ps1:63-67

    # summary under a uf filter -> points on the peak day, filtered
    status, summary = _get(base_url, f"/api/summary?{rng}&uf=AA")
    assert status == 200 and summary["peak_day"]
    status, peak_points = _get(
        base_url,
        f"/api/points?date={summary['peak_day']}"
        "&bbox=-74.0,-34.0,34.0,6.0&limit=5000&uf=AA",
    )
    assert status == 200
    if summary["total_n_focos"] > 0:
        assert peak_points["returned"] > 0  # smoke.ps1:57-59

    # top per group -> keyed endpoints
    status, top_uf = _get(base_url, f"/api/top?group=uf&{rng}&limit=1")
    assert status == 200 and top_uf["items"]
    uf_key = top_uf["items"][0]["key"]
    status, _ = _get(base_url, f"/api/choropleth/mun?{rng}&uf={uf_key}")
    assert status == 200
    status, b = _get(base_url, f"/api/bounds?entity=uf&key={uf_key}")
    assert status == 200 and len(b["bbox"]) == 4

    for entity, group in (("uc", "uc"), ("ti", "ti")):
        status, top = _get(base_url, f"/api/top?group={group}&{rng}&limit=1")
        assert status == 200
        if top["items"]:
            key = top["items"][0]["key"]
            status, b = _get(base_url, f"/api/bounds?entity={entity}&key={key}")
            assert status == 200 and len(b["bbox"]) == 4
            status, geo = _get(
                base_url, f"/api/geo?entity={entity}&key={key}&{rng}"
            )
            assert status == 200
            feat = geo["geojson"]["features"][0]
            assert feat["properties"]["key"] == key
            assert feat["geometry"]["type"] in ("Polygon", "MultiPolygon")
            status, qa = _get(
                base_url, f"/api/geo/qa?entity={entity}&key={key}"
            )
            assert status == 200 and qa["is_valid_after"]

    status, lk = _get(base_url, "/api/lookup/mun?key=m100")
    assert status == 200 and lk["mun"] == "m100" and lk["uf"]

    status, ts = _get(base_url, f"/api/timeseries/total?{rng}")
    assert status == 200
    assert sum(i["n_focos"] for i in ts["items"]) > 0

    status, tot = _get(base_url, f"/api/totals?{rng}")
    assert status == 200
    assert tot["total_n_focos"] == sum(i["n_focos"] for i in ts["items"])


def test_hostile_and_edge_params(base_url):
    """Review findings: unknown granularity must 422 (not bucket to
    NULL and cache it), query params that shadow internal argument
    names must not 500, and a trailing slash must hit the same cache
    as the canonical path."""
    rng = f"from={FROM}&to={TO}"
    status, _ = _get(base_url, f"/api/timeseries/total?{rng}&granularity=bogus")
    assert status == 422
    status, _ = _get(base_url, f"/api/timeseries/total?{rng}&granularity=week")
    assert status == 200
    # params named like cache-helper arguments
    status, _ = _get(base_url, f"/api/totals?{rng}&run=1&endpoint=x&self=y")
    assert status == 200
    status, p1 = _get(
        base_url, "/api/points/?date=2024-05-02&bbox=0.0,0.0,4.0,3.0&limit=50"
    )
    status2, p2 = _get(
        base_url, "/api/points?date=2024-05-02&bbox=0.0,0.0,4.0,3.0&limit=50"
    )
    assert status == status2 == 200 and p1 == p2


def test_error_mapping(spark, base_url):
    """Reference validation semantics: bad range/bbox -> 422 (pydantic
    422 analog), unknown keys/endpoints -> 404."""
    status, _ = _get(base_url, "/api/totals?from=2024-05-05&to=2024-05-01")
    assert status == 422
    status, _ = _get(
        base_url, "/api/points?date=2024-05-02&bbox=1,2,3&limit=10"
    )
    assert status == 422
    # float() parses nan/inf; NaN fails every bound check, so it must
    # be refused up front rather than answer 200 with zero points
    for bbox in ("nan,nan,nan,nan", "-60,nan,-50,-5", "-60,-10,inf,-5"):
        status, body = _get(
            base_url, f"/api/points?date=2024-05-02&bbox={bbox}&limit=10"
        )
        assert status == 422 and body["detail"] == "bbox values must be numeric"
    status, _ = _get(base_url, "/api/points?bbox=0,0,1,1")
    assert status == 422  # date required
    # a valid key with a non-finite tolerance: 422, never a bare NaN body
    status, _ = _get(base_url, "/api/geo/qa?entity=uc&key=U1")
    assert status == 200
    for path in (f"/api/geo?from={FROM}&to={TO}&", "/api/geo/qa?"):
        status, _ = _get(base_url, f"{path}entity=uc&key=U1&tol_m=nan")
        assert status == 422
    status, _ = _get(base_url, f"/api/top?group=nope&from={FROM}&to={TO}")
    assert status == 422
    status, _ = _get(base_url, "/api/bounds?entity=uc&key=NOPE")
    assert status == 404
    status, _ = _get(base_url, "/api/nope")
    assert status == 404
    status, _ = _get(base_url, f"/api/choropleth/mun?from={FROM}&to={TO}")
    assert status == 422  # uf required
    # mun filter without uf -> invalid filter state (422 at validation)
    status, _ = _get(base_url, f"/api/totals?from={FROM}&to={TO}&mun=m100")
    assert status == 422
    # a blank filter value is no filter, for the checks as for the
    # query: the municipal map still needs a uf, the municipality
    # guardrail still caps, and a mun filter still needs a uf
    rng = f"from={FROM}&to={TO}"
    status, _ = _get(base_url, f"/api/choropleth/mun?{rng}&uf=%20")
    assert status == 422
    status, body = _get(base_url, f"/api/top?group=mun&uf=%20&limit=50&{rng}")
    assert status == 200 and len(body["items"]) <= 10
    status, _ = _get(base_url, f"/api/totals?{rng}&mun=m100&uf=%20")
    assert status == 422
    # the fixture has fewer than ten municipalities with fires; on
    # twelve, the blank uf must still cap the list at ten
    wide = ApiContext(
        spark=spark,
        fact=spark.createDataFrame(
            [(dt.date(2024, 5, 2), "AA", f"m{i:02d}", f"Mun {i}", 1) for i in range(12)],
            "day date, uf string, cd_mun string, mun_nm_mun string, n_focos long",
        ),
        all_ufs=spark.createDataFrame([("AA",)], "uf string"),
    )
    params = {"from": FROM, "to": TO, "group": "mun", "uf": " ", "limit": "50"}
    status, body = handle_request(wide, "/api/top", params)
    assert status == 200 and len(body["items"]) == 10


def test_choropleth_geojson_variants(ctx):
    """With geometry tables in the context, both choropleth endpoints
    return the reference's full GeoJSON response (zero-filled features,
    per-feature n_focos/mean_per_day, quantile legend) instead of the
    items-only shape."""
    import dataclasses

    from inpe_queimadas_etl_spark.serving_cache import ServingCache

    web = geoprep.municipios_web(G.municipios())
    geo_ctx = dataclasses.replace(ctx, mun_web_feats=web, cache=ServingCache())

    status, body = handle_request(
        geo_ctx, "/api/choropleth/uf", {"from": FROM, "to": TO}
    )
    assert status == 200
    feats = body["geojson"]["features"]
    assert {f["properties"]["uf"] for f in feats} == set(G.UFS)
    assert all("coordinates" in f["geometry"] for f in feats)
    assert body["breaks"] == sorted(body["breaks"])

    status, body = handle_request(
        geo_ctx, "/api/choropleth/mun", {"from": FROM, "to": TO, "uf": "AA"}
    )
    assert status == 200
    mun_feats_out = body["geojson"]["features"]
    assert mun_feats_out and all(
        f["properties"]["uf"] == "AA" for f in mun_feats_out
    )
    # ordered n_focos desc, key asc (reference ordering)
    ns = [f["properties"]["n_focos"] for f in mun_feats_out]
    assert ns == sorted(ns, reverse=True)


def test_lookup_from_municipality_features_alone(spark, ctx, base_url):
    """A context shaped like the benchmark's (geometry dims in
    ``feats``, no other geometry input) serves /api/lookup/mun with
    the same body as the HTTP walk's."""
    bench_shaped = ApiContext(
        spark=spark,
        fact=ctx.fact,
        all_ufs=ctx.all_ufs,
        enriched=ctx.enriched,
        feats={"mun": G.municipios(), "uc": G.ucs(), "ti": G.tis()},
    )
    want = _get(base_url, "/api/lookup/mun?key=m100")
    assert want[0] == 200
    assert handle_request(bench_shaped, "/api/lookup/mun", {"key": "m100"}) == want
    # without municipality features the route 404s, as before
    bare = ApiContext(spark=spark, fact=ctx.fact, all_ufs=ctx.all_ufs)
    status, body = handle_request(bare, "/api/lookup/mun", {"key": "m100"})
    assert status == 404
    assert body["detail"] == "municipality geometry table not loaded"


def test_caching_second_hit_serves_from_cache(ctx):
    """The serving cache fronts cacheable endpoints exactly like the
    reference's TTLCache (same URL key -> the second call reads the
    stored response, no second computation)."""
    # a range no other test uses, so the first call is a genuine miss
    params = {"from": "2024-04-20", "to": "2024-05-04"}
    before_hits = ctx.cache.general.hits
    before_miss = ctx.cache.general.misses
    status, body1 = handle_request(ctx, "/api/totals", params)
    status, body2 = handle_request(ctx, "/api/totals", dict(params))
    assert status == 200 and body1 == body2
    assert ctx.cache.general.hits == before_hits + 1
    assert ctx.cache.general.misses == before_miss + 1


# one request per dashboard route (the benchmark's route cycle) plus
# the consistency check, on the fixture's range and keys
DASHBOARD_REQUESTS = [
    ("/api/summary", {"from": FROM, "to": TO}),
    ("/api/timeseries/total", {"from": FROM, "to": TO}),
    ("/api/top", {"from": FROM, "to": TO, "group": "mun", "uf": "AA"}),
    ("/api/totals", {"from": FROM, "to": TO, "bioma": "cerrado"}),
    ("/api/choropleth/uf", {"from": FROM, "to": TO}),
    ("/api/choropleth/mun", {"from": FROM, "to": TO, "uf": "AA"}),
    ("/api/points", {"date": "2024-05-02", "bbox": "0,0,4,3", "limit": "5"}),
    ("/api/geo", {"from": FROM, "to": TO, "entity": "uc", "key": "U1"}),
    ("/api/validate", {"from": FROM, "to": TO, "uc": "U1"}),
]


def test_warm_context_answers_without_spark_jobs(spark, ctx):
    """Once a context is built, every dashboard route answers from its
    cube: no request starts a Spark job."""
    import dataclasses

    from inpe_queimadas_etl_spark.serving_cache import ServingCache

    warm = dataclasses.replace(ctx, cache=ServingCache())  # every call a miss
    sc = spark.sparkContext
    group = "test-warm-context-requests"
    sc.setJobGroup(group, "dashboard requests on a warm context")
    try:
        answers = [handle_request(warm, path, p) for path, p in DASHBOARD_REQUESTS]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [status for status, _ in answers] == [200] * len(DASHBOARD_REQUESTS), answers
    assert answers[6][1]["returned"] > 0 and answers[8][1]["ok"]
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_context_serves_across_publish(spark, tmp_path):
    """A context keeps answering, with its own snapshot, after a later
    publish rewrites the tables it was built from; a new context sees
    the published day."""
    from inpe_queimadas_etl_spark.pipeline import Warehouse, run_day
    from inpe_queimadas_etl_spark.schemas import UF_AREA
    from inpe_queimadas_etl_spark.serving_cache import ServingCache

    dims = {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }
    wh = Warehouse(str(tmp_path / "warehouse"))
    csv1 = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv1, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    run_day(spark, wh, csv1, FILE_DATE, dims)

    def context():
        return ApiContext(
            spark=spark,
            fact=wh.read(spark, "mv_focos_day_dim"),
            all_ufs=dims["uf_area"].select("uf"),
            enriched=wh.read(spark, "enriched_focos"),
            feats={"uc": G.ucs(), "ti": G.tis()},
        )

    requests = [
        ("/api/summary", {"from": FROM, "to": TO}),
        ("/api/top", {"from": FROM, "to": TO, "group": "uf"}),
        ("/api/choropleth/uf", {"from": FROM, "to": TO}),
        ("/api/choropleth/mun", {"from": FROM, "to": TO, "uf": "AA"}),
        ("/api/points", {"date": "2024-05-02", "bbox": "-1,-2,4,4"}),
    ]
    old = context()
    before = [handle_request(old, path, p) for path, p in requests]
    assert [status for status, _ in before] == [200] * len(requests), before

    # the next day, with a spillover row dated on the served day, so the
    # publish rewrites that day's partitions as well as adding its own
    csv2 = str(tmp_path / "focos_20240503.csv")
    write_fixture_csv(
        csv2,
        G.FOCOS_HEADER,
        [
            ["0.5", "0.5", "2024-05-03 10:00:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "1.1"],
            ["1.5", "1.5", "2024-05-02 23:30:00", "NOAA-20", "Mun m201", "BB", "Amazonia", ""],
        ],
        sep=";",
    )
    assert run_day(spark, wh, csv2, dt.date(2024, 5, 3), dims)["rows_new"] == 2

    old.cache = ServingCache()  # every request below is a miss
    assert [handle_request(old, path, p) for path, p in requests] == before

    new = context()
    status, summary = handle_request(new, *requests[0])
    assert status == 200
    assert summary["total_n_focos"] == before[0][1]["total_n_focos"] + 2
    status, points = handle_request(new, "/api/points", {"date": "2024-05-03"})
    assert status == 200 and points["returned"] == 1


def test_server_bounds_concurrent_handler_threads(monkeypatch):
    """VERDICT r4 #8: handler threads come from a fixed pool — a slow
    endpoint queues further requests instead of piling up a thread per
    connection."""
    import json as _json
    import urllib.request

    from inpe_queimadas_etl_spark import api as api_mod

    gate = threading.Semaphore(0)
    state = {"now": 0, "peak": 0}
    lock = threading.Lock()

    def slow_handler(ctx, path, params):
        with lock:
            state["now"] += 1
            state["peak"] = max(state["peak"], state["now"])
        gate.acquire(timeout=10)
        with lock:
            state["now"] -= 1
        return 200, {"ok": True}

    monkeypatch.setattr(api_mod, "handle_request", slow_handler)
    server = api_mod.serve(None, port=0, max_workers=2)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address
    results = []

    def hit():
        with urllib.request.urlopen(
            f"http://{host}:{port}/health", timeout=30
        ) as r:
            results.append(_json.loads(r.read()))

    clients = [threading.Thread(target=hit) for _ in range(6)]
    try:
        for c in clients:
            c.start()
        # let two handlers park on the gate, the rest queue
        deadline = time.time() + 5
        while state["peak"] < 2 and time.time() < deadline:
            time.sleep(0.02)
        time.sleep(0.3)  # would exceed 2 if unbounded threads ran
        assert state["peak"] == 2, state
        for _ in range(6):
            gate.release()
        for c in clients:
            c.join(timeout=30)
        assert len(results) == 6 and all(r["ok"] for r in results)
        assert state["peak"] == 2, state
    finally:
        for _ in range(10):
            gate.release()
        server.shutdown()
        server.server_close()


def test_bind_failure_surfaces_oserror_not_attributeerror():
    """TCPServer.__init__ calls server_close() on a bind failure
    BEFORE the worker pool exists; the close must tolerate that so
    e.g. EADDRINUSE reaches the caller as the OSError it is."""
    import socket

    from inpe_queimadas_etl_spark import api as api_mod

    blocker = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    blocker.bind(("127.0.0.1", 0))
    blocker.listen(1)
    port = blocker.getsockname()[1]
    try:
        with pytest.raises(OSError):
            api_mod.serve(None, port=port)
    finally:
        blocker.close()
