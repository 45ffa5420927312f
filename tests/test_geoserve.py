"""Geometry prep chain (geoprep), geometry serving queries
(geoqueries: bounds / lookup / overlay / choropleth-geometry), geo
marts 90/91, and the geometry checks — on the grid fixtures."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark import checks, geoprep, geoqueries
from inpe_queimadas_etl_spark.queries import FactCube
from inpe_queimadas_etl_spark.operators.geometry import ring_signed_area_deg2

from . import fixtures_geo as G

D1, D2 = dt.date(2024, 5, 1), dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def mun_feats():
    return G.municipios()


@pytest.fixture(scope="module")
def ufs(mun_feats):
    return geoprep.ufs_web(geoprep.municipios_web(mun_feats))


@pytest.fixture(scope="module")
def polycoords_df(spark, ufs):
    chain = geoprep.uf_polycoords(
        geoprep.uf_mainland_noholes(geoprep.uf_geom_mainland(ufs))
    )
    return geoprep.uf_polycoords_df(spark, chain)


@pytest.fixture(scope="module")
def mun_web(spark, mun_feats):
    return geoprep.mun_web_df(spark, geoprep.municipios_web(mun_feats))


@pytest.fixture(scope="module")
def fact(spark):
    # minimal mv_focos_day_dim slice: (day, uf, cd_mun, mun_nm_mun,
    # n_focos); CC has no rows on D2 (zero-fill case)
    rows = [
        (D1, "AA", "m100", "Mun m100", 3),
        (D1, "AA", "m101", "Mun m101", 2),
        (D1, "BB", "m200", "Mun m200", 1),
        (D1, "CC", "m300", "Mun m300", 4),
        (D2, "AA", "m100", "Mun m100", 5),
        (D2, "BB", "m202", "Mun m202", 2),
    ]
    return spark.createDataFrame(
        rows, "day date, uf string, cd_mun string, mun_nm_mun string, n_focos long"
    )


@pytest.fixture(scope="module")
def cube(fact):
    """The serving cube over the fact slice (no UF dim, no events)."""
    return FactCube(fact.toArrow(), [])


@pytest.fixture(scope="module")
def daily_uf(fact):
    return fact.groupBy("day", "uf").agg(F.sum("n_focos").alias("n_focos"))


@pytest.fixture(scope="module")
def chart_uf(daily_uf, polycoords_df):
    return geoprep.v_chart_uf_choropleth_day(daily_uf, polycoords_df).cache()


@pytest.fixture(scope="module")
def uf_geometry(chart_uf):
    """uf -> latest poly_coords, as the serving context collects it."""
    return {
        r["uf"]: r["poly_coords"]
        for r in geoprep.latest_uf_geometry(chart_uf).collect()
    }


class TestGeoPrep:
    def test_ufs_web_dissolves_rows_to_bands(self, ufs):
        assert sorted(ufs) == ["AA", "BB", "CC"]
        for row, uf in enumerate(G.UFS):
            parts = ufs[uf]
            assert len(parts) == 1  # 4 cells merge into one band
            ring = parts[0].rings[0]
            assert ring_signed_area_deg2(ring) == pytest.approx(4.0)
            # summed municipality areas carried through
            assert parts[0].props["area_km2"] == pytest.approx(
                sum(
                    float(f.props["area_km2"])
                    for f in G.municipios()
                    if f.props["uf"] == uf
                )
            )

    def test_polycoords_are_lattice_rings(self, polycoords_df):
        rows = {r["uf"]: json.loads(r["poly_coords"]) for r in polycoords_df.collect()}
        assert sorted(rows) == ["AA", "BB", "CC"]
        ring = rows["AA"][0]
        assert ring[0] == [0.0, 0.0] and ring[-1] == [0.0, 0.0]
        assert [4.0, 0.0] in ring and [4.0, 1.0] in ring

    def test_chart_view_zero_fill_and_viz_floor(self, chart_uf):
        assert chart_uf.count() == 6  # 2 days x 3 UFs
        cc2 = chart_uf.filter(
            (F.col("uf") == "CC") & (F.col("day") == D2)
        ).collect()[0]
        assert cc2["n_focos"] == 0
        assert cc2["n_focos_viz"] == pytest.approx(0.000001)
        assert cc2["poly_coords"] is not None

    def test_mun_web_df_largest_part_noholes(self, mun_web):
        assert mun_web.count() == 12
        r = mun_web.filter("cd_mun = 'm100'").collect()[0]
        assert r["uf"] == "AA"
        coords = json.loads(r["poly_coords"])
        assert len(coords) == 1 and len(coords[0]) == 5


class TestBoundsLookup:
    def test_bounds_uf_band(self, ufs):
        out = geoqueries.bounds(ufs["BB"], "BB")
        assert out["bbox"] == [0.0, 1.0, 4.0, 2.0]
        assert out["center"] == [1.5, 2.0]  # [lat, lon]

    def test_bounds_missing_key(self, ufs):
        with pytest.raises(LookupError):
            geoqueries.bounds(ufs["AA"], "ZZ")
        with pytest.raises(ValueError):
            geoqueries.bounds(ufs["AA"], "  ")

    def test_bounds_mun_with_uf_filter(self, mun_feats):
        out = geoqueries.bounds(mun_feats, "m201", uf="bb")
        assert out["bbox"] == [1.0, 1.0, 2.0, 2.0]
        with pytest.raises(LookupError):
            geoqueries.bounds(mun_feats, "m201", uf="AA")

    def test_lookup_mun(self, mun_web, cube):
        out = geoqueries.lookup_mun(mun_web, cube, "m100")
        assert out == {
            "mun": "m100",
            "mun_nome": "Mun m100",
            "uf": "AA",
            "uf_nome": "AA",
        }

    def test_lookup_mun_no_fact_rows_falls_back_to_key(self, mun_web, cube):
        out = geoqueries.lookup_mun(mun_web, cube, "m301")
        assert out["mun_nome"] == "m301"
        assert out["uf"] == "CC"

    def test_lookup_mun_missing(self, mun_web, cube):
        with pytest.raises(LookupError):
            geoqueries.lookup_mun(mun_web, cube, "nope")


class TestGeoOverlay:
    def test_shape_metrics_single_cell(self, mun_feats):
        q = geoqueries.geo_shape_metrics(mun_feats, "m100", simplify=False)
        assert q["n_parts_before_union"] == 1
        assert q["npoints_before_union"] == q["npoints_out"] == 5
        assert q["bbox"] == [0.0, 0.0, 1.0, 1.0]
        assert q["geometry"]["type"] == "Polygon"
        assert not q["warning_bbox_ratio"]
        assert len(q["coords_hash"]) == 16

    def test_shape_metrics_union_band(self, mun_feats):
        aa = [f for f in mun_feats if f.props["uf"] == "AA"]
        relabeled = [
            type(f)(poly_id="AA", rings=f.rings, props=f.props) for f in aa
        ]
        q = geoqueries.geo_shape_metrics(relabeled, "AA", simplify=True, tol_m=300.0)
        assert q["n_parts_before_union"] == 4
        assert q["npoints_out"] == 5  # simplified band rectangle
        assert q["bbox"] == [0.0, 0.0, 4.0, 1.0]
        assert q["bbox_ratio"] == pytest.approx(1.0, rel=1e-6)

    def test_geo_overlay_totals_and_label(self, mun_feats, cube):
        out = geoqueries.geo_overlay(
            "mun", "m100", mun_feats, cube, D1, dt.date(2024, 5, 3)
        )
        feat = out["geojson"]["features"][0]
        assert feat["properties"]["n_focos"] == 8  # 3 + 5
        assert feat["properties"]["label"] == "Mun m100"
        assert feat["geometry"]["type"] == "Polygon"

    def test_geo_overlay_qa_fields(self, mun_feats):
        out = geoqueries.geo_overlay_qa("mun", "m202", mun_feats)
        assert out["key"] == "m202"
        assert out["n_parts_before_union"] == 1
        assert out["is_valid_before"] and out["is_valid_after"]
        assert out["bbox"] == [2.0, 1.0, 3.0, 2.0]


class TestChoroplethGeo:
    def test_uf_choropleth_geo(self, cube, uf_geometry):
        dense, resp = geoqueries.choropleth_uf_geo(
            cube, uf_geometry, D1, dt.date(2024, 5, 3)
        )
        rows = {r["uf"]: r for r in dense}
        assert sorted(rows) == ["AA", "BB", "CC"]
        assert rows["AA"]["n_focos"] == 10
        assert rows["AA"]["mean_per_day"] == pytest.approx(5.0)
        feats = resp["geojson"]["features"]
        assert len(feats) == 3
        assert all(f["geometry"]["type"] == "Polygon" for f in feats)
        assert "breaks" in resp

    def test_uf_choropleth_geo_with_filter(self, cube, uf_geometry):
        dense, _ = geoqueries.choropleth_uf_geo(
            cube, uf_geometry, D1, dt.date(2024, 5, 3), filters={"uf": "BB"}
        )
        rows = {r["uf"]: r["n_focos"] for r in dense}
        assert rows == {"AA": 0, "BB": 3, "CC": 0}  # zero-filled others

    def test_mun_choropleth_geo(self, cube, mun_feats):
        web = geoprep.municipios_web(mun_feats)
        resp = geoqueries.choropleth_mun_geo(
            cube, web, D1, dt.date(2024, 5, 3), uf="AA"
        )
        feats = resp["geojson"]["features"]
        assert len(feats) == 4  # all AA municipalities, zero-filled
        assert feats[0]["properties"]["key"] == "m100"  # 8 focos, top
        assert feats[0]["properties"]["n_focos"] == 8
        assert feats[-1]["properties"]["n_focos"] == 0
        assert "note" in resp

    def test_mun_choropleth_requires_uf(self, cube, mun_feats):
        with pytest.raises(ValueError):
            geoqueries.choropleth_mun_geo(
                cube, mun_feats, D1, dt.date(2024, 5, 3), uf="  "
            )


class TestGeoMarts:
    def test_geo_focos_diario_municipio(self, fact, mun_web):
        daily_mun = fact.select(
            "day", F.col("cd_mun").alias("mun_cd_mun"), "n_focos"
        )
        out = geoprep.geo_focos_diario_municipio(daily_mun, mun_web)
        r = out.filter("cd_mun = 'm100' and day = date'2024-05-01'").collect()[0]
        assert r["uf"] == "AA" and r["n_focos"] == 3
        assert r["poly_coords"] is not None and r["area_km2"] == 100.0

    def test_geo_focos_diario_uf(self, spark, daily_uf, ufs):
        out = geoprep.geo_focos_diario_uf(daily_uf, geoprep.ufs_web_df(spark, ufs))
        r = out.filter("uf = 'AA' and day = date'2024-05-01'").collect()[0]
        assert r["n_focos"] == 5
        assert r["cd_mun"] is None
        assert json.loads(r["poly_coords"])  # multipolygon parts


class TestGeometryChecks:
    def test_checks_green(self, polycoords_df, chart_uf, daily_uf, fact, mun_web):
        c1 = checks.check_uf_polycoords_superset(polycoords_df, 3)
        c2 = checks.check_chart_uf_days(chart_uf, daily_uf, 3)
        daily_mun = fact.select(
            "day", F.col("cd_mun").alias("mun_cd_mun"), "n_focos"
        )
        chart_mun = geoprep.v_chart_mun_choropleth_day(daily_mun, mun_web)
        c3 = checks.check_mun_polycoords(chart_mun)
        report = checks.run_checks([c1, c2, c3])
        assert report["ok"], report
