"""Geometry prep chain (geoprep), geometry serving queries
(geoqueries: bounds / lookup / overlay / choropleth-geometry), and the
reference's geometry checks (sql/checks/010, 020, 060) on what the
serving context returns — on the grid fixtures."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from inpe_queimadas_etl_spark import geoprep, geoqueries
from inpe_queimadas_etl_spark.api import ApiContext
from inpe_queimadas_etl_spark.queries import FactCube
from inpe_queimadas_etl_spark.operators.geometry import ring_signed_area_deg2

from . import fixtures_geo as G

D1, D2 = dt.date(2024, 5, 1), dt.date(2024, 5, 2)
ONE_DAY = dt.timedelta(days=1)

# minimal mv_focos_day_dim slice: (day, uf, cd_mun, mun_nm_mun,
# n_focos); CC has no rows on D2 (zero-fill case)
FACT_ROWS = [
    (D1, "AA", "m100", "Mun m100", 3),
    (D1, "AA", "m101", "Mun m101", 2),
    (D1, "BB", "m200", "Mun m200", 1),
    (D1, "CC", "m300", "Mun m300", 4),
    (D2, "AA", "m100", "Mun m100", 5),
    (D2, "BB", "m202", "Mun m202", 2),
]


@pytest.fixture(scope="module")
def mun_feats():
    return G.municipios()


@pytest.fixture(scope="module")
def mun_web(mun_feats):
    return geoprep.municipios_web(mun_feats)


@pytest.fixture(scope="module")
def ufs(mun_web):
    return geoprep.ufs_web(mun_web)


@pytest.fixture(scope="module")
def fact(spark):
    return spark.createDataFrame(
        FACT_ROWS,
        "day date, uf string, cd_mun string, mun_nm_mun string, n_focos long",
    )


@pytest.fixture(scope="module")
def cube(fact):
    """The serving cube over the fact slice (no UF dim, no events)."""
    return FactCube(fact.toArrow(), [])


@pytest.fixture(scope="module")
def uf_geometry(spark, fact, mun_web):
    """uf -> poly_coords JSON, as the serving context builds it."""
    ctx = ApiContext(
        spark=spark,
        fact=fact,
        all_ufs=spark.createDataFrame([(u,) for u in G.UFS], "uf string"),
        mun_web_feats=mun_web,
    )
    return ctx.uf_geometry


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

    def test_polycoords_are_lattice_rings(self, uf_geometry):
        rows = {uf: json.loads(c) for uf, c in uf_geometry.items()}
        assert sorted(rows) == ["AA", "BB", "CC"]
        ring = rows["AA"][0]
        assert ring[0] == [0.0, 0.0] and ring[-1] == [0.0, 0.0]
        assert [4.0, 0.0] in ring and [4.0, 1.0] in ring


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

    def test_lookup_mun(self, mun_feats, cube):
        out = geoqueries.lookup_mun(mun_feats, cube, "m100")
        assert out == {
            "mun": "m100",
            "mun_nome": "Mun m100",
            "uf": "AA",
            "uf_nome": "AA",
        }

    def test_lookup_mun_no_fact_rows_falls_back_to_key(self, mun_feats, cube):
        out = geoqueries.lookup_mun(mun_feats, cube, "m301")
        assert out["mun_nome"] == "m301"
        assert out["uf"] == "CC"

    def test_lookup_mun_missing(self, mun_feats, cube):
        with pytest.raises(LookupError):
            geoqueries.lookup_mun(mun_feats, cube, "nope")


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

    def test_mun_choropleth_geo(self, cube, mun_web):
        resp = geoqueries.choropleth_mun_geo(
            cube, mun_web, D1, dt.date(2024, 5, 3), uf="AA"
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


class TestServedGeometryChecks:
    """The reference's geometry checks, on the served responses."""

    @pytest.mark.parametrize("day", [D1, D2])
    def test_uf_choropleth_day_is_dense(self, cube, uf_geometry, day):
        """FIXTURES.md §5 invariant 3 (sql/checks/010 B-D): each single
        day's UF map carries exactly N_UF features, each with
        coordinates, and its total equals the day's daily UF mart
        total. On D2 CC has no rows and is zero-filled."""
        _dense, resp = geoqueries.choropleth_uf_geo(
            cube, uf_geometry, day, day + ONE_DAY
        )
        feats = resp["geojson"]["features"]
        assert len(feats) == len(G.UFS)
        assert all(f["geometry"]["coordinates"] for f in feats)
        daily_uf_total = sum(r[4] for r in FACT_ROWS if r[0] == day)
        assert sum(f["properties"]["n_focos"] for f in feats) == daily_uf_total

    def test_mun_choropleth_latest_day_has_shapes(self, cube, mun_web):
        """sql/checks/020 + 060: on the latest day at least one
        municipality has fires, and no municipality feature lacks
        coordinates."""
        latest = max(r[0] for r in FACT_ROWS)
        feats = [
            f
            for uf in G.UFS
            for f in geoqueries.choropleth_mun_geo(
                cube, mun_web, latest, latest + ONE_DAY, uf=uf
            )["geojson"]["features"]
        ]
        assert sum(1 for f in feats if f["properties"]["n_focos"] > 0) >= 1
        assert all(f["geometry"]["coordinates"] for f in feats)
