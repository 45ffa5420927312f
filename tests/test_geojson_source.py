"""GeoJSON dim source (sources/geojson_source.py): FeatureCollection
-> PolyFeatures with the shapefile loader's conventions (one feature
per part, shared id, sanitized rings), typed municipality dim, and
format interchangeability in the CLI dim loader."""

from __future__ import annotations

import json

import numpy as np
import pytest

from inpe_queimadas_etl_spark import cli
from inpe_queimadas_etl_spark.sources.geojson_source import (
    features_from_geojson,
    write_geojson,
)
from inpe_queimadas_etl_spark.sources.shapefile import (
    MUNICIPIO_FIELDS,
    municipio_rows,
)

from . import fixtures_geo as G


@pytest.fixture()
def mun_geojson(tmp_path):
    p = tmp_path / "municipios.geojson"
    write_geojson(str(p), G.municipios(), id_field="cd_mun")
    return str(p)


def test_roundtrip_matches_fixture_features(mun_geojson):
    feats = features_from_geojson(
        mun_geojson, id_field="cd_mun", prop_fields=("nm_mun", "uf", "area_km2")
    )
    orig = {f.poly_id: f for f in G.municipios()}
    assert {f.poly_id for f in feats} == set(orig)
    for f in feats:
        o = orig[f.poly_id]
        assert f.props["nm_mun"] == o.props["nm_mun"]
        assert f.props["uf"] == o.props["uf"]
        assert len(f.rings) == len(o.rings)
        np.testing.assert_allclose(f.rings[0], o.rings[0])


def test_property_names_case_insensitive(tmp_path):
    p = tmp_path / "dim.geojson"
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"CD_BIOMA": "B9", "Bioma": "Pampa"},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                },
            }
        ],
    }
    p.write_text(json.dumps(doc))
    feats = features_from_geojson(str(p), id_field="cd_bioma", prop_fields=("bioma",))
    assert len(feats) == 1
    assert feats[0].poly_id == "B9" and feats[0].props["bioma"] == "Pampa"


def test_multipolygon_splits_parts_and_drops_bad_rings(tmp_path):
    p = tmp_path / "dim.geojson"
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"cd_mun": "77"},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                        [[[5, 0], [6, 0], [6, 1]]],  # open triangle: closes to 4 pts
                        [[[9, 9], [9, 9]]],  # degenerate: dropped
                    ],
                },
            }
        ],
    }
    p.write_text(json.dumps(doc))
    feats = features_from_geojson(str(p), id_field="cd_mun")
    assert [f.poly_id for f in feats] == ["77", "77"]
    # the open triangle came back closed (P13 ring closing)
    tri = feats[1].rings[0]
    assert tri.shape[0] == 4 and (tri[0] == tri[-1]).all()


def _municipio_rows(path):
    """The municipality rows cli.load_dims reads from a GeoJSON dim."""
    return municipio_rows(features_from_geojson(path, **MUNICIPIO_FIELDS))


def test_municipios_dim_matches_shapefile_contract(mun_geojson):
    dim = {cd_mun: (uf, area) for cd_mun, _, uf, area in _municipio_rows(mun_geojson)}
    for f in G.municipios():
        uf, area_km2 = dim[f.poly_id]
        assert uf == f.props["uf"]
        # fixture carries area_km2 as an attribute string: wins outright
        assert area_km2 == pytest.approx(float(f.props["area_km2"]))


def test_cli_load_dims_accepts_geojson_dir(spark, tmp_path):
    d = tmp_path / "dims"
    d.mkdir()
    write_geojson(str(d / "municipios.geojson"), G.municipios(), id_field="cd_mun")
    write_geojson(str(d / "biomas.geojson"), G.biomas(), id_field="cd_bioma")
    write_geojson(str(d / "ucs.geojson"), G.ucs(), id_field="cd_cnuc")
    write_geojson(str(d / "tis.geojson"), G.tis(), id_field="terrai_cod")
    dims = cli.load_dims(spark, str(d))
    assert {f.poly_id for f in dims["municipios"]} == {
        f.poly_id for f in G.municipios()
    }
    uf_area = {r["uf"]: r["area_km2"] for r in dims["uf_area"].collect()}
    assert uf_area == pytest.approx(dict(G.uf_area_rows()))


def test_municipios_dim_ibge_attribute_fallbacks(tmp_path):
    """An ogr2ogr export carrying GEOCODIGO/NM_MUNICIP/SIGLA_UF (the
    older IBGE vintage the shapefile loader already accepts,
    shapefile.py:265-288) must load identically."""
    p = tmp_path / "municipios.geojson"
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {
                    "GEOCODIGO": "3550308",
                    "NM_MUNICIP": "Sao Paulo",
                    "SIGLA_UF": "SP",
                    "AREA_KM2": 1521.11,
                },
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[-46.8, -24.0], [-46.3, -24.0], [-46.3, -23.4],
                         [-46.8, -23.4], [-46.8, -24.0]]
                    ],
                },
            }
        ],
    }
    p.write_text(json.dumps(doc))
    rows = _municipio_rows(str(p))
    assert len(rows) == 1
    cd_mun, nm_mun, uf, area_km2 = rows[0]
    assert (cd_mun, nm_mun, uf) == ("3550308", "Sao Paulo", "SP")
    assert area_km2 == pytest.approx(1521.11)
