"""S7 shapefile reader: writer->reader round-trip, ring grouping,
dbf typing, dim build, and PIP-join integration (ensure_ref_ibge
parity surface)."""

from __future__ import annotations

import numpy as np
import pytest

from inpe_queimadas_etl_spark.operators.geo import point_in_polygon_join
from inpe_queimadas_etl_spark.operators.geometry import ring_signed_area_deg2
from inpe_queimadas_etl_spark.sources import shapefile as shp


def square(cx, cy, half):
    return np.array(
        [
            [cx - half, cy - half],
            [cx + half, cy - half],
            [cx + half, cy + half],
            [cx - half, cy + half],
            [cx - half, cy - half],
        ],
        dtype=float,
    )


@pytest.fixture()
def two_mun_shapefile(tmp_path):
    """Record 1: donut (square w/ hole) + island part. Record 2: plain
    square."""
    donut = [square(0, 0, 1.0), square(0, 0, 0.3)]
    island = [square(5, 5, 0.5)]
    plain = [square(10, 0, 1.0)]
    shp.write_shp(str(tmp_path / "mun.shp"), [[donut, island], [plain]])
    shp.write_dbf(
        str(tmp_path / "mun.dbf"),
        [("CD_MUN", "C", 7, 0), ("NM_MUN", "C", 20, 0), ("SIGLA_UF", "C", 2, 0), ("POP", "N", 8, 0)],
        [
            {"cd_mun": "1100015", "nm_mun": "Alta Floresta", "sigla_uf": "RO", "pop": 22516},
            {"cd_mun": "1100023", "nm_mun": "Ariquemes", "sigla_uf": "RO", "pop": 111148},
        ],
    )
    return tmp_path / "mun.shp"


def test_roundtrip_parts_and_holes(two_mun_shapefile):
    recs = shp.read_shapefile(str(two_mun_shapefile))
    assert [r.recno for r in recs] == [1, 2]
    r1, r2 = recs
    assert len(r1.parts) == 2  # donut + island
    donut = max(r1.parts, key=lambda p: len(p))
    assert len(donut) == 2  # exterior + hole
    # spec orientation on disk: exterior CW (neg area), hole CCW
    assert ring_signed_area_deg2(donut[0]) < 0
    assert ring_signed_area_deg2(donut[1]) > 0
    assert len(r2.parts) == 1
    assert r1.attrs["nm_mun"] == "Alta Floresta"
    assert r2.attrs["pop"] == 111148  # N/0 -> int


def test_dbf_numeric_and_empty(tmp_path):
    shp.write_dbf(
        str(tmp_path / "t.dbf"),
        [("A", "N", 10, 2), ("B", "C", 5, 0), ("C", "N", 6, 0)],
        [{"a": 12.5, "b": "x", "c": None}, {"a": None, "b": None, "c": 7}],
    )
    rows = shp.read_dbf(str(tmp_path / "t.dbf"))
    assert rows[0] == {"a": 12.5, "b": "x", "c": None}
    assert rows[1] == {"a": None, "b": None, "c": 7}


def test_features_from_shapefile(two_mun_shapefile):
    feats = shp.features_from_shapefile(
        str(two_mun_shapefile), id_field="cd_mun", prop_fields=("nm_mun", "sigla_uf")
    )
    # donut + island share the id; plain square is its own feature
    ids = [f.poly_id for f in feats]
    assert ids.count("1100015") == 2 and ids.count("1100023") == 1
    assert all(f.props["sigla_uf"] == "RO" for f in feats)
    donut = max(
        (f for f in feats if f.poly_id == "1100015"), key=lambda f: len(f.rings)
    )
    assert len(donut.rings) == 2


def test_pip_join_from_shapefile_dims(spark, two_mun_shapefile):
    feats = shp.features_from_shapefile(str(two_mun_shapefile), id_field="cd_mun")
    pts = spark.createDataFrame(
        [
            ("in_donut", 0.6, 0.0),
            ("in_hole", 0.0, 0.0),
            ("in_island", 5.0, 5.0),
            ("in_plain", 10.0, 0.2),
            ("outside", 50.0, 50.0),
        ],
        "pid string, lon double, lat double",
    )
    got = {
        r["pid"]: r["poly_id"]
        for r in point_in_polygon_join(pts, feats).collect()
    }
    assert got["in_donut"] == "1100015"
    assert got["in_island"] == "1100015"
    assert got["in_plain"] == "1100023"
    assert got.get("in_hole") is None
    assert got.get("outside") is None


def _municipios(shp_path):
    """cd_mun -> the municipality row cli.load_dims reads from a
    shapefile."""
    feats = shp.features_from_shapefile(shp_path, **shp.MUNICIPIO_FIELDS)
    return {
        cd_mun: {"nm_mun": nm_mun, "uf": uf, "area_km2": area_km2}
        for cd_mun, nm_mun, uf, area_km2 in shp.municipio_rows(feats)
    }


def test_municipios_dim_area_fallback(two_mun_shapefile):
    rows = _municipios(str(two_mun_shapefile))
    assert set(rows) == {"1100015", "1100023"}
    assert rows["1100015"]["uf"] == "RO"
    # no AREA_KM2 attr -> shoelace-geodesic fallback; the donut+island
    # area must exceed the hole-free island alone and be positive
    assert rows["1100015"]["area_km2"] > rows["1100023"]["area_km2"] * 0  # >0
    assert rows["1100015"]["area_km2"] > 0
    # 2x2 deg square at equator ~ 49,400 km2-ish; sanity band
    assert 10_000 < rows["1100023"]["area_km2"] < 120_000


def test_area_attr_preferred(tmp_path):
    shp.write_shp(str(tmp_path / "a.shp"), [[[square(0, 0, 1.0)]]])
    shp.write_dbf(
        str(tmp_path / "a.dbf"),
        [("CD_MUN", "C", 7, 0), ("AREA_KM2", "N", 12, 3)],
        [{"cd_mun": "42", "area_km2": 123.456}],
    )
    import inpe_queimadas_etl_spark.sources.shapefile as m

    recs = m.read_shapefile(str(tmp_path / "a.shp"))
    assert recs[0].attrs["area_km2"] == pytest.approx(123.456)


def test_bad_magic(tmp_path):
    p = tmp_path / "bad.shp"
    p.write_bytes(b"\x00" * 200)
    with pytest.raises(ValueError, match="magic"):
        shp.read_shp(str(p))


def test_area_attr_not_polluted_by_attrless_record(tmp_path):
    """Same municipality split across records where only the FIRST
    carries AREA_KM2: the attribute value wins outright; the
    attribute-less record's shoelace area must NOT stack on top."""
    shp.write_shp(
        str(tmp_path / "m.shp"),
        [[[square(0, 0, 1.0)]], [[square(5, 0, 1.0)]]],
    )
    shp.write_dbf(
        str(tmp_path / "m.dbf"),
        [("CD_MUN", "C", 7, 0), ("AREA_KM2", "N", 12, 3)],
        [{"cd_mun": "77", "area_km2": 100.0}, {"cd_mun": "77"}],
    )
    rows = {
        cd_mun: r["area_km2"]
        for cd_mun, r in _municipios(str(tmp_path / "m.shp")).items()
    }
    assert rows["77"] == pytest.approx(100.0)
