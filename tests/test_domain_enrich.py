"""Enrichment (J2/J3/J4) attribution tests — answers knowable by
construction of the grid fixtures."""

from __future__ import annotations

import datetime as dt

import pytest

from inpe_queimadas_etl_spark.pipeline import batch_pass
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G

FILE_DATE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def enriched(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    dims = {"municipios": G.municipios(), "biomas": G.biomas(), "ucs": G.ucs(), "tis": G.tis()}
    return batch_pass(spark, [(FILE_DATE, path)], dims).cache()


def _one(enriched, lat, lon):
    rows = enriched.filter(f"lat = {lat} and lon = {lon}").collect()
    assert len(rows) == 1
    return rows[0]


def test_point_in_polygon_attribution(enriched):
    assert _one(enriched, 0.55, 0.25)["mun_cd_mun"] == "m100"
    assert _one(enriched, 0.75, 1.25)["mun_cd_mun"] == "m101"
    assert _one(enriched, 1.5, 2.5)["mun_cd_mun"] == "m202"
    assert _one(enriched, 2.9, 2.9)["mun_cd_mun"] == "m302"


def test_mun_attrs_joined(enriched):
    row = _one(enriched, 0.55, 0.25)
    assert row["mun_uf"] == "AA"
    assert row["mun_nm_mun"] == "Mun m100"
    assert row["mun_area_km2"] == 100.0


def test_knn_fallback_within_2km(enriched):
    """Point 0.01 deg (~1.1 km) west of m100 -> KNN attribution (J3)."""
    assert _one(enriched, 0.5, -0.01)["mun_cd_mun"] == "m100"


def test_far_point_unattributed(enriched):
    assert _one(enriched, 0.5, -1.0)["mun_cd_mun"] is None


def test_bioma_split(enriched):
    assert _one(enriched, 1.1, 1.1)["cd_bioma"] == "B1"
    assert _one(enriched, 1.5, 2.5)["cd_bioma"] == "B2"
    assert _one(enriched, 1.5, 2.5)["bioma_enr"] == "Cerrado"


def test_uc_ti_hits(enriched):
    assert _one(enriched, 0.3, 0.3)["cd_cnuc"] == "U1"
    assert _one(enriched, 0.3, 0.3)["uc_nome"] == "Parque U1"
    assert _one(enriched, 1.25, 2.25)["terrai_cod"] == "T1"
    # a point outside any UC/TI stays null but is checked
    row = _one(enriched, 0.55, 0.25)
    assert row["cd_cnuc"] is None and row["terrai_cod"] is None


def test_checked_flags_all_true(enriched):
    from inpe_queimadas_etl_spark.checks import check_checked_flags, event_counts

    assert check_checked_flags(event_counts(enriched.toArrow().to_batches()))["ok"]


def test_event_day_spillover(enriched):
    assert str(_one(enriched, 0.5, 0.5)["event_day"]) == "2024-05-01"
    assert str(_one(enriched, 0.6, 0.6)["event_day"]) == "2024-05-02"


def test_coverage_check(enriched):
    from inpe_queimadas_etl_spark.checks import check_enrichment_coverage, event_counts

    # 12/13 municipality (far point misses), 12/13 biome -> thresholds
    # tuned to the fixture (FIXTURES.md designs data to hit >=90%)
    events = event_counts(enriched.toArrow().to_batches())
    res = check_enrichment_coverage(events, min_mun_ratio=0.9, min_bioma_ratio=0.9)
    assert res["ok"], res
