"""Transform (P1-P9) behavior-parity tests on the fixture CSV."""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import pytest

from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv
from inpe_queimadas_etl_spark.schemas import CURATED_FOCOS
from inpe_queimadas_etl_spark.transform import curate_file

from .fixtures_geo import FOCOS_HEADER, FOCOS_ROWS, N_VALID_UNIQUE

FILE_DATE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def curated(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "focos_20240502.csv")
    write_fixture_csv(path, FOCOS_HEADER, FOCOS_ROWS, sep=";")
    return curate_file(path, FILE_DATE)


def _at(curated, lat, lon=None):
    hit = curated["lat"] == lat
    if lon is not None:
        hit &= curated["lon"] == lon
    return curated[hit].to_dict("records")


def test_row_accounting(curated):
    # 16 raw rows - 1 nan-lat - 1 out-of-range - 1 exact dup = 13
    assert len(curated) == N_VALID_UNIQUE
    assert list(curated.columns) == CURATED_FOCOS.names
    assert set(curated["file_date"]) == {FILE_DATE}


def test_decimal_comma_cast(curated):
    row = _at(curated, 0.55)
    assert len(row) == 1
    assert row[0]["lon"] == 0.25


def test_hash_parity_with_reference_algorithm(curated):
    """The MD5 must equal the reference's canonical-JSON hash
    (transform/inpe_focos_diario.py:156-164) byte for byte."""
    row = _at(curated, 0.3, 0.3)[0]
    payload = {
        "file_date": str(FILE_DATE),
        "lat": round(0.3, 6),
        "lon": round(0.3, 6),
        "view_ts": "2024-05-02 10:05:00",
        "satelite": "AQUA_M-T",
    }
    expected = hashlib.md5(
        json.dumps(payload, ensure_ascii=False, default=str, allow_nan=False).encode()
    ).hexdigest()
    assert row["event_hash"] == expected


def test_props_preserves_extra_columns_and_cleans(curated):
    row = json.loads(_at(curated, 0.55)[0]["props"])
    assert row["frp"] == "12.5"  # extra column preserved as string
    assert row["lat"] == 0.55  # floats substituted
    nan_row = json.loads(_at(curated, 1.5)[0]["props"])
    assert nan_row["frp"] is None  # 'nan' cleaned to null (P6)


def test_empty_ts_becomes_null(curated):
    row = _at(curated, 0.6)[0]
    assert row["view_ts"] is None


def test_dedup_keeps_single_row(curated):
    assert len(_at(curated, 1.1, 1.1)) == 1


def test_fuzzy_column_variant(tmp_path):
    """Variant header names + comma delimiter resolve identically."""
    header = ["latitude", "longitude", "datahora", "satelite", "municipio", "estado", "bioma"]
    rows = [["0.5", "0.5", "2024-05-02 10:00:00", "AQUA_M-T", "X", "AA", "Amazonia"]]
    path = str(tmp_path / "variant.csv")
    write_fixture_csv(path, header, rows, sep=",")
    out = curate_file(path, FILE_DATE).to_dict("records")
    assert len(out) == 1
    assert out[0]["lat"] == 0.5 and out[0]["satelite"] == "AQUA_M-T"


def test_vectorized_canonicalize_matches_reference_rows():
    """_canonicalize_batch (production, vectorized) must be
    byte-identical to _canonicalize_rows_reference (the reference's
    row loop) on hashes AND props — including escapes, unicode,
    nullish tokens, and floats whose 6-dp rounding exercises
    round-half-even."""
    import pandas as pd

    from inpe_queimadas_etl_spark.transform import (
        _canonicalize_batch,
        _canonicalize_rows_reference,
    )

    pdf = pd.DataFrame(
        {
            "datahora": [
                "2024-05-02 10:05:00", None, "nan", " NULL ", "2024-05-02 23:59:59",
            ],
            "satelite": ['AQ"UA', "TERRA\\X", "Tab\there", "são-1", ""],
            "municipio": ["São Félix", "NA", "x\ny", None, "Cuiabá"],
            "estado": ["MT", "PA", "none", "AM", "GO"],
            "lat": ["x"] * 5,   # raw strings (overwritten with floats)
            "lon": ["x"] * 5,
            "frp": ["12.5", "0.0000015", "-1e-7", "inf", "7"],
            "__lat": [0.3, -9.1234565, 0.1 + 0.2, -89.9999995, 1.0],
            "__lon": [0.3, 55.5, -0.0000001, 179.9999999, -1.0],
            "__row_id": [0, 1, 2, 3, 4],
        }
    )
    prop_cols = ["datahora", "satelite", "municipio", "estado", "lat", "lon", "frp"]
    out = _canonicalize_batch(
        pdf, prop_cols, "2024-05-02", "lat", "lon",
        "datahora", "satelite", "municipio", "estado", None,
    )
    ref = _canonicalize_rows_reference(
        pdf, prop_cols, "2024-05-02", "lat", "lon", "datahora", "satelite"
    )
    import hashlib

    hashes = [
        hashlib.md5(p.encode("utf-8")).hexdigest() for p in out["__payload"]
    ]
    assert hashes == [r["event_hash"] for r in ref]
    assert list(out["props"]) == [r["props"] for r in ref]
    # cleaned nullish tokens surfaced as None in typed columns
    assert out["view_ts"].tolist()[1:4] == [None, None, None]
    assert out["satelite"].tolist()[4] is None
