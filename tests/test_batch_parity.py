"""The batch pass (pandas read, curate, dedup and enrich in one
mapInPandas, then ``event_day``) against the Spark reference path
(``read_csv_all_string`` -> ``curated_from_raw`` -> ``enrich``): the
same rows, columns, ``event_hash`` and ``props`` on files that exercise
the CSV dialect, the header naming, ragged rows and the decimal cast."""

from __future__ import annotations

import datetime as dt

import pytest

from inpe_queimadas_etl_spark.enrich import ENRICHED_LAYOUT, enrich
from inpe_queimadas_etl_spark.pipeline import Warehouse, batch_pass, run_range
from inpe_queimadas_etl_spark.schemas import UF_AREA
from inpe_queimadas_etl_spark.sources.csv_ingest import read_csv_all_string
from inpe_queimadas_etl_spark.transform import curated_from_raw

from . import fixtures_geo as G

# name -> file text; each case lands as its own file date
CASES = {
    "values": (
        "lat;lon;datahora;satelite;frp\n"
        "0,55;0,25;2024-05-02 10:00:00;AQUA;decimal comma\n"
        "0.5d;1.5F;2024-05-02 10:01:00;AQUA;suffixes\n"
        "0x1p-1;0x1.8p1;2024-05-02 10:02:00;AQUA;hex floats\n"
        " 1.25 ;\t2.25 ;2024-05-02 10:03:00;AQUA;whitespace\n"
        "Infinity;0.5;2024-05-02 10:04:00;AQUA;inf\n"
        "NaN;0.5;2024-05-02 10:05:00;AQUA;nan\n"
        "-inf;0.5;2024-05-02 10:06:00;AQUA;inf literal\n"
        "90;180;2024-05-02 10:07:00;AQUA;bounds\n"
        "-90;-180;2024-05-02 10:08:00;AQUA;bounds\n"
        "90.0000001;0.5;2024-05-02 10:09:00;AQUA;past a bound\n"
        "abc;0.5;2024-05-02 10:10:00;AQUA;text\n"
        "1,2,3;0.5;2024-05-02 10:11:00;AQUA;two commas\n"
        "1_0;0.5;2024-05-02 10:12:00;AQUA;underscore\n"
        ";0.5;2024-05-02 10:13:00;AQUA;empty\n"
        "1e-7;-0.0;2024-05-02 10:14:00;AQUA;tiny\n"
        # ragged rows: short ones are padded with nulls, long ones cut
        "2.5;3.5;2024-05-02 11:00:00\n"
        "2.5;2.5\n"
        "1.5;2.5;2024-05-02 11:01:00;TERRA;1.0;extra;more\n"
        # duplicates: an exact copy, and a later row of the same hash
        # with other props, are both dropped
        "0.75;1.25;2024-05-02 12:00:00;NPP;1.0\n"
        "0.75;1.25;2024-05-02 12:00:00;NPP;1.0\n"
        "0,75;1,250;2024-05-02 12:00:00;NPP;2.0\n"
        "0.75;1.25;2024-05-02 12:00:00;NOAA-20;1.0\n"
    ),
    "comma": (
        "latitude,longitude,datahora,satelite,municipio,estado,bioma\n"
        '"0,55",0.25,2024-05-02 10:00:00,AQUA_M-T,"São Félix, MT",AA,Amazonia\n'
        "1.25,2.25,2024-05-02 12:00:00,GOES-16,Mun m202,BB,Cerrado\n"
    ),
    "quoted_names": (
        '"Lat";"Lon ";"Data Hora";" a;b"\n'
        '0.5;0.5;2024-05-02 10:00:00;"x;y"\n'
        '1.5;1.5;2024-05-02 11:00:00;"z"\n'
    ),
    "case_duplicates": (
        "Lat;lon;LAT;x;X;datahora\n"
        "0.5;0.5;9;a;b;2024-05-02 10:00:00\n"
        "2.5;3.5;;c;;2024-05-02 11:00:00\n"
    ),
    "empty_names": "lat;;lon;;datahora\n0.5;u;0.5;v;2024-05-02 10:00:00\n1.5;;2.5;;\n",
    # the delimiter is sniffed from the lines the reader keeps, so the
    # BOM and the blank lines before the header do not hide the ','
    "bom_and_blank_lines": (
        "\ufeff\n  \nlat,lon,datahora,satelite\n\n0.5,0.5,2024-05-02 10:00:00,AQUA\n"
        " \t \n1.5,2.5,2024-05-02 11:00:00,TERRA\r\n2.5,3.5,2024-05-02 12:00:00,NPP\n"
    ),
}
BASE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def dims(spark):
    return {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }


def _rows(df) -> dict[str, dict]:
    out = {}
    for r in df.collect():
        assert r["event_hash"] not in out, r
        out[r["event_hash"]] = r.asDict()
    return out


def _reference(spark, day_files, dims):
    """The Spark path per file, a later same-date file adding only the
    hashes the earlier ones lack (as separate run_days would)."""
    curated = None
    for day, path in day_files:
        one = curated_from_raw(read_csv_all_string(spark, path), day)
        if curated is None:
            curated = one
        else:
            curated = curated.unionByName(
                one.join(curated.select("event_hash"), "event_hash", "left_anti").select(
                    *curated.columns
                )
            )
    return enrich(curated, dims["municipios"], dims["biomas"], dims["ucs"], dims["tis"])


@pytest.fixture(scope="module")
def both(spark, dims, tmp_path_factory):
    """Every case in one batch pass and one reference plan."""
    d = tmp_path_factory.mktemp("parity")
    day_files = []
    for i, name in enumerate(sorted(CASES)):
        path = d / f"{name}.csv"
        path.write_bytes(CASES[name].encode("utf-8"))
        day_files.append((BASE + dt.timedelta(days=i), str(path)))
    ours = batch_pass(spark, day_files, dims)
    ref = _reference(spark, day_files, dims)
    return day_files, ours, _rows(ours), _rows(ref)


def test_columns_match_the_reference(both):
    _, ours, _, _ = both
    assert ours.columns == ENRICHED_LAYOUT


@pytest.mark.parametrize("case", sorted(CASES))
def test_batch_pass_matches_spark_reference(both, case):
    day_files, _, ours, ref = both
    day = day_files[sorted(CASES).index(case)][0]
    mine = {h: r for h, r in ours.items() if r["file_date"] == day}
    theirs = {h: r for h, r in ref.items() if r["file_date"] == day}
    assert theirs, case
    assert mine == theirs


def test_values_case_keeps_what_try_cast_parses(both):
    """Suffixes, hex floats, whitespace and the exact bounds parse;
    non-finite, past-bound and malformed coordinates are dropped, and so
    are the repeats of a hash."""
    day_files, _, ours, _ = both
    day = day_files[sorted(CASES).index("values")][0]
    kept = sorted((r["lat"], r["lon"]) for r in ours.values() if r["file_date"] == day)
    assert kept == sorted(
        [(0.55, 0.25), (0.5, 1.5), (0.5, 3.0), (1.25, 2.25), (90.0, 180.0),
         (-90.0, -180.0), (1e-7, -0.0), (2.5, 3.5), (2.5, 2.5), (1.5, 2.5),
         (0.75, 1.25), (0.75, 1.25)]
    )


def test_two_files_of_one_date_in_one_run_range(spark, dims, tmp_path):
    """Two files landed for one date go to one task, in the given order:
    a row of the second file that repeats one of the first is kept once,
    as separate run_days would keep it."""
    first = ";".join(G.FOCOS_HEADER) + "\n" + "\n".join(";".join(r) for r in G.FOCOS_ROWS[:6]) + "\n"
    second = (
        "lat;lon;datahora;satelite\n"
        + "\n".join(";".join(r[:4]) for r in G.FOCOS_ROWS[4:9])
        + "\n"
    )
    p1, p2 = tmp_path / "a.csv", tmp_path / "b.csv"
    p1.write_text(first, encoding="utf-8")
    p2.write_text(second, encoding="utf-8")
    day_files = [(BASE, str(p1)), (BASE, str(p2))]
    ref = _rows(_reference(spark, day_files, dims))
    assert _rows(batch_pass(spark, day_files, dims)) == ref

    wh = Warehouse(str(tmp_path / "wh"))
    [result] = run_range(spark, wh, day_files, dims, write_report=False)
    assert result["rows_new"] == len(ref) == 6 + 3
    loaded = wh.read(spark, "curated_focos").select("event_hash").collect()
    assert sorted(r[0] for r in loaded) == sorted(ref)
