"""Sources (S3/S4/S6) + legend-breaks (A13) unit tests."""

from __future__ import annotations

import datetime as dt
import zipfile

import pytest

from inpe_queimadas_etl_spark.functions.legend import compute_breaks
from inpe_queimadas_etl_spark.sources.csv_ingest import (
    LandingCache,
    extract_zip_csv,
    filter_monthly_to_day,
    read_csv_all_string,
    read_landed_csv,
    sniff_delimiter,
    write_fixture_csv,
)


def test_sniff_delimiter(tmp_path):
    p1 = write_fixture_csv(str(tmp_path / "a.csv"), ["a", "b"], [["1", "2"]], sep=";")
    p2 = write_fixture_csv(str(tmp_path / "b.csv"), ["a", "b"], [["1", "2"]], sep=",")
    assert sniff_delimiter(p1) == ";"
    assert sniff_delimiter(p2) == ","


HEADER_CASES = {
    "semicolon": "Lat;Lon;Data_Hora_GMT\n0,5;1,5;2024-05-02 10:00:00\n",
    "comma": "latitude,longitude,satelite\n0.5,1.5,AQUA\n",
    "quoted": '"lat";"lon ";" a;b"\n1;2;3\n',
    "case_duplicates": "Lat;lat;LAT;x;x\n1;2;3;4;5\n",
    "empty_name": "lat;;lon;\n1;2;3;4\n",
    "bom": "\ufefflat,lon\n1,2\n",
    "leading_blank_lines": "\n  \nlat,lon\n1,2\n",
}


@pytest.mark.parametrize("case", sorted(HEADER_CASES))
def test_header_matches_spark_inference(spark, tmp_path, case):
    """The driver-side header parse names the columns exactly as
    Spark's own header inference does, and the rows read the same, in
    Spark and in the pandas reader."""
    path = tmp_path / f"{case}.csv"
    path.write_text(HEADER_CASES[case], encoding="utf-8")
    sep = sniff_delimiter(str(path))
    ours = read_csv_all_string(spark, str(path))
    inferred = spark.read.option("header", True).option("sep", sep).csv(str(path))
    assert ours.columns == inferred.columns
    assert [f.dataType.simpleString() for f in ours.schema] == ["string"] * len(ours.columns)
    assert ours.collect() == inferred.collect()
    landed = read_landed_csv(str(path))
    assert list(landed.columns) == inferred.columns
    assert [tuple(r) for r in landed.itertuples(index=False)] == [
        tuple(r) for r in inferred.collect()
    ]


def test_read_csv_starts_no_spark_job(spark, tmp_path):
    """Building the all-string read runs no Spark job: the header is
    parsed on the driver."""
    path = write_fixture_csv(
        str(tmp_path / "d.csv"), ["Lat", "Lon"], [["0,5", "1,5"]], sep=";"
    )
    sc = spark.sparkContext
    sc.setJobGroup("read-csv-all-string", "header probe")
    try:
        read_csv_all_string(spark, path)
        jobs = sc.statusTracker().getJobIdsForGroup("read-csv-all-string")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_monthly_to_daily_filter(tmp_path):
    header = ["DataHora", "valor"]
    rows = [
        ["2024-05-02 10:00:00", "1"],
        ["02/05/2024 11:00", "2"],  # Brazilian format, same day
        ["2024-05-03 10:00:00", "3"],
        ["2024-13-40 02/05/2024", "4"],  # no valid ISO date: the Brazilian one
        ["", "5"],
        ["2024-05-03 02/05/2024", "6"],  # the ISO date wins
    ]
    path = write_fixture_csv(str(tmp_path / "monthly.csv"), header, rows, sep=";")
    out = filter_monthly_to_day(read_landed_csv(path), dt.date(2024, 5, 2))
    assert list(out.columns) == ["datahora", "valor"]
    assert sorted(out["valor"]) == ["1", "2", "4"]


def test_zip_extraction(tmp_path):
    csv_inner = "a;b\n1;2\n"
    zpath = tmp_path / "m.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("readme.txt", "x")
        zf.writestr("focos_mensal.csv", csv_inner)
    out = extract_zip_csv(str(zpath), str(tmp_path / "landing"))
    assert out.endswith("focos_mensal.csv")
    assert open(out).read() == csv_inner


def test_landing_cache(tmp_path):
    calls = []

    def fetch():
        calls.append(1)
        return b"data"

    cache = LandingCache(str(tmp_path / "cache"))
    p1 = cache.get_or_fetch("k1.csv", fetch)
    p2 = cache.get_or_fetch("k1.csv", fetch)
    assert p1 == p2 and len(calls) == 1
    assert cache.get_or_fetch("missing.csv", lambda: None) is None


# --- legend breaks (reference api/app/main.py:218-314 parity) ---


def test_breaks_empty():
    res = compute_breaks([])
    assert res["breaks"] == [0.0, 1.0] and res["method"] == "equal"


def test_breaks_single_value():
    res = compute_breaks([7, 7, 7])
    assert res["breaks"] == [7.0, 8.0] and res["method"] == "equal"


def test_breaks_zero_class_split():
    res = compute_breaks([0, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
    assert res["zero_class"] is True
    # quantiles computed on positives only
    assert res["breaks"][0] == 1.0 and res["breaks"][-1] == 10.0
    assert res["method"] == "quantile"
    assert len(res["palette"]) == len(res["breaks"])  # zero color prepended


def test_breaks_strictly_increasing_fallback():
    # heavy ties collapse quantiles -> equal-interval fallback
    res = compute_breaks([1] * 50 + [2])
    assert res["method"] == "equal"
    b = res["breaks"]
    assert all(b[i] > b[i - 1] for i in range(1, len(b)))


def test_breaks_nearest_rank_parity():
    """idx = int(round((n-1)*q)) with banker's rounding."""
    values = list(range(1, 12))  # n=11, (n-1)*0.2 = 2.0 -> idx 2 -> 3
    res = compute_breaks(values, zero_class=False)
    assert res["breaks"] == [1.0, 3.0, 5.0, 7.0, 9.0, 11.0]
