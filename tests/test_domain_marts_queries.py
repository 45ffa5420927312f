"""Marts (A1-A8, W1-W3, J9) + serving queries (§2.11) on fixtures."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark import marts, queries
from inpe_queimadas_etl_spark.api import fact_cube
from inpe_queimadas_etl_spark.pipeline import batch_pass
from inpe_queimadas_etl_spark.schemas import UF_AREA
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G

FILE_DATE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def enriched(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("csv") / "focos.csv")
    write_fixture_csv(path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    dims = {"municipios": G.municipios(), "biomas": G.biomas(), "ucs": G.ucs(), "tis": G.tis()}
    return batch_pass(spark, [(FILE_DATE, path)], dims).cache()


@pytest.fixture(scope="module")
def uf_area(spark):
    return spark.createDataFrame(G.uf_area_rows(), UF_AREA)


@pytest.fixture(scope="module")
def day_cube(enriched):
    return marts.day_cube(enriched.toArrow())


@pytest.fixture(scope="module")
def uf_area_arrow(uf_area):
    return uf_area.toArrow()


@pytest.fixture(scope="module")
def fact_df(spark, day_cube):
    return spark.createDataFrame(marts.mv_focos_day_dim(day_cube)).cache()


@pytest.fixture(scope="module")
def all_ufs(spark):
    return spark.createDataFrame([(u,) for u in G.UFS], "uf string")


@pytest.fixture(scope="module")
def fact(fact_df, all_ufs):
    """The serving cube over the fact table alone."""
    return fact_cube(fact_df, all_ufs)


@pytest.fixture(scope="module")
def cube(fact_df, all_ufs, enriched):
    """The serving cube with the enriched events (points)."""
    return fact_cube(fact_df, all_ufs, enriched)


def test_daily_municipio_counts_and_density(day_cube):
    daily = marts.focos_diario_municipio(day_cube).to_pylist()
    [m100] = [r for r in daily if r["mun_cd_mun"] == "m100" and r["day"] == dt.date(2024, 5, 2)]
    assert m100["n_focos"] == 4  # 0.55, 0.30, empty-ts, KNN point
    assert m100["focos_por_100km2"] == round(100.0 * 4 / 100.0, 4)
    # zero-area municipality -> null density (nullif semantics)
    [m103] = [r for r in daily if r["mun_cd_mun"] == "m103"]
    assert m103["focos_por_100km2"] is None


def test_daily_uf_counts(day_cube, uf_area_arrow):
    daily = marts.focos_diario_uf(day_cube, uf_area_arrow)
    rows = {
        (str(r["day"]), r["uf"]): r["n_focos"] for r in daily.to_pylist()
    }
    assert rows[("2024-05-02", "AA")] == 6  # m100x3 + m101 + m103 + knn
    assert rows[("2024-05-01", "AA")] == 1  # spillover day
    assert rows[("2024-05-02", "BB")] == 3
    assert rows[("2024-05-02", "CC")] == 2


def test_mart_sum_invariant(enriched, day_cube, uf_area_arrow):
    from inpe_queimadas_etl_spark.checks import check_mart_consistency, event_counts

    res = check_mart_consistency(
        marts.focos_diario_municipio(day_cube),
        marts.focos_diario_uf(day_cube, uf_area_arrow),
        event_counts(enriched.toArrow().to_batches()),
    )
    assert res["ok"], res


def _daily_uf(rows: list[tuple]) -> pa.Table:
    """Daily UF mart rows (day, uf, n_focos)."""
    day, uf, n = zip(*rows)
    return pa.table(
        {"day": pa.array(day, pa.date32()), "uf": list(uf), "n_focos": pa.array(n, pa.int64())}
    )


def test_trend_rows_frame_with_gap():
    """W1: ROWS frame means a gap day shrinks the window, it does not
    zero-fill (sql/marts/30:27-36)."""
    daily = _daily_uf(
        [
            (dt.date(2024, 5, 1), "AA", 2),
            (dt.date(2024, 5, 2), "AA", 4),
            # gap on 05-03
            (dt.date(2024, 5, 4), "AA", 6),
        ]
    )
    rows = {str(r["day"]): r for r in marts.focos_diario_uf_trend(daily).to_pylist()}
    assert rows["2024-05-04"]["ma7"] == 4.0  # (2+4+6)/3 over ROWS, not days


@pytest.mark.parametrize("digits", [2, 4])
def test_round_half_up_matches_spark_round(spark, digits):
    """The Arrow builders round like Spark's round on doubles: HALF_UP
    on the value's shortest decimal (Spark gives 1.01 for 1.005, 0.29
    for 0.285 and 12.3457 for 12.34565 at 4 digits, though each lies
    below its tie in binary), exact binary ties (0.125, 0.21875) away
    from zero; nulls stay null."""
    import random

    rnd = random.Random(7)
    values = [1.005, 0.285, 12.34565, 0.125, 0.21875, -0.125, -1.005, 2.5, 0.0, -0.001, None]
    values += [100.0 * rnd.randint(1, 60) / round(rnd.uniform(0.5, 9000.0), 3) for _ in range(300)]
    values += [rnd.randint(1, 400) / rnd.randint(1, 30) for _ in range(300)]
    want = [
        r[0]
        for r in spark.createDataFrame([(v,) for v in values], "x double")
        .select(F.round("x", digits))
        .collect()
    ]
    got = marts.round_half_up(pa.array(values, pa.float64()), digits).to_pylist()
    assert got == want


def test_timeseries_granularity_thresholds():
    assert queries.timeseries_granularity(30) == "day"
    assert queries.timeseries_granularity(92) == "day"
    assert queries.timeseries_granularity(93) == "week"
    assert queries.timeseries_granularity(273) == "week"
    assert queries.timeseries_granularity(274) == "month"


def test_range_validation():
    with pytest.raises(ValueError):
        queries.validate_range(dt.date(2024, 1, 2), dt.date(2024, 1, 1))
    with pytest.raises(ValueError):
        queries.validate_range(dt.date(2023, 1, 1), dt.date(2024, 6, 1))


def test_default_range_last_30_days_inclusive_of_today():
    # main.py:96-100: to = tomorrow (exclusive), from = to - 30
    frm, to = queries.default_range(dt.date(2024, 5, 2))
    assert to == dt.date(2024, 5, 3)
    assert frm == dt.date(2024, 4, 3)
    assert (to - frm).days == 30
    queries.validate_range(frm, to)


def test_parse_bbox_reference_validation():
    # main.py:400-415
    assert queries.parse_bbox(" -55.5 , -16.5, -54.5,-15.5 ") == (
        -55.5,
        -16.5,
        -54.5,
        -15.5,
    )
    with pytest.raises(ValueError, match="minLon,minLat"):
        queries.parse_bbox("1,2,3")
    with pytest.raises(ValueError, match="numeric"):
        queries.parse_bbox("a,b,c,d")
    with pytest.raises(ValueError, match="min < max"):
        queries.parse_bbox("10,0,5,1")
    with pytest.raises(ValueError, match="bbox range"):
        queries.parse_bbox("-181,0,5,1")


def test_timeseries_total(fact):
    ts = queries.timeseries_total(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5)
    )
    by_day = {str(r["bucket"]): r["n_focos"] for r in ts}
    assert by_day == {"2024-05-01": 1, "2024-05-02": 12}


def test_filters_code_or_name(fact):
    ts = queries.timeseries_total(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5), filters={"uf": " aa "}
    )
    assert sum(r["n_focos"] for r in ts) == 7
    ts2 = queries.timeseries_total(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5), filters={"bioma": "CERRADO"}
    )
    assert sum(r["n_focos"] for r in ts2) == 5


def test_top_groups_and_guardrail(fact):
    top = queries.top_groups(
        fact, "uf", dt.date(2024, 5, 1), dt.date(2024, 5, 5), k=2
    )
    assert [r["key"] for r in top] == ["AA", "BB"]
    assert top[0]["n_focos"] == 7
    # mun without uf filter -> k capped at 10
    top_mun = queries.top_groups(
        fact, "mun", dt.date(2024, 5, 1), dt.date(2024, 5, 5), k=50
    )
    assert len(top_mun) <= 10


def test_summary_peak(fact):
    s = queries.summary(fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5))
    assert s["total"] == 13
    assert str(s["peak_day"]) == "2024-05-02"
    assert s["mean_per_day"] == round(13 / 4, 2)


def test_choropleth_zero_fill_and_legend(fact):
    dense, legend = queries.choropleth_uf(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5)
    )
    rows = {r["uf"]: r["n_focos"] for r in dense}
    assert set(rows) == set(G.UFS)  # every UF present (J7)
    assert rows == {"AA": 7, "BB": 3, "CC": 2}
    assert legend["breaks"] == sorted(legend["breaks"])


def test_points_bbox_and_truncation(cube):
    df, truncated = queries.points(
        cube, dt.date(2024, 5, 2), bbox=(0.0, 0.0, 1.0, 1.0), limit=2
    )
    assert truncated  # 3 points in [0,1]x[0,1] on 05-02 > limit 2
    assert len(df) == 2
    df2, trunc2 = queries.points(cube, dt.date(2024, 5, 1))
    assert not trunc2 and len(df2) == 1


def test_points_applies_entity_filters(cube, enriched):
    """points() takes the active filters like the reference's
    _run_points_query (ADVICE r3 #3): a uf filter must shrink the scan
    to that UF's rows, and the smoke path exercises the FILTERED scan."""
    all_df, _ = queries.points(cube, dt.date(2024, 5, 2))
    n_all = len(all_df)
    ufs = [
        r["mun_uf"]
        for r in enriched.select("mun_uf").distinct().collect()
        if r["mun_uf"]
    ]
    assert len(ufs) >= 2
    per_uf = 0
    for uf in ufs:
        df_uf, _ = queries.points(
            cube, dt.date(2024, 5, 2), filters={"uf": uf}
        )
        c = len(df_uf)
        assert c <= n_all
        per_uf += c
    assert per_uf <= n_all  # filters partition (minus null-uf rows)


def test_validate_consistency(fact):
    res = queries.validate_consistency(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5)
    )
    assert res["consistent"], res
    assert res["legend_monotonic"], res
    assert res["break_monotonicity_ok"], res
    assert not res["invalid_filter_state"]
    # no uc/ti filter and no events -> optional components absent/None
    assert res["bounds_vs_geo_bbox_ratio"] is None
    assert res["bounds_consistent"] is None
    assert "points_endpoint_ok" not in res


def test_validate_bounds_vs_geo_and_points_smoke(cube):
    """main.py:1801-1845: uc-filtered validate computes the bounds-vs-geo
    bbox ratio (same geometry pipeline both sides -> ratio 1, <= 50) and
    the points smoke runs over the fixture bbox."""
    res = queries.validate_consistency(
        cube,
        dt.date(2024, 5, 1),
        dt.date(2024, 5, 5),
        filters={"uc": "U1"},
        feats=G.ucs(),
        smoke_bbox=(0.0, 0.0, 4.0, 3.0),
    )
    assert res["bounds_vs_geo_bbox_ratio"] == pytest.approx(1.0)
    assert res["bounds_consistent"] is True
    assert res["points_endpoint_ok"] is True
    assert res["points_returned_le_limit"] is True
    assert res["points_returned"] >= 1
    assert res["points_date_used"] is not None


def test_validate_missing_geometry_marks_inconsistent(fact):
    """A uc filter whose key has no geometry -> bounds_consistent False
    (reference catches the 404 path, main.py:1829-1831)."""
    res = queries.validate_consistency(
        fact,
        dt.date(2024, 5, 1),
        dt.date(2024, 5, 5),
        filters={"uc": "NOPE"},
        feats=G.ucs(),
    )
    assert res["bounds_consistent"] is False
    assert res["bounds_vs_geo_bbox_ratio"] is None


def test_validate_invalid_filter_state(fact):
    res = queries.validate_consistency(
        fact, dt.date(2024, 5, 1), dt.date(2024, 5, 5),
        filters={"mun": "m100"},
    )
    assert res["invalid_filter_state"] is True


def test_fact_cube_totals_match_enriched(fact_df, enriched):
    assert (
        fact_df.agg(F.sum("n_focos")).collect()[0][0] == enriched.count()
    )
