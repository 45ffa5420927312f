"""End-to-end pipeline: run_day idempotency, spillover partitions,
incremental append (K1/K2/K3 semantics)."""

from __future__ import annotations

import datetime as dt
from pathlib import Path

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from inpe_queimadas_etl_spark.pipeline import Warehouse, run_day
from inpe_queimadas_etl_spark.schemas import UF_AREA
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G

FILE_DATE = dt.date(2024, 5, 2)


@pytest.fixture(scope="module")
def dims(spark):
    return {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }


@pytest.fixture(scope="module")
def wh_and_csv(spark, tmp_path_factory, dims):
    root = tmp_path_factory.mktemp("warehouse")
    csv_path = str(tmp_path_factory.mktemp("csv") / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(root))
    metrics1 = run_day(spark, wh, csv_path, FILE_DATE, dims)
    return wh, csv_path, metrics1


def test_first_run_loads_all(wh_and_csv):
    _, _, metrics1 = wh_and_csv
    assert metrics1["rows_new"] == G.N_VALID_UNIQUE


def test_rerun_is_idempotent(spark, wh_and_csv, dims):
    wh, csv_path, _ = wh_and_csv
    before = wh.read(spark, "curated_focos").count()
    metrics2 = run_day(spark, wh, csv_path, FILE_DATE, dims)
    assert metrics2["rows_new"] == 0  # anti-join append: nothing new
    assert wh.read(spark, "curated_focos").count() == before
    # marts unchanged
    daily_uf = wh.read(spark, "focos_diario_uf")
    total = daily_uf.agg(F.sum("n_focos")).collect()[0][0]
    assert total == 12  # attributed rows across both event days


def test_spillover_day_partitioned(spark, wh_and_csv):
    wh, _, _ = wh_and_csv
    enriched = wh.read(spark, "enriched_focos")
    days = {str(r["event_day"]) for r in enriched.select("event_day").distinct().collect()}
    assert days == {"2024-05-01", "2024-05-02"}
    # physical partition dirs exist (partition pruning at scale)
    import os

    parts = os.listdir(wh.path("enriched_focos"))
    assert any("event_day=2024-05-01" in p for p in parts)


def test_incremental_second_file(spark, wh_and_csv, dims, tmp_path):
    """New day's file appends; prior days' marts remain."""
    wh, _, _ = wh_and_csv
    rows = [
        ["0.5", "0.5", "2024-05-03 10:00:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "1.1"],
        ["1.5", "1.5", "2024-05-03 10:30:00", "NOAA-20", "Mun m201", "BB", "Amazonia", ""],
    ]
    csv2 = str(tmp_path / "focos_20240503.csv")
    write_fixture_csv(csv2, G.FOCOS_HEADER, rows, sep=";")
    metrics = run_day(spark, wh, csv2, dt.date(2024, 5, 3), dims)
    assert metrics["rows_new"] == 2
    daily_uf = wh.read(spark, "focos_diario_uf")
    by_day = {
        (str(r["day"]), r["uf"]): r["n_focos"]
        for r in daily_uf.collect()
    }
    assert by_day[("2024-05-03", "AA")] == 1
    assert by_day[("2024-05-02", "AA")] == 6  # untouched
    # monthly mart covers the whole month
    monthly = wh.read(spark, "focos_mensal_uf")
    m = {r["uf"]: r["n_focos"] for r in monthly.collect()}
    assert m["AA"] == 8
    # trend view exists over full history
    trend = wh.read(spark, "focos_diario_uf_trend")
    aa = {str(r["day"]): r for r in trend.filter("uf='AA'").collect()}
    assert aa["2024-05-03"]["ma7"] == round((1 + 6 + 1) / 3, 2)


@pytest.mark.parametrize(
    "module, attr",
    [
        # the enrichment step: its dims are indexed before the batch pass
        ("pipeline", "enrich_dims"),
        ("marts", "mv_focos_day_dim"),
        ("marts", "focos_diario_bioma"),
        ("marts", "focos_mensal_uf"),
    ],
    ids=["enrich", "mv_focos_day_dim", "focos_diario_bioma", "focos_mensal_uf"],
)
def test_rerun_completes_a_failed_batch(spark, tmp_path, dims, monkeypatch, module, attr):
    """A batch that fails after its rows are curated must not be
    stranded: the rerun enriches and publishes it whole, and replaces
    (never doubles) enriched rows an earlier attempt already published.
    A failure in either publish wave surfaces only after the wave's
    other publishes finished: none is left staged, and the curated
    append never runs."""
    from inpe_queimadas_etl_spark import marts, pipeline
    from inpe_queimadas_etl_spark.checks import REQUIRED_TABLES

    owner = {"pipeline": pipeline, "marts": marts}[module]
    real = getattr(owner, attr)
    calls = {"n": 0}

    def fails_once(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, attr, fails_once)
    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_day(spark, wh, csv_path, FILE_DATE, dims)
    assert sorted((wh.root / "_tmp").glob("*__*")) == []
    assert sorted((wh.root / "_trash").glob("*__*")) == []
    assert not wh.exists("curated_focos")
    run_day(spark, wh, csv_path, FILE_DATE, dims)

    assert wh.read(spark, "enriched_focos").count() == G.N_VALID_UNIQUE
    assert [t for t in REQUIRED_TABLES if not wh.exists(t)] == []
    assert wh.read(spark, "curated_focos").count() == G.N_VALID_UNIQUE
    daily_uf = wh.read(spark, "focos_diario_uf")
    assert daily_uf.agg(F.sum("n_focos")).collect()[0][0] == 12


def test_transform_runs_once_per_batch(spark, tmp_path, dims, monkeypatch):
    """The batch pass runs once: each landed file is read and curated
    once per run_day, not again for the batch's counts."""
    from inpe_queimadas_etl_spark import pipeline
    from inpe_queimadas_etl_spark.sources.csv_ingest import read_landed_csv

    seen = spark.sparkContext.accumulator(0)
    real = pipeline.curate_file

    def counting(path, *args):
        seen.add(len(read_landed_csv(path)))
        return real(path, *args)

    monkeypatch.setattr(pipeline, "curate_file", counting)
    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    metrics = run_day(spark, Warehouse(str(tmp_path / "wh")), csv_path, FILE_DATE, dims)
    assert metrics["rows_new"] == G.N_VALID_UNIQUE
    # the file's input rows, once
    assert seen.value == len(G.FOCOS_ROWS)


def test_unattributed_first_batch_completes(spark, tmp_path, dims):
    """A first batch with no attributed row leaves the daily
    municipality and UF marts without a file: the monthly roll-ups and
    the trend have nothing to roll up, and the batch still completes.
    A later attributed batch then builds every table."""
    from inpe_queimadas_etl_spark.checks import REQUIRED_TABLES

    wh = Warehouse(str(tmp_path / "wh"))
    offshore = [
        ["0.5", "-1.0", "2024-05-02 14:30:00", "AQUA_M-T", "", "", "", ""],
        ["0.6", "-2.0", "2024-05-02 15:30:00", "AQUA_M-T", "", "", "", ""],
    ]
    csv1 = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv1, G.FOCOS_HEADER, offshore, sep=";")
    assert run_day(spark, wh, csv1, FILE_DATE, dims)["rows_new"] == 2
    assert wh.read(spark, "curated_focos").count() == 2
    assert not wh.exists("focos_diario_uf")
    assert run_day(spark, wh, csv1, FILE_DATE, dims)["rows_new"] == 0
    assert wh.read(spark, "curated_focos").count() == 2

    csv2 = str(tmp_path / "focos_20240503.csv")
    write_fixture_csv(csv2, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    assert run_day(spark, wh, csv2, dt.date(2024, 5, 3), dims)["rows_new"] == G.N_VALID_UNIQUE
    assert [t for t in REQUIRED_TABLES if not wh.exists(t)] == []
    attributed = (
        wh.read(spark, "enriched_focos").filter(F.col("mun_cd_mun").isNotNull()).count()
    )
    assert attributed == 12
    for table in (
        "focos_diario_municipio",
        "focos_diario_uf",
        "focos_mensal_municipio",
        "focos_mensal_uf",
        "focos_diario_uf_trend",
    ):
        total = wh.read(spark, table).agg(F.sum("n_focos")).collect()[0][0]
        assert total == attributed, table


def test_batch_reads_enriched_once(spark, tmp_path, dims, monkeypatch):
    """The marts aggregate the batch's own rows: enriched_focos is read
    once per batch (the prior partitions it merges with), never again
    after the batch publishes it. Spark reads and Arrow reads both
    count."""
    from inpe_queimadas_etl_spark import pipeline

    csv1 = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv1, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    run_day(spark, wh, csv1, FILE_DATE, dims)

    reads = []
    real_read, real_read_arrow = Warehouse.read, pipeline._read_arrow

    def spy(self, spark_, table):
        reads.append(table)
        return real_read(self, spark_, table)

    def spy_arrow(warehouse, table, *args, **kwargs):
        reads.append(table)
        return real_read_arrow(warehouse, table, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "read", spy)
    monkeypatch.setattr(pipeline, "_read_arrow", spy_arrow)
    rows = [["0.5", "0.5", "2024-05-02 18:00:00", "AQUA_M-T", "Mun m100", "AA", "Amazonia", "1.0"]]
    csv2 = str(tmp_path / "focos_20240503.csv")
    write_fixture_csv(csv2, G.FOCOS_HEADER, rows, sep=";")
    metrics = run_day(spark, wh, csv2, dt.date(2024, 5, 3), dims)
    assert metrics["rows_new"] == 1
    assert reads.count("enriched_focos") == 1


def test_replay_enriches_no_row(spark, tmp_path, dims, monkeypatch):
    """A replayed day's rows are dropped inside the pass, before
    enrichment: the replay enriches 0 rows, and still counts the day's
    curated rows as the batch's rows."""
    from inpe_queimadas_etl_spark import pipeline

    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    assert run_day(spark, wh, csv_path, FILE_DATE, dims)["rows_new"] == G.N_VALID_UNIQUE

    enriched_rows = spark.sparkContext.accumulator(0)
    real = pipeline.enrich_batch

    def counting(rows, *args):
        enriched_rows.add(len(rows))
        return real(rows, *args)

    monkeypatch.setattr(pipeline, "enrich_batch", counting)
    metrics = run_day(spark, wh, csv_path, FILE_DATE, dims)
    assert (metrics["rows_in_batch"], metrics["rows_new"]) == (G.N_VALID_UNIQUE, 0)
    assert enriched_rows.value == 0


def _tree(root) -> dict:
    """Every file under ``root``, relative path -> bytes."""
    return {str(p.relative_to(root)): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_failed_append_leaves_curated_intact(spark, tmp_path, dims, monkeypatch):
    """The curated append is staged and audited: a write that dies
    after its first partition's file, or a staged row count that does
    not match, raises and leaves the live curated_focos byte-identical,
    with no new file under its path."""
    from inpe_queimadas_etl_spark.pipeline import PublishAuditError, _read_arrow

    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    run_day(spark, wh, csv_path, FILE_DATE, dims)
    live = wh.root / "curated_focos"
    before = _tree(live)

    rows = _read_arrow(wh, "curated_focos", key="file_date")
    half = rows.num_rows // 2
    dates = [dt.date(2024, 5, 3)] * half + [dt.date(2024, 5, 4)] * (rows.num_rows - half)
    moved = rows.set_column(rows.schema.get_field_index("file_date"), "file_date", pa.array(dates))
    written = _dies_after_first_file(monkeypatch)
    with pytest.raises(RuntimeError, match="mid-write kill"):
        wh.append(moved, "curated_focos", "file_date")
    assert len(written) == 1
    assert _tree(live) == before
    monkeypatch.undo()

    lost = moved.set_column(
        moved.schema.get_field_index("file_date"), "file_date", pa.array([None, *dates[1:]], pa.date32())
    )
    with pytest.raises(PublishAuditError, match="row count"):
        wh.append(lost, "curated_focos", "file_date")
    assert _tree(live) == before


def test_range_resumes_after_its_last_finished_month(spark, tmp_path, dims, monkeypatch):
    """A range runs one batch per calendar month of file dates and
    records each finished batch in the state file: when the second
    month's batch crashes, the state names the first month's days, and
    the rerun skips their files before any read."""
    import json

    from inpe_queimadas_etl_spark import marts
    from inpe_queimadas_etl_spark.pipeline import run_range

    files = []
    for day, spill in (("2024-07-31", "2024-07-30"), ("2024-08-01", "2024-07-31")):
        path = tmp_path / f"focos_{day}.csv"
        write_fixture_csv(str(path), G.FOCOS_HEADER, _month_rows(day, spill), sep=";")
        files.append((dt.date.fromisoformat(day), str(path)))
    real = marts.focos_diario_bioma
    calls = {"n": 0}

    def fails_second(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("simulated crash")
        return real(*args, **kwargs)

    monkeypatch.setattr(marts, "focos_diario_bioma", fails_second)
    wh = Warehouse(str(tmp_path / "wh"))
    state = tmp_path / "state.json"
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_range(spark, wh, files, dims, state_path=str(state))
    assert json.loads(state.read_text())["days"] == ["2024-07-31"]
    assert wh.read(spark, "curated_focos").count() == G.N_VALID_UNIQUE

    monkeypatch.undo()
    Path(files[0][1]).unlink()  # a read of the done day's file would fail
    [result] = run_range(spark, wh, files, dims, state_path=str(state))
    assert result["days_skipped"] == ["2024-07-31"]
    assert (result["batches"], result["rows_new"]) == (1, G.N_VALID_UNIQUE)
    assert json.loads(state.read_text())["days"] == ["2024-07-31", "2024-08-01"]
    assert wh.read(spark, "enriched_focos").count() == 2 * G.N_VALID_UNIQUE


def _month_rows(day: str, spill: str) -> list[list]:
    """The fixture rows moved to ``day``; the spillover row to ``spill``."""
    return [
        [r[0], r[1], r[2].replace("2024-05-02", day).replace("2024-05-01", spill), *r[3:]]
        for r in G.FOCOS_ROWS
    ]


def test_monthly_marts_across_a_month_boundary(spark, tmp_path, dims):
    """Two files whose events fall on both sides of 2024-06-01: each
    month's monthly marts equal the counts grouped straight from the
    events and the sums of their daily rows, with the same density
    rule; a replay of both files leaves them unchanged."""
    from collections import Counter

    wh = Warehouse(str(tmp_path / "wh"))
    files = [
        (dt.date(2024, 5, 31), _month_rows("2024-05-31", "2024-05-30")),
        # a June file whose spillover row is a May event
        (dt.date(2024, 6, 1), _month_rows("2024-06-01", "2024-05-31")),
    ]
    paths = []
    for day, rows in files:
        path = str(tmp_path / f"focos_{day:%Y%m%d}.csv")
        write_fixture_csv(path, G.FOCOS_HEADER, rows, sep=";")
        paths.append((day, path))
        assert run_day(spark, wh, path, day, dims)["rows_new"] == G.N_VALID_UNIQUE

    def month(d):
        return str(d.replace(day=1))

    def density(n, area):
        return None if area in (None, 0) else round(100.0 * n / area, 4)

    def monthly_tables():
        mun = {
            (str(r["month"]), r["mun_cd_mun"]): r.asDict()
            for r in wh.read(spark, "focos_mensal_municipio").collect()
        }
        uf = {
            (str(r["month"]), r["uf"]): r.asDict()
            for r in wh.read(spark, "focos_mensal_uf").collect()
        }
        return mun, uf

    mun, uf = monthly_tables()
    events = wh.read(spark, "enriched_focos").collect()
    assert {k[0] for k in mun} == {k[0] for k in uf} == {"2024-05-01", "2024-06-01"}

    mun_n = Counter((month(e["event_day"]), e["mun_cd_mun"]) for e in events if e["mun_cd_mun"])
    mun_meta = {
        (month(e["event_day"]), e["mun_cd_mun"]): (e["mun_nm_mun"], e["mun_uf"], e["mun_area_km2"])
        for e in events
        if e["mun_cd_mun"]
    }
    daily_mun = Counter()
    for r in wh.read(spark, "focos_diario_municipio").collect():
        daily_mun[(month(r["day"]), r["mun_cd_mun"])] += r["n_focos"]
    assert {k: r["n_focos"] for k, r in mun.items()} == dict(mun_n) == dict(daily_mun)
    for k, r in mun.items():
        name, uf_code, area = mun_meta[k]
        assert (r["mun_nm_mun"], r["mun_uf"], r["mun_area_km2"]) == (name, uf_code, area)
        assert r["focos_por_100km2"] == density(r["n_focos"], area)

    uf_area = dict(G.uf_area_rows())
    uf_n = Counter((month(e["event_day"]), e["mun_uf"]) for e in events if e["mun_uf"])
    daily_uf = Counter()
    for r in wh.read(spark, "focos_diario_uf").collect():
        daily_uf[(month(r["day"]), r["uf"])] += r["n_focos"]
    assert {k: r["n_focos"] for k, r in uf.items()} == dict(uf_n) == dict(daily_uf)
    for (_, code), r in uf.items():
        assert r["uf_area_km2"] == uf_area[code]
        assert r["focos_por_100km2"] == density(r["n_focos"], uf_area[code])
    # May holds both files' May events, June only the June file's
    assert uf[("2024-05-01", "AA")]["n_focos"] == 6 + 1 + 1
    assert uf[("2024-06-01", "AA")]["n_focos"] == 6

    for day, path in paths:
        assert run_day(spark, wh, path, day, dims)["rows_new"] == 0
    assert monthly_tables() == (mun, uf)


def _oracle_marts(enriched, uf_area) -> dict:
    """Every published mart recomputed with Spark SQL from the events:
    the Spark form of the marts, kept as the oracle of the Arrow
    builders."""
    from pyspark.sql import Window

    def density(n, area):
        return F.round(F.lit(100.0) * n / F.when(area == 0, None).otherwise(area), 4)

    def by_municipality(df, key, n):
        area = F.max("mun_area_km2")
        return df.groupBy(key, "mun_cd_mun").agg(
            F.max("mun_nm_mun").alias("mun_nm_mun"),
            F.max("mun_uf").alias("mun_uf"),
            area.alias("mun_area_km2"),
            n.alias("n_focos"),
            density(n, area).alias("focos_por_100km2"),
        )

    def with_uf_density(df, key):
        return df.select(
            key,
            "uf",
            "n_focos",
            "uf_area_km2",
            density(F.col("n_focos"), F.col("uf_area_km2")).alias("focos_por_100km2"),
        )

    def by_dim(code_col, name_col):
        return (
            enriched.filter(F.col(code_col).isNotNull())
            .groupBy(F.col("event_day").alias("day"), F.col(code_col).alias("code"))
            .agg(F.max(name_col).alias("name"), F.count("*").cast("int").alias("focos"))
        )

    month = F.trunc("day", "month").alias("month")
    daily_mun = by_municipality(
        enriched.filter(F.col("mun_cd_mun").isNotNull()),
        F.col("event_day").alias("day"),
        F.count("*"),
    )
    uf_counts = (
        enriched.filter(F.col("mun_uf").isNotNull())
        .groupBy(F.col("event_day").alias("day"), F.col("mun_uf").alias("uf"))
        .agg(F.count("*").alias("n_focos"))
    )
    daily_uf = with_uf_density(
        uf_counts.join(
            F.broadcast(uf_area.withColumnRenamed("area_km2", "uf_area_km2")), "uf", "left"
        ),
        "day",
    )
    monthly_uf = daily_uf.groupBy(month, "uf").agg(
        F.sum("n_focos").alias("n_focos"), F.max("uf_area_km2").alias("uf_area_km2")
    )
    by_day = Window.partitionBy("uf").orderBy("day")
    return {
        "focos_diario_municipio": daily_mun,
        "focos_diario_uf": daily_uf,
        "focos_diario_bioma": by_dim("cd_bioma", "bioma_enr"),
        "focos_diario_uc": by_dim("cd_cnuc", "uc_nome"),
        "focos_diario_ti": by_dim("terrai_cod", "ti_nome"),
        "focos_mensal_municipio": by_municipality(daily_mun, month, F.sum("n_focos")),
        "focos_mensal_uf": with_uf_density(monthly_uf, "month"),
        "focos_diario_uf_trend": daily_uf.select(
            "day",
            "uf",
            "n_focos",
            F.round(F.avg("n_focos").over(by_day.rowsBetween(-6, 0)), 2).alias("ma7"),
            F.round(F.avg("n_focos").over(by_day.rowsBetween(-29, 0)), 2).alias("ma30"),
        ),
        "mv_focos_day_dim": enriched.groupBy(
            F.col("event_day").alias("day"),
            F.col("mun_uf").alias("uf"),
            F.col("mun_cd_mun").alias("cd_mun"),
            "mun_nm_mun",
            F.col("bioma_enr").alias("bioma"),
            "cd_bioma",
            "uc_nome",
            "cd_cnuc",
            "ti_nome",
            "terrai_cod",
        ).agg(F.count("*").alias("n_focos")),
    }


def test_marts_match_a_spark_recomputation_over_history(spark, tmp_path, dims):
    """After every batch of a history every published mart equals its
    Spark SQL recomputation from the published enriched_focos, value
    for value: a 3-day backfill across Aug/Sep, a replay of its newest
    day, a late Aug 31 file, a new day spilling into Sep 1 and a second
    file for Aug 30."""
    from inpe_queimadas_etl_spark.pipeline import run_range

    wh = Warehouse(str(tmp_path / "wh"))

    def landed(day: str, spill: str, satellite: str | None = None) -> tuple[dt.date, str]:
        rows = _month_rows(day, spill)
        if satellite:  # another file of the same date: other hashes
            rows = [[*r[:3], satellite, *r[4:]] for r in rows]
        path = str(tmp_path / f"focos_{day}_{satellite or 'a'}.csv")
        write_fixture_csv(path, G.FOCOS_HEADER, rows, sep=";")
        return dt.date.fromisoformat(day), path

    def rows(df) -> list[tuple]:
        return sorted((tuple(r) for r in df.collect()), key=repr)

    def assert_marts_match():
        oracle = _oracle_marts(wh.read(spark, "enriched_focos"), dims["uf_area"])
        for table, want in oracle.items():
            got = wh.read(spark, table).select(*want.columns)
            assert rows(got) == rows(want), table

    backfill = [
        landed("2024-08-29", "2024-08-28"),
        landed("2024-08-30", "2024-08-29"),
        landed("2024-09-01", "2024-08-31"),
    ]
    [result] = run_range(spark, wh, backfill, dims)
    assert result["rows_new"] == 3 * G.N_VALID_UNIQUE
    assert_marts_match()

    newest_day, newest = backfill[-1]
    assert run_day(spark, wh, newest, newest_day, dims)["rows_new"] == 0
    assert_marts_match()

    for day, spill, satellite in (
        ("2024-08-31", "2024-08-30", None),  # late
        ("2024-09-02", "2024-09-01", None),  # spills into Sep 1
        ("2024-08-30", "2024-08-29", "NOAA-21"),  # second file
    ):
        file_date, path = landed(day, spill, satellite)
        assert run_day(spark, wh, path, file_date, dims)["rows_new"] == G.N_VALID_UNIQUE
        assert_marts_match()


def _day_rows(*rows: tuple) -> pa.Table:
    """(day, n, v) rows as a table of day string, n int, v string."""
    day, n, v = zip(*rows)
    return pa.table({"day": list(day), "n": pa.array(n, pa.int32()), "v": list(v)})


def _dies_after_first_file(monkeypatch):
    """Make pyarrow's parquet writer raise after it wrote one file: a
    write dying mid-way, after its first partition's file landed."""
    import pyarrow.parquet as pq

    real = pq.write_table
    written = []

    def write_table(*args, **kwargs):
        if written:
            raise RuntimeError("mid-write kill")
        written.append(real(*args, **kwargs))

    monkeypatch.setattr(pq, "write_table", write_table)
    return written


class TestWriteAuditPublish:
    """VERDICT r3 #3: overwrites are write-audit-publish — a write
    dying mid-way must leave the live partition byte-identical."""

    @staticmethod
    def _seed(spark, tmp_path, name="wap_wh"):
        wh = Warehouse(str(tmp_path / name))
        df = _day_rows(
            *[("2024-05-01", i, f"v{i}") for i in range(10)],
            *[("2024-05-02", i, f"w{i}") for i in range(10)],
        )
        wh.overwrite_partitions(df, "t", "day")
        return wh

    def test_killed_write_leaves_old_partitions_intact(self, spark, tmp_path, monkeypatch):
        wh = self._seed(spark, tmp_path)
        before = {
            (r["day"], r["n"], r["v"]) for r in wh.read(spark, "t").collect()
        }
        files_before = sorted(
            str(p.relative_to(wh.root)) for p in wh.root.rglob("*.parquet")
        )

        # a dying write: it raises after the first partition's staged
        # file was written
        written = _dies_after_first_file(monkeypatch)
        bad = _day_rows(("2024-05-01", 99, "NEW"), ("2024-05-02", 99, "NEW"))
        with pytest.raises(RuntimeError, match="mid-write kill"):
            wh.overwrite_partitions(bad, "t", "day")
        assert len(written) == 1

        after = {
            (r["day"], r["n"], r["v"]) for r in wh.read(spark, "t").collect()
        }
        files_after = sorted(
            str(p.relative_to(wh.root)) for p in wh.root.rglob("*.parquet")
        )
        assert after == before
        # no staged/partial file landed under the live table path
        assert [f for f in files_after if f.startswith("t/")] == [
            f for f in files_before if f.startswith("t/")
        ]

    def test_missing_success_marker_fails_audit(self, spark, tmp_path):
        from inpe_queimadas_etl_spark.pipeline import PublishAuditError

        wh = self._seed(spark, tmp_path)
        tmp = wh._stage_dir("t")
        tmp.mkdir(parents=True)
        (tmp / "day=2024-05-01").mkdir()
        with pytest.raises(PublishAuditError):
            wh._audit_staged(tmp, "t")

    def test_successful_overwrite_cleans_staging(self, spark, tmp_path):
        wh = self._seed(spark, tmp_path)
        df = _day_rows(("2024-05-02", 7, "z7"))
        wh.overwrite_partitions(df, "t", "day")
        rows = {
            (str(r["day"]), r["n"], r["v"]) for r in wh.read(spark, "t").collect()
        }
        # 05-01 untouched, 05-02 replaced
        assert ("2024-05-01", 0, "v0") in rows
        assert ("2024-05-02", 7, "z7") in rows
        assert all(r[0] != "2024-05-02" or r == ("2024-05-02", 7, "z7") for r in rows)
        assert not any((wh.root / "_tmp").glob("t__*"))
        assert not any((wh.root / "_trash").glob("t__*"))

    def test_crash_between_swap_renames_is_healed(self, spark, tmp_path):
        """A crash AFTER old->_trash but BEFORE staged->live leaves the
        only copy of a partition in _trash; the next publish must
        RESTORE it before clearing staging — never delete the backup
        (review finding: blind gc lost the partition permanently)."""
        wh = self._seed(spark, tmp_path)
        live = wh.root / "t"
        trash = wh.root / "_trash" / ("t__" + "c" * 32)
        trash.mkdir(parents=True)
        # simulate the mid-swap crash state for day=2024-05-01
        (live / "day=2024-05-01").rename(trash / "day=2024-05-01")
        assert not (live / "day=2024-05-01").exists()

        # next publish (for a DIFFERENT day) heals the lost partition
        df = _day_rows(("2024-05-02", 7, "z7"))
        wh.overwrite_partitions(df, "t", "day")
        rows = {
            (str(r["day"]), r["n"], r["v"]) for r in wh.read(spark, "t").collect()
        }
        assert ("2024-05-01", 0, "v0") in rows  # restored from _trash
        assert ("2024-05-02", 7, "z7") in rows
        assert not any((wh.root / "_trash").glob("t__*"))

    def test_crash_mid_full_overwrite_is_healed(self, spark, tmp_path):
        """Same for overwrite(): live renamed to _trash but the staged
        table never swapped in — the whole-table backup restores."""
        wh = self._seed(spark, tmp_path)
        df = pa.table({"a": ["x"], "b": pa.array([1], pa.int32())})
        wh.overwrite(df, "trend")
        live = wh.root / "trend"
        trash = wh.root / "_trash" / ("trend__" + "c" * 32)
        trash.parent.mkdir(parents=True, exist_ok=True)
        live.rename(trash)
        assert not live.exists()
        df2 = pa.table({"a": ["y"], "b": pa.array([2], pa.int32())})
        # _gc_stale runs first: restores the backup, then the new
        # overwrite replaces it normally
        wh.overwrite(df2, "trend")
        got = {(r["a"], r["b"]) for r in wh.read(spark, "trend").collect()}
        assert got == {("y", 2)}
        assert not any((wh.root / "_trash").glob("trend__*"))

    def test_audit_expected_rows_mismatch_refuses_publish(self, spark, tmp_path):
        from inpe_queimadas_etl_spark.pipeline import PublishAuditError

        from inpe_queimadas_etl_spark.pipeline import _stage_arrow

        wh = self._seed(spark, tmp_path)
        tmp = wh._stage_dir("t")
        _stage_arrow(_day_rows(("2024-05-03", 1, "a")), tmp, "day")  # _SUCCESS marker
        assert wh._audit_staged(tmp, "t", expected_rows=1)
        with pytest.raises(PublishAuditError):
            wh._audit_staged(tmp, "t", expected_rows=2)

    def test_arrow_publish_audits_its_row_count(self, spark, tmp_path):
        """An Arrow table is staged by pyarrow, one file per partition:
        it publishes like a Spark write, and a row that lands in no
        partition (a null partition value) fails the row-count audit
        with the live table untouched."""
        from inpe_queimadas_etl_spark.pipeline import PublishAuditError

        wh = self._seed(spark, tmp_path)

        def live():
            return sorted((str(r["day"]), r["n"], r["v"]) for r in wh.read(spark, "t").collect())

        # the seeded table's types: n is an int
        n = pa.array([1, 2], pa.int32())
        rows = pa.table({"n": n, "v": ["a", "b"], "day": [dt.date(2024, 5, 2)] * 2})
        wh.overwrite_partitions(rows, "t", "day")
        assert len(list((wh.root / "t" / "day=2024-05-02").glob("*.parquet"))) == 1
        before = live()
        assert [r for r in before if r[0] == "2024-05-02"] == [
            ("2024-05-02", 1, "a"),
            ("2024-05-02", 2, "b"),
        ]
        lost = pa.table(
            {"n": n, "v": ["c", "d"], "day": pa.array([dt.date(2024, 5, 1), None])}
        )
        with pytest.raises(PublishAuditError, match="row count 1 != expected 2"):
            wh.overwrite_partitions(lost, "t", "day")
        assert live() == before

    def test_crash_at_every_rename_position_is_recoverable(
        self, spark, tmp_path
    ):
        """Exhaustive crash matrix: kill the publish at EVERY rename in
        the swap sequence (old->trash and staged->live, both
        partitions). Every loop rename happens after the audit marker,
        so the next publish must roll the interrupted publish FORWARD:
        BOTH partitions read fully-new — cross-partition atomicity,
        not just per-partition (ADVICE r4 #1; r4 allowed a finalized
        old/new mix here)."""
        import pathlib

        real_rename = pathlib.Path.rename
        new = {
            "2024-05-01": {("2024-05-01", 99, "N1")},
            "2024-05-02": {("2024-05-02", 99, "N2")},
        }
        # a two-partition replace issues 4 renames (old->trash,
        # staged->live per partition); cover every failure position
        for fail_at in range(1, 5):
            wh = self._seed(spark, tmp_path, name=f"wap_crash_{fail_at}")
            df_new = _day_rows(("2024-05-01", 99, "N1"), ("2024-05-02", 99, "N2"))
            calls = {"n": 0}

            def exploding(pself, target, _real=real_rename, _c=calls, _f=fail_at):
                _c["n"] += 1
                if _c["n"] == _f:
                    raise OSError(f"simulated crash at rename #{_f}")
                return _real(pself, target)

            pathlib.Path.rename = exploding
            try:
                with pytest.raises(OSError):
                    wh.overwrite_partitions(df_new, "t", "day")
            finally:
                pathlib.Path.rename = real_rename

            # next publish (unrelated day) triggers recovery first
            wh.overwrite_partitions(_day_rows(("2024-05-03", 1, "x")), "t", "day")
            rows = {
                (str(r["day"]), r["n"], r["v"])
                for r in wh.read(spark, "t").collect()
            }
            for day in ("2024-05-01", "2024-05-02"):
                got = {r for r in rows if r[0] == day}
                assert got == new[day], (
                    f"fail_at={fail_at} day={day}: expected rolled-"
                    f"forward (all-new) partition, got: {got}"
                )
            assert ("2024-05-03", 1, "x") in rows
            assert not any((wh.root / "_trash").glob("t__*"))
            assert not any((wh.root / "_tmp").glob("t__*"))

    def test_crash_during_rollforward_is_idempotent(self, spark, tmp_path):
        """A crash DURING recovery's roll-forward must leave a state
        the NEXT recovery completes — the _AUDITED marker survives
        until every staged partition has swapped in."""
        import pathlib

        real_rename = pathlib.Path.rename
        wh = self._seed(spark, tmp_path)
        df_new = _day_rows(("2024-05-01", 99, "N1"), ("2024-05-02", 99, "N2"))
        # first publish dies at rename #1 (old->trash of partition 1)
        calls = {"n": 0}

        def explode_at(n_fail, _c=calls):
            def exploding(pself, target):
                _c["n"] += 1
                if _c["n"] == n_fail:
                    raise OSError(f"simulated crash at rename #{n_fail}")
                return real_rename(pself, target)

            return exploding

        pathlib.Path.rename = explode_at(1)
        try:
            with pytest.raises(OSError):
                wh.overwrite_partitions(df_new, "t", "day")
        finally:
            pathlib.Path.rename = real_rename

        # second publish crashes INSIDE the roll-forward (its first
        # recovery rename)
        calls["n"] = 0
        pathlib.Path.rename = explode_at(1)
        try:
            with pytest.raises(OSError):
                wh.overwrite_partitions(_day_rows(("2024-05-03", 1, "x")), "t", "day")
        finally:
            pathlib.Path.rename = real_rename

        # third publish completes recovery, then its own write
        wh.overwrite_partitions(_day_rows(("2024-05-03", 1, "x")), "t", "day")
        rows = {
            (str(r["day"]), r["n"], r["v"])
            for r in wh.read(spark, "t").collect()
        }
        assert {r for r in rows if r[0] == "2024-05-01"} == {
            ("2024-05-01", 99, "N1")
        }
        assert {r for r in rows if r[0] == "2024-05-02"} == {
            ("2024-05-02", 99, "N2")
        }
        assert ("2024-05-03", 1, "x") in rows
        assert not any((wh.root / "_trash").glob("t__*"))
        assert not any((wh.root / "_tmp").glob("t__*"))

    def test_recovery_never_touches_prefix_named_sibling_tables(
        self, spark, tmp_path
    ):
        """r5 review: table 't' recovery must not roll forward or
        delete staging that belongs to table 't__archive' (whose dir
        names also start with 't__') — staged names are matched as
        <table>__<32-hex> exactly."""
        wh = self._seed(spark, tmp_path)
        other = _day_rows(("2024-05-01", 1, "ARCH"))
        # an interrupted, audited publish of the SIBLING table
        tmp = wh.root / "_tmp" / ("t__archive__" + "a" * 32)
        part = tmp / "day=2024-05-01"
        part.mkdir(parents=True)
        (tmp / "_AUDITED").touch()
        (tmp / "_SUCCESS").touch()
        (part / "x.parquet").write_bytes(b"sibling staged bytes")

        before = {
            (str(r["day"]), r["n"], r["v"])
            for r in wh.read(spark, "t").collect()
        }
        wh.overwrite_partitions(other, "t", "day")  # runs _gc_stale("t")
        after = {
            (str(r["day"]), r["n"], r["v"])
            for r in wh.read(spark, "t").collect()
        }
        # t's own publish applied; the sibling's staging is untouched
        assert ("2024-05-01", 1, "ARCH") in after
        assert after - before == {("2024-05-01", 1, "ARCH")} or (
            "2024-05-01",
            1,
            "ARCH",
        ) in after
        assert tmp.exists() and (part / "x.parquet").read_bytes() == (
            b"sibling staged bytes"
        )
        # and t__archive's own recovery still rolls ITS publish forward
        wh._gc_stale("t__archive")
        assert not tmp.exists()
        arch = wh.root / "t__archive" / "day=2024-05-01" / "x.parquet"
        assert arch.read_bytes() == b"sibling staged bytes"

    def test_unaudited_staging_is_never_published(self, spark, tmp_path):
        """A staged dir WITHOUT the _AUDITED marker (crash before or
        during audit) must be discarded, never rolled forward — the
        data never passed audit."""
        wh = self._seed(spark, tmp_path)
        before = {
            (str(r["day"]), r["n"], r["v"])
            for r in wh.read(spark, "t").collect()
        }
        tmp = wh.root / "_tmp" / ("t__" + "d" * 32)
        (tmp / "day=2024-05-01").mkdir(parents=True)
        (tmp / "day=2024-05-01" / "junk.parquet").write_bytes(b"not parquet")
        wh._gc_stale("t")
        after = {
            (str(r["day"]), r["n"], r["v"])
            for r in wh.read(spark, "t").collect()
        }
        assert after == before
        assert not (tmp.exists())

    def test_full_overwrite_swaps_whole_table(self, spark, tmp_path):
        wh = self._seed(spark, tmp_path)
        df = pa.table({"a": ["x"], "b": pa.array([1], pa.int32())})
        wh.overwrite(df, "trend")
        assert wh.read(spark, "trend").count() == 1
        df2 = pa.table({"a": ["y", "z"], "b": pa.array([2, 3], pa.int32())})
        wh.overwrite(df2, "trend")
        got = {(r["a"], r["b"]) for r in wh.read(spark, "trend").collect()}
        assert got == {("y", 2), ("z", 3)}


def test_run_range_writes_validation_artifacts(spark, tmp_path, dims):
    """run_range leaves docs/validation_last_run.md + logs/last_run.json
    under the warehouse root (reference validate_marts.py:81-122,
    283-301), with the check results and last-day counts."""
    import json

    from inpe_queimadas_etl_spark.pipeline import run_range

    root = tmp_path / "wh_report"
    csv_path = str(tmp_path / "focos.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(root))
    [result] = run_range(spark, wh, [(FILE_DATE, csv_path)], dims)

    md_path = root / "docs" / "validation_last_run.md"
    json_path = root / "logs" / "last_run.json"
    assert result["report_md"] == str(md_path)
    assert result["report_json"] == str(json_path)
    assert md_path.exists() and json_path.exists()

    md = md_path.read_text()
    assert "# validation last run" in md
    assert "mart_sums_consistent: ok" in md
    # the fixture intentionally carries one unattributable point
    # (12/13 = 92.3% < the reference's 99% floor), so the coverage
    # check — and therefore the overall status — reports fail
    assert "enrichment_coverage: fail" in md
    assert "- ok: false" in md
    assert "uf_day:" in md

    payload = json.loads(json_path.read_text())
    assert payload["ok"] is False
    names = {c["name"] for c in payload["check_results"]}
    assert names == {
        "mart_sums_consistent", "enrichment_coverage", "checked_flags",
    }
    assert "uf_rows" in payload["counts"]


def test_run_range_report_opt_out(spark, tmp_path, dims):
    from inpe_queimadas_etl_spark.pipeline import run_range

    root = tmp_path / "wh_noreport"
    csv_path = str(tmp_path / "focos2.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(root))
    [result] = run_range(
        spark, wh, [(FILE_DATE, csv_path)], dims, write_report=False
    )
    assert "report_md" not in result
    assert not (root / "docs").exists()


def test_malformed_coordinates_drop_only_their_rows(spark, tmp_path, dims):
    """A coordinate that is no number ('abc', '1,2,3') drops its row,
    as the reference's errors='coerce' does; the batch keeps the rest
    (an ANSI cast would fail the whole batch on it)."""
    rows = [
        ["abc", "0.5", "2024-05-02 10:00:00", "AQUA_M-T", "", "", "", ""],
        ["0.5", "1,2,3", "2024-05-02 10:01:00", "AQUA_M-T", "", "", "", ""],
        *G.FOCOS_ROWS,
    ]
    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, rows, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    assert run_day(spark, wh, csv_path, FILE_DATE, dims)["rows_new"] == G.N_VALID_UNIQUE
    assert wh.read(spark, "curated_focos").count() == G.N_VALID_UNIQUE


def test_report_written_for_an_unattributed_first_batch(spark, tmp_path, dims):
    """A warehouse whose daily municipality and UF marts have no file
    yet (its one row is offshore) still gets its validation report: the
    missing marts count as empty, so the mart sums agree at 0 and only
    the coverage check fails."""
    import json

    from inpe_queimadas_etl_spark.pipeline import run_range

    offshore = [["0.5", "-1.0", "2024-05-02 14:30:00", "AQUA_M-T", "", "", "", ""]]
    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, offshore, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    [result] = run_range(spark, wh, [(FILE_DATE, csv_path)], dims)
    assert not wh.exists("focos_diario_uf")
    assert result["report_md"] == str(wh.root / "docs" / "validation_last_run.md")
    payload = json.loads(open(result["report_json"]).read())
    checks = {c["name"]: c for c in payload["check_results"]}
    assert checks["mart_sums_consistent"]["ok"]
    assert checks["mart_sums_consistent"]["enriched_with_mun"] == 0
    assert checks["checked_flags"]["ok"]
    assert not checks["enrichment_coverage"]["ok"]  # 0 of 1 row attributed


# Every required table as Spark reads it (schema.simpleString()) and as
# pyarrow.dataset reads it (field type, "not null" where the parquet
# field is required). Counts are written non-null, as Spark writes
# count(*); sums of counts read back from parquet are nullable.
_TABLE_SCHEMAS = {
    "curated_focos": (
        "struct<event_hash:string,view_ts:string,satelite:string,municipio:string,"
        "estado:string,bioma:string,lat:double,lon:double,props:string,file_date:date>",
        "event_hash string, view_ts string, satelite string, municipio string, "
        "estado string, bioma string, lat double, lon double, props string, file_date string",
    ),
    "enriched_focos": (
        "struct<terrai_cod:string,cd_cnuc:string,cd_bioma:string,mun_cd_mun:string,"
        "event_hash:string,file_date:date,view_ts:string,satelite:string,municipio:string,"
        "estado:string,bioma:string,lat:double,lon:double,props:string,mun_nm_mun:string,"
        "mun_uf:string,mun_area_km2:double,mun_checked:boolean,bioma_enr:string,"
        "bioma_checked:boolean,uc_nome:string,uc_checked:boolean,ti_nome:string,"
        "ti_checked:boolean,event_day:date>",
        "terrai_cod string, cd_cnuc string, cd_bioma string, mun_cd_mun string, "
        "event_hash string, file_date date32[day], view_ts string, satelite string, "
        "municipio string, estado string, bioma string, lat double, lon double, "
        "props string, mun_nm_mun string, mun_uf string, mun_area_km2 double, "
        "mun_checked bool, bioma_enr string, bioma_checked bool, uc_nome string, "
        "uc_checked bool, ti_nome string, ti_checked bool, event_day string",
    ),
    "focos_diario_municipio": (
        "struct<mun_cd_mun:string,mun_nm_mun:string,mun_uf:string,mun_area_km2:double,"
        "n_focos:bigint,focos_por_100km2:double,day:date>",
        "mun_cd_mun string, mun_nm_mun string, mun_uf string, mun_area_km2 double, "
        "n_focos int64 not null, focos_por_100km2 double, day string",
    ),
    "focos_diario_uf": (
        "struct<uf:string,n_focos:bigint,uf_area_km2:double,focos_por_100km2:double,day:date>",
        "uf string, n_focos int64 not null, uf_area_km2 double, focos_por_100km2 double, "
        "day string",
    ),
    **{
        table: (
            "struct<code:string,name:string,focos:int,day:date>",
            "code string, name string, focos int32 not null, day string",
        )
        for table in ("focos_diario_bioma", "focos_diario_uc", "focos_diario_ti")
    },
    "focos_mensal_municipio": (
        "struct<mun_cd_mun:string,mun_nm_mun:string,mun_uf:string,mun_area_km2:double,"
        "n_focos:bigint,focos_por_100km2:double,month:date>",
        "mun_cd_mun string, mun_nm_mun string, mun_uf string, mun_area_km2 double, "
        "n_focos int64, focos_por_100km2 double, month string",
    ),
    "focos_mensal_uf": (
        "struct<uf:string,n_focos:bigint,uf_area_km2:double,focos_por_100km2:double,month:date>",
        "uf string, n_focos int64, uf_area_km2 double, focos_por_100km2 double, month string",
    ),
    "mv_focos_day_dim": (
        "struct<uf:string,cd_mun:string,mun_nm_mun:string,bioma:string,cd_bioma:string,"
        "uc_nome:string,cd_cnuc:string,ti_nome:string,terrai_cod:string,n_focos:bigint,"
        "day:date>",
        "uf string, cd_mun string, mun_nm_mun string, bioma string, cd_bioma string, "
        "uc_nome string, cd_cnuc string, ti_nome string, terrai_cod string, "
        "n_focos int64 not null, day string",
    ),
    "focos_diario_uf_trend": (
        "struct<day:date,uf:string,n_focos:bigint,ma7:double,ma30:double>",
        "day date32[day], uf string, n_focos int64, ma7 double, ma30 double",
    ),
}


def test_published_table_schemas(spark, tmp_path, dims):
    """The published tables keep their column order, types and
    nullability, for Spark readers and for Arrow readers alike."""
    import pyarrow.dataset as ds

    from inpe_queimadas_etl_spark.checks import REQUIRED_TABLES
    from inpe_queimadas_etl_spark.pipeline import run_range

    csv_path = str(tmp_path / "focos_20240502.csv")
    write_fixture_csv(csv_path, G.FOCOS_HEADER, G.FOCOS_ROWS, sep=";")
    wh = Warehouse(str(tmp_path / "wh"))
    run_range(spark, wh, [(FILE_DATE, csv_path)], dims)
    assert set(_TABLE_SCHEMAS) == set(REQUIRED_TABLES)
    for table in REQUIRED_TABLES:
        arrow = ds.dataset(wh.path(table), format="parquet", partitioning="hive").schema
        fields = ", ".join(
            f"{f.name} {f.type}" + ("" if f.nullable else " not null") for f in arrow
        )
        assert (wh.read(spark, table).schema.simpleString(), fields) == _TABLE_SCHEMAS[table], table
