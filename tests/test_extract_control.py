"""Extract control flow (S1/S2/S5) + S8 resume-read: retention
routing, daily-404 -> monthly fallback, monthly candidate/zip loop,
cache write-once, and run_range resuming from the state file."""

from __future__ import annotations

import datetime as dt
import io
import json
import zipfile

import pytest

from inpe_queimadas_etl_spark import pipeline
from inpe_queimadas_etl_spark.sources.csv_ingest import (
    InpeExtractor,
    LandingCache,
)
from inpe_queimadas_etl_spark.transform import curate_file

TODAY = dt.date(2024, 6, 1)
FRESH = dt.date(2024, 5, 20)  # within 45-day retention
OLD = dt.date(2024, 2, 1)  # beyond retention -> monthly first

DAILY_CSV = "data;lat;lon;satelite\n2024-05-20 12:00:00;-10.0;-55.0;AQUA\n"
MONTHLY_CSV = (
    "data;lat;lon;satelite\n"
    "2024-02-01 12:00:00;-9.0;-54.0;TERRA\n"
    "2024-02-02 08:00:00;-8.0;-53.0;TERRA\n"
)


class RecordingFetcher:
    """Injected fetcher: name -> bytes | None, recording every request."""

    def __init__(self, files: dict[str, bytes | str]):
        self.files = files
        self.requests: list[str] = []

    def __call__(self, name: str):
        self.requests.append(name)
        data = self.files.get(name)
        if isinstance(data, str):
            return data.encode("utf-8")
        return data


def _zip_bytes(member: str, text: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(member, text)
    return buf.getvalue()


def _extractor(tmp_path, files, today=TODAY, **kw):
    fetcher = RecordingFetcher(files)
    cache = LandingCache(str(tmp_path / "landing"))
    return InpeExtractor(cache, fetcher, today=today, **kw), fetcher


class TestRouting:
    def test_fresh_date_uses_daily_first(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path, {"focos_diario_br_20240520.csv": DAILY_CSV}
        )
        res = ex.extract_day(FRESH)
        assert res.source == "daily"
        assert fetcher.requests == ["focos_diario_br_20240520.csv"]

    def test_fresh_date_daily_404_falls_back_to_monthly(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path, {"focos_mensal_br_202405.csv": MONTHLY_CSV}
        )
        res = ex.extract_day(FRESH)
        assert res.source == "monthly"
        assert res.key == "focos_mensal_br_202405.csv"
        assert fetcher.requests[0] == "focos_diario_br_20240520.csv"

    def test_old_date_tries_monthly_first(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path,
            {
                "focos_mensal_br_202402.csv": MONTHLY_CSV,
                "focos_diario_br_20240201.csv": DAILY_CSV,
            },
        )
        res = ex.extract_day(OLD)
        assert res.source == "monthly"
        # the daily endpoint was never touched
        assert "focos_diario_br_20240201.csv" not in fetcher.requests

    def test_old_date_monthly_missing_falls_back_to_daily(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path, {"focos_diario_br_20240201.csv": DAILY_CSV}
        )
        res = ex.extract_day(OLD)
        assert res.source == "daily"
        # all four monthly candidates were attempted first
        assert fetcher.requests[:4] == [
            "focos_mensal_br_202402.csv",
            "focos_mensal_br_202402.zip",
            "focos_mensal_202402.csv",
            "focos_mensal_202402.zip",
        ]

    def test_retention_cutoff_boundary(self, tmp_path):
        # exactly at the cutoff -> monthly first (d <= cutoff)
        cutoff = TODAY - dt.timedelta(days=45)
        ex, fetcher = _extractor(
            tmp_path,
            {f"focos_mensal_br_{cutoff.strftime('%Y%m')}.csv": MONTHLY_CSV},
        )
        res = ex.extract_day(cutoff)
        assert res.source == "monthly"
        assert fetcher.requests[0].startswith("focos_mensal")

    def test_nothing_found_raises(self, tmp_path):
        ex, _ = _extractor(tmp_path, {})
        with pytest.raises(FileNotFoundError):
            ex.extract_day(FRESH)


class TestMonthlyCandidates:
    def test_zip_candidate_extracted(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path,
            {"focos_mensal_br_202402.zip": _zip_bytes("focos.csv", MONTHLY_CSV)},
        )
        res = ex.extract_day(OLD)
        assert res.source == "monthly"
        assert res.key == "focos_mensal_br_202402.zip"
        with open(res.path, encoding="utf-8") as fh:
            assert fh.read() == MONTHLY_CSV

    def test_candidate_order_stops_at_first_hit(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path,
            {
                "focos_mensal_br_202402.zip": _zip_bytes("f.csv", MONTHLY_CSV),
                "focos_mensal_202402.csv": MONTHLY_CSV,
            },
        )
        ex.extract_day(OLD)
        assert fetcher.requests == [
            "focos_mensal_br_202402.csv",
            "focos_mensal_br_202402.zip",
        ]


class TestCache:
    def test_daily_fetch_once(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path, {"focos_diario_br_20240520.csv": DAILY_CSV}
        )
        ex.extract_day(FRESH)
        ex.extract_day(FRESH)
        assert fetcher.requests.count("focos_diario_br_20240520.csv") == 1

    def test_monthly_cache_shared_across_days(self, tmp_path):
        ex, fetcher = _extractor(
            tmp_path, {"focos_mensal_br_202402.csv": MONTHLY_CSV}
        )
        ex.extract_day(OLD)
        ex.extract_day(OLD + dt.timedelta(days=1))
        assert fetcher.requests.count("focos_mensal_br_202402.csv") == 1


class TestCurateExtracted:
    def test_monthly_archive_filters_to_day(self, tmp_path):
        ex, _ = _extractor(
            tmp_path, {"focos_mensal_br_202402.csv": MONTHLY_CSV}
        )
        res = ex.extract_day(OLD)
        rows = curate_file(res.path, res.file_date, monthly=res.source == "monthly")
        assert len(rows) == 1
        assert json.loads(rows["props"][0])["data"].startswith("2024-02-01")

    def test_daily_file_reads_all(self, tmp_path):
        ex, _ = _extractor(
            tmp_path, {"focos_diario_br_20240520.csv": DAILY_CSV}
        )
        res = ex.extract_day(FRESH)
        assert res.source == "daily"
        assert len(curate_file(res.path, res.file_date)) == 1


class TestResume:
    def test_read_resume_state_missing_or_bad(self, tmp_path):
        assert pipeline.read_resume_state(None) == set()
        assert pipeline.read_resume_state(str(tmp_path / "nope.json")) == set()
        bad = tmp_path / "bad.json"
        bad.write_text("{not json")
        assert pipeline.read_resume_state(str(bad)) == set()
        # valid JSON of the wrong shape is no state either
        for text in (
            "[]", "null", '"x"', '{"days": null}', '{"days": [[1]]}'
        ):
            bad.write_text(text)
            assert pipeline.read_resume_state(str(bad)) == set(), text

    def test_run_range_skips_done_days(self, spark, tmp_path):
        state = tmp_path / "state.json"
        state.write_text(json.dumps({"days": ["2024-05-01"]}))
        from . import fixtures_geo as G
        from inpe_queimadas_etl_spark.schemas import UF_AREA
        from inpe_queimadas_etl_spark.sources.csv_ingest import write_fixture_csv

        p1 = write_fixture_csv(
            str(tmp_path / "d1.csv"), G.FOCOS_HEADER, G.FOCOS_ROWS[:2], sep=";"
        )
        p2 = write_fixture_csv(
            str(tmp_path / "d2.csv"), G.FOCOS_HEADER, G.FOCOS_ROWS[:4], sep=";"
        )
        dims = {
            "municipios": G.municipios(),
            "biomas": G.biomas(),
            "ucs": G.ucs(),
            "tis": G.tis(),
            "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
        }
        wh = pipeline.Warehouse(str(tmp_path / "wh"))
        out = pipeline.run_range(
            spark,
            wh,
            [(dt.date(2024, 5, 1), p1), (dt.date(2024, 5, 2), p2)],
            dims,
            state_path=str(state),
        )
        # day 1 skipped by resume: only day 2's 4 rows processed
        assert out[0]["days_skipped"] == ["2024-05-01"]
        assert out[0]["rows_in_batch"] == 4
        st = json.loads(state.read_text())
        assert st["days"] == ["2024-05-01", "2024-05-02"]

        # a second identical call is a full no-op
        out2 = pipeline.run_range(
            spark,
            wh,
            [(dt.date(2024, 5, 1), p1), (dt.date(2024, 5, 2), p2)],
            dims,
            state_path=str(state),
        )
        assert out2[0]["rows_new"] == 0
        assert sorted(out2[0]["days_skipped"]) == ["2024-05-01", "2024-05-02"]


class TestRunDayAuto:
    def test_daily_then_monthly_day_end_to_end(self, spark, tmp_path):
        """run_day_auto: day 1 lands via the daily endpoint, day 2 only
        exists in the monthly archive — both flow through transform +
        idempotent batch; the monthly day is filtered to its rows."""
        import csv as _csv
        import io as _io

        from inpe_queimadas_etl_spark.schemas import UF_AREA

        from . import fixtures_geo as G

        def focos_csv(rows):
            buf = _io.StringIO()
            w = _csv.writer(buf, delimiter=";", lineterminator="\n")
            w.writerow(G.FOCOS_HEADER)
            w.writerows(rows)
            return buf.getvalue()

        d1, d2 = dt.date(2024, 5, 20), dt.date(2024, 5, 21)
        day1_rows = [r for r in G.FOCOS_ROWS[:3]]
        # monthly archive holds both days' rows; day-2 rows get a
        # datahora on 2024-05-21 so the monthly->daily filter keeps them
        ts_idx = G.FOCOS_HEADER.index("Data_Hora_GMT")
        day2_rows = []
        for r in G.FOCOS_ROWS[3:6]:
            r = list(r)
            r[ts_idx] = "2024-05-21 11:00:00"
            day2_rows.append(r)
        monthly = focos_csv(
            [list(r)[: len(G.FOCOS_HEADER)] for r in day1_rows] + day2_rows
        )

        files = {
            "focos_diario_br_20240520.csv": focos_csv(day1_rows),
            "focos_mensal_br_202405.csv": monthly,
        }
        fetcher = RecordingFetcher(files)
        ex = InpeExtractor(
            LandingCache(str(tmp_path / "landing")), fetcher, today=dt.date(2024, 6, 1)
        )
        dims = {
            "municipios": G.municipios(),
            "biomas": G.biomas(),
            "ucs": G.ucs(),
            "tis": G.tis(),
            "uf_area": spark.createDataFrame(G.uf_area_rows(), UF_AREA),
        }
        wh = pipeline.Warehouse(str(tmp_path / "wh"))

        m1 = pipeline.run_day_auto(spark, wh, ex, d1, dims)
        assert m1["extract_source"] == "daily"
        assert m1["rows_new"] == 3

        m2 = pipeline.run_day_auto(spark, wh, ex, d2, dims)  # daily 404
        assert m2["extract_source"] == "monthly"
        assert m2["rows_new"] == 3  # only the day-2 slice of the archive

        # replay is idempotent end-to-end
        m3 = pipeline.run_day_auto(spark, wh, ex, d2, dims)
        assert m3["rows_new"] == 0
