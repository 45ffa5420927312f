"""CSV ingestion (reference S1-S6).

The reference downloads INPE daily CSVs with a file cache and
monthly-archive fallback (extract/inpe_focos_diario.py). The Spark
engine keeps the same shape: a driver-side fetch-to-landing-dir step
(HTTP stays in the driver; Spark never fetches), then one pandas read
of each landed file inside the batch's curate-and-enrich task
(``transform.curate_file``).

- Dialect sniffing tries csv.Sniffer with ';'/',' candidates
  (extract:85-89) on the first 4 KiB of the non-blank lines after any
  BOM, falling back to ';' (INPE's default).
- All columns load as strings (transform casts), matching
  `pd.read_csv(dtype=str)` (transform:87). :func:`read_landed_csv`
  reads a file as Spark's CSV reader does: the header names follow
  Spark's naming rule (they reach ``props``), blank lines are skipped,
  an empty field is null, and a short or long row is padded or cut to
  the header's width.
- Monthly->daily extraction (S4, extract:116-156) finds the date
  column by name heuristics and keeps the rows whose ISO or dd/mm/yyyy
  date equals the target day (:func:`filter_monthly_to_day`).

:func:`read_csv_all_string` is the same read as a Spark DataFrame. It
is the reference path the pandas reader is tested against, not a
production step.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import zipfile
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from ..functions.core import find_col, norm_name


# what java.lang.String.trim() strips: every char up to U+0020
_JAVA_WS = "".join(map(chr, range(33)))


def _nonblank_lines(path: str) -> list[str]:
    """The lines of ``path`` after a UTF-8 BOM, split at any line end,
    without the lines Spark's CSV reader skips (blank after a Java
    trim)."""
    with open(path, encoding="utf-8-sig", errors="replace") as fh:
        return [ln for ln in fh.read().split("\n") if ln.strip(_JAVA_WS)]


def _sniff(lines: list[str], default: str = ";") -> str:
    """csv.Sniffer over the first 4 KiB of the lines the reader keeps,
    so a BOM or blank lines before the header cannot sway it."""
    sample, size = [], 0
    for line in lines:
        if size >= 4096:
            break
        sample.append(line)
        size += len(line) + 1
    try:
        return csv.Sniffer().sniff("\n".join(sample)[:4096], delimiters=";,").delimiter
    except csv.Error:
        return default


def sniff_delimiter(path: str, default: str = ";") -> str:
    """S6 dialect sniff (extract/inpe_focos_diario.py:85-89)."""
    try:
        return _sniff(_nonblank_lines(path), default)
    except OSError:
        return default


def _safe_names(line: str, sep: str) -> list[str]:
    """Spark's ``CSVDataSource.makeSafeHeader`` (case-insensitive) over
    one header line: an empty name becomes ``_c{i}`` and a name repeated
    case-insensitively gets its index ``i`` appended."""
    names = next(csv.reader([line], delimiter=sep), [])
    lowered = [n.lower() for n in names]
    repeated = {n for n in lowered if lowered.count(n) > 1}
    return [
        f"_c{i}" if not n else f"{n}{i}" if n.lower() in repeated else n
        for i, n in enumerate(names)
    ]


def _spark_header(path: str, sep: str) -> list[str]:
    """The column names Spark's CSV reader gives the header row of
    ``path``: its first non-blank line, named by :func:`_safe_names`."""
    lines = _nonblank_lines(path)
    return _safe_names(lines[0], sep) if lines else []


def read_landed_csv(path: str, sep: str | None = None) -> pd.DataFrame:
    """Header CSV -> all-string pandas DataFrame, row for row what
    :func:`read_csv_all_string` reads: each line is one record, an empty
    field is None, and a row is padded with None or cut to the header's
    width. Quotes follow Python's csv module, which differs from Spark's
    reader only on a quote escaped inside a quoted field (``""`` or
    ``\\"``)."""
    lines = _nonblank_lines(path)
    sep = sep or _sniff(lines)
    names = _safe_names(lines[0], sep) if lines else []
    rows = np.full((max(len(lines) - 1, 0), len(names)), None, dtype=object)
    for i, line in enumerate(lines[1:]):
        fields = next(csv.reader([line], delimiter=sep), [])[: len(names)]
        rows[i, : len(fields)] = fields
    rows[rows == ""] = None
    return pd.DataFrame(rows, columns=names)


def read_csv_all_string(spark: SparkSession, path: str, sep: str | None = None) -> DataFrame:
    """Header CSV -> all-string Spark DataFrame (S6). The header is
    parsed on the driver, so the read starts no Spark job to infer it."""
    sep = sep or sniff_delimiter(path)
    schema = StructType([StructField(n, StringType()) for n in _spark_header(path, sep)])
    return spark.read.schema(schema).option("header", True).option("sep", sep).csv(path)


def extract_zip_csv(zip_path: str, out_dir: str) -> str:
    """S3 (extract:71-82): stream the first CSV member out of a zip."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(zip_path) as zf:
        member = next(n for n in zf.namelist() if n.lower().endswith(".csv"))
        target = out / Path(member).name
        with zf.open(member) as src, open(target, "wb") as dst:
            while True:
                chunk = src.read(1 << 20)
                if not chunk:
                    break
                dst.write(chunk)
    return str(target)


def filter_monthly_to_day(raw: pd.DataFrame, day: dt.date) -> pd.DataFrame:
    """S4 (extract:116-156): locate the date column, read the first ISO
    (yyyy-mm-dd) date in it, else the first Brazilian (dd/mm/yyyy) one,
    and keep the rows dated ``day``. Column names come back normalized."""
    cols = [norm_name(c) for c in raw.columns]
    raw = raw.set_axis(cols, axis=1)
    date_col = find_col(
        cols, ["data", "datahora", "data_hora_gmt", "data_pas"], ["data", "hora", "gmt"]
    )
    if date_col is None:
        raise ValueError(f"no date column found in {cols[:40]}")
    text = raw[date_col].astype(object)
    iso = text.str.extract(r"([0-9]{4}-[0-9]{2}-[0-9]{2})", expand=False)
    br = text.str.extract(r"([0-9]{2}/[0-9]{2}/[0-9]{4})", expand=False)
    parsed = pd.to_datetime(iso, format="%Y-%m-%d", errors="coerce").fillna(
        pd.to_datetime(br, format="%d/%m/%Y", errors="coerce")
    )
    return raw[(parsed == pd.Timestamp(day)).to_numpy()].reset_index(drop=True)


class LandingCache:
    """S1/S2 file cache (extract:212-255): fetch-once landing dir keyed
    by logical name; ``fetch`` is any callable writing bytes (HTTP in
    production, fixture copy in tests)."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    def path_for(self, key: str) -> Path:
        return self.root / key

    def get_or_fetch(self, key: str, fetch) -> str | None:
        target = self.path_for(key)
        if target.exists():
            return str(target)
        data = fetch()
        if data is None:
            return None
        if isinstance(data, str):
            data = data.encode("utf-8")
        target.write_bytes(data)
        return str(target)


# --- extract control flow (S1/S2/S5) ---------------------------------------

# candidate monthly archive names, tried in order
# (extract/inpe_focos_diario.py:29-34)
MONTHLY_CANDIDATES = (
    "focos_mensal_br_{ym}.csv",
    "focos_mensal_br_{ym}.zip",
    "focos_mensal_{ym}.csv",
    "focos_mensal_{ym}.zip",
)
DEFAULT_RETENTION_DAYS = 45  # settings.inpe_retention_days (config.py:16)


@dataclass(frozen=True)
class ExtractResult:
    """What the extract step resolved for a date: the landed file and
    whether it is the daily CSV or the monthly archive (the caller
    applies the monthly->daily filter for 'monthly')."""

    file_date: dt.date
    source: str  # 'daily' | 'monthly'
    key: str  # logical name fetched (URL tail in production)
    path: str


class InpeExtractor:
    """S5 retention routing + S2 monthly candidate loop over an
    injected fetcher (extract/inpe_focos_diario.py:159-311).

    ``fetcher(name)`` returns the file bytes or None for a 404 — HTTP
    stays a driver-side concern and tests inject fixtures. Routing:
    dates older than ``retention_days`` (fallen off INPE's daily
    endpoint) try the monthly archive first, then daily; fresh dates
    try daily first, then monthly (:259-311). Every landed file goes
    through the write-once LandingCache, so retried days are free.
    """

    def __init__(
        self,
        cache: LandingCache,
        fetcher,
        retention_days: int = DEFAULT_RETENTION_DAYS,
        today: dt.date | None = None,
    ):
        self.cache = cache
        self.fetcher = fetcher
        self.retention_days = retention_days
        self.today = today or dt.date.today()

    @staticmethod
    def daily_key(d: dt.date) -> str:
        """URL tail of the daily CSV (extract:38-43)."""
        return f"focos_diario_br_{d.strftime('%Y%m%d')}.csv"

    def fetch_daily(self, d: dt.date) -> str | None:
        return self.cache.get_or_fetch(
            self.daily_key(d), lambda: self.fetcher(self.daily_key(d))
        )

    def fetch_monthly(self, d: dt.date) -> tuple[str, str] | None:
        """Try the monthly candidates in order; zip hits are extracted
        to the canonical monthly CSV cache key (S2+S3,
        extract:159-209). Returns (csv_path, winning key) or None."""
        ym = d.strftime("%Y%m")
        canonical = f"focos_mensal_{ym}.csv"
        cached = self.cache.path_for(canonical)
        if cached.exists():
            return str(cached), canonical
        for pattern in MONTHLY_CANDIDATES:
            key = pattern.format(ym=ym)
            data = self.fetcher(key)
            if data is None:
                continue
            if isinstance(data, str):
                data = data.encode("utf-8")
            if key.endswith(".zip"):
                zip_path = self.cache.path_for(f"focos_mensal_{ym}.zip")
                zip_path.write_bytes(data)
                extracted = extract_zip_csv(str(zip_path), str(self.cache.root))
                Path(extracted).replace(cached)
            else:
                cached.write_bytes(data)
            return str(cached), key
        return None

    def extract_day(self, d: dt.date) -> ExtractResult:
        """S5: route by retention cutoff, falling back to the other
        source; FileNotFoundError when neither exists."""
        cutoff = self.today - dt.timedelta(days=self.retention_days)
        order = ("monthly", "daily") if d <= cutoff else ("daily", "monthly")
        for source in order:
            if source == "daily":
                path = self.fetch_daily(d)
                if path is not None:
                    return ExtractResult(d, "daily", self.daily_key(d), path)
            else:
                hit = self.fetch_monthly(d)
                if hit is not None:
                    path, key = hit
                    return ExtractResult(d, "monthly", key, path)
        raise FileNotFoundError(f"no daily or monthly source for {d.isoformat()}")



# public INPE endpoints (reference config.py:14-15)
INPE_DAILY_BASE_URL = (
    "https://dataserver-coids.inpe.br/queimadas/queimadas/focos/csv/diario/Brasil"
)
INPE_MONTHLY_BASE_URL = (
    "https://dataserver-coids.inpe.br/queimadas/queimadas/focos/csv/mensal/Brasil"
)


def http_fetcher(
    daily_base_url: str = INPE_DAILY_BASE_URL,
    monthly_base_url: str = INPE_MONTHLY_BASE_URL,
    timeout: float = 30.0,
    retries: int = 2,
    backoff_s: float = 0.5,
    opener=None,
):
    """S1's driver-side HTTP GET as an ``InpeExtractor`` fetcher
    (extract/inpe_focos_diario.py:212-255): 404 -> None (the routing
    signal), transient 5xx / connection errors retried with
    exponential backoff, anything else raised. Daily keys resolve
    against the daily base URL, monthly keys against the monthly one
    (config.py:14-15). ``opener`` is injectable for tests; default is
    ``urllib.request.urlopen``.

    HTTP stays on the driver by design: one small file per day lands
    in the LandingCache and only then is it read — executors never
    see a URL.
    """
    import http.client as _hclient
    import time as _time
    from urllib import error as _uerror
    from urllib import request as _urequest

    open_fn = opener or _urequest.urlopen

    def fetch(name: str) -> bytes | None:
        base = daily_base_url if name.startswith("focos_diario") else monthly_base_url
        url = base.rstrip("/") + "/" + name
        for attempt in range(retries + 1):
            try:
                req = _urequest.Request(
                    url, headers={"User-Agent": "inpe-queimadas-etl-spark/1.0"}
                )
                with open_fn(req, timeout=timeout) as resp:
                    return resp.read()
            except _uerror.HTTPError as exc:
                if exc.code == 404:
                    return None
                if exc.code >= 500 and attempt < retries:
                    _time.sleep(backoff_s * (2**attempt))
                    continue
                raise
            except (OSError, _hclient.HTTPException):
                # URLError (connect), socket timeout DURING resp.read()
                # (TimeoutError/OSError), and truncated bodies
                # (IncompleteRead, an HTTPException) are all transient:
                # retry them uniformly
                if attempt < retries:
                    _time.sleep(backoff_s * (2**attempt))
                    continue
                raise
        return None

    return fetch


def write_fixture_csv(path: str, header: list[str], rows: list[list], sep: str = ";") -> str:
    """Test helper: write a CSV with the given dialect."""
    buf = io.StringIO()
    writer = csv.writer(buf, delimiter=sep, lineterminator="\n")
    writer.writerow(header)
    writer.writerows(rows)
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    Path(path).write_text(buf.getvalue(), encoding="utf-8")
    return path
