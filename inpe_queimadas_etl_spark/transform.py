"""CSV -> curated transform (reference P1-P9).

Re-expresses src/etl/transform/inpe_focos_diario.py:81-186 as one
pandas function per landed file, :func:`curate_file`, which the batch
runs inside its curate-and-enrich task (``pipeline.process_batch``):

- the file is read as all-string columns (``csv_ingest.read_landed_csv``,
  with Spark's header naming); a monthly archive keeps the file date's
  rows (S4);
- column normalization and fuzzy resolution (P1/P2);
- the decimal-comma cast takes exactly the syntax of Spark's
  ``try_cast(string AS double)`` (:func:`spark_double`), and rows
  without finite in-range coordinates are dropped (P3-P5);
- value cleansing (P6), canonical JSON payload assembly (P7) and the
  props serialization (P9) run column-wise (:func:`_canonicalize_batch`),
  byte for byte the reference's json.dumps output;
- the MD5 is ``hashlib.md5`` over the UTF-8 payload, and the first row
  per hash in file order is kept (P8). The payload starts with the
  file date, so dedup within one date is exact.

:func:`curated_from_raw` is the same transform over a Spark DataFrame
(JVM casts, JVM ``md5`` and a per-hash window). It is the reference
path the pandas function is tested against, not a production step.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.core import decimal_comma_to_double, find_col, norm_name, normalize_columns
from .schemas import CURATED_FOCOS
from .sources.csv_ingest import _JAVA_WS, filter_monthly_to_day, read_landed_csv

_ROW_ID = "__row_id"


def resolve_focos_columns(columns: list[str]) -> dict[str, str | None]:
    """Fuzzy column resolution for the INPE daily CSV (P2,
    transform/inpe_focos_diario.py:93-103)."""
    lat = find_col(columns, ["lat", "latitude"], ["lat"])
    lon = find_col(columns, ["lon", "long", "longitude"], ["lon", "long"])
    if not lat or not lon:
        raise ValueError(f"lat/lon columns not found in: {columns[:80]}")
    return {
        "lat": lat,
        "lon": lon,
        "ts": find_col(
            columns, ["datahora", "data_hora_gmt", "data_hora"], ["datahora", "hora", "gmt"]
        ),
        "sat": find_col(columns, ["satelite"], ["satel"]),
        "mun": find_col(columns, ["municipio"], ["municip"]),
        "uf": find_col(columns, ["estado", "uf"], ["estado", "uf"]),
        "bio": find_col(columns, ["bioma"], ["bioma"]),
    }


# java.lang.Double.parseDouble's grammar (after its trim); groups:
# sign, NaN, Infinity, decimal literal, hex literal
_JAVA_DOUBLE = re.compile(
    r"([+-]?)(?:(NaN)|(Infinity)"
    r"|([0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?|\.[0-9]+(?:[eE][+-]?[0-9]+)?)[fFdD]?"
    r"|(0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)[fFdD]?)"
)
# the literals Spark's cast takes after parseDouble refuses them
# (Cast.processFloatingPointSpecialLiterals), matched lowercased
_SPECIAL_DOUBLES = {
    "inf": math.inf, "+inf": math.inf, "infinity": math.inf, "+infinity": math.inf,
    "-inf": -math.inf, "-infinity": -math.inf, "nan": math.nan,
}


def spark_double(text: str | None) -> float | None:
    """``try_cast(text AS double)`` as Spark computes it: Java's
    ``Double.parseDouble`` syntax after a Java trim (so ``1.5d``,
    ``1.5F`` and ``0x1p3`` parse, ``1_0`` does not), then Spark's
    special literals (``inf``, ``nan``, ... in any case); anything else
    is None."""
    if text is None:
        return None
    t = text.strip(_JAVA_WS)
    m = _JAVA_DOUBLE.fullmatch(t)
    if m is None:
        return _SPECIAL_DOUBLES.get(t.lower())
    sign, nan, inf, dec, hexa = m.groups()
    if nan:
        return math.nan
    if inf:
        return -math.inf if sign == "-" else math.inf
    return float(sign + dec) if dec is not None else float.fromhex(sign + hexa)


def decimal_comma_doubles(values: pd.Series) -> np.ndarray:
    """P3 (transform/inpe_focos_diario.py:39-40): ',' -> '.' then
    :func:`spark_double`; invalid -> NaN, like ``errors="coerce"``."""
    return np.array(
        [None if v is None else spark_double(v.replace(",", ".")) for v in values],
        dtype="float64",
    )


def _clean_value(v):
    """P6 (transform/inpe_focos_diario.py:43-59)."""
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, str) and v.strip().lower() in ("nan", "na", "null", "none", ""):
        return None
    return v


def _json_safe(d: dict) -> str:
    """P9 (transform/inpe_focos_diario.py:62-64): json.dumps with
    ensure_ascii=False, default=str, allow_nan=False — the reference's
    exact serialization, so props/payload bytes match."""
    return json.dumps(d, ensure_ascii=False, default=str, allow_nan=False)


# characters whose presence forces the json.dumps slow path for a string
_NEEDS_ESCAPE = r'["\\\x00-\x1f]'
_BAD_TOKENS = ("nan", "na", "null", "none", "")


def _clean_str_series(s: pd.Series) -> pd.Series:
    """Column-wise P6: null out 'nan'/'na'/'null'/'none'/'' (after
    strip/lower), keep everything else verbatim."""
    s = s.astype(object)
    low = s.str.strip().str.lower()
    bad = low.isin(_BAD_TOKENS)
    return s.mask(bad, None)


def _json_token_series(s: pd.Series) -> pd.Series:
    """JSON-encode a cleaned string column: nulls -> 'null'; strings
    without escapable characters take the vectorized '\"'+s+'\"' fast
    path; the rest fall back to json.dumps per value. Byte-identical
    to json.dumps(v, ensure_ascii=False) on every value."""
    needs = s.str.contains(_NEEDS_ESCAPE, regex=True, na=False)
    out = ('"' + s + '"').astype(object)
    if needs.any():
        out[needs] = s[needs].map(lambda v: json.dumps(v, ensure_ascii=False))
    return out.mask(s.isna(), "null")


def _repr_series(x: pd.Series) -> pd.Series:
    """Vectorized ``repr()`` for finite float64: numpy's unicode cast
    runs dragon4 shortest-round-trip in a C loop and matches Python's
    float repr byte-for-byte, including the scientific-notation
    cutoffs (|v| < 1e-4 or >= 1e16) and the '-0.0' sign (verified over
    fuzzed boundaries; pinned by the parity fuzz gate). U32 is ample:
    a float64 repr is at most 24 characters."""
    return pd.Series(
        x.to_numpy(dtype="float64").astype("U32"), index=x.index, dtype=object
    )


def _repr_round6_series(x: pd.Series) -> pd.Series:
    """Vectorized ``repr(round(v, 6))``. np.round (scale by 10^6 —
    exact in float64 — rint, divide) agrees with Python's
    correctly-rounded-decimal round whenever the scaled value sits
    >= 1e-3 away from a rounding boundary: the one multiply's rounding
    error (<= ~6e-8 for |v| <= 1e9) cannot carry the value across the
    half-integer, and the divide by the exactly-representable 10^6 is
    the same correctly-rounded quotient CPython produces. Values
    inside the boundary band — or huge ones where the margin argument
    weakens — fall back to the exact Python form (~0.2 % of uniform
    coordinate data). On near-half adversarial values np.round alone
    diverges from Python round ~36 % of the time, which is why the
    band test is on the UNROUNDED scaled value, not a post-hoc
    comparison."""
    v = x.to_numpy(dtype="float64")
    scaled = np.abs(v) * 1e6
    frac = scaled - np.floor(scaled)
    risky = (np.abs(frac - 0.5) < 1e-3) | (np.abs(v) > 1e9)
    out = np.empty(len(v), dtype=object)
    safe = ~risky
    if safe.any():
        out[safe] = np.round(v[safe], 6).astype("U32")
    if risky.any():
        out[risky] = [repr(round(float(val), 6)) for val in v[risky]]
    return pd.Series(out, index=x.index, dtype=object)


def _canonicalize_batch(
    pdf: pd.DataFrame,
    prop_cols: list[str],
    file_date_str: str,
    lat_col: str,
    lon_col: str,
    ts_col: str | None,
    sat_col: str | None,
    mun_col: str | None,
    uf_col: str | None,
    bio_col: str | None,
) -> pd.DataFrame:
    """Vectorized P6/P9 + P7 payload assembly over one Arrow batch:
    column-wise cleaning and string-concat JSON assembly. Reproduces
    the reference's json.dumps serialization byte-for-byte (key order
    = column order, ', '/': ' separators, repr() float formatting,
    Python round-half-even for the 6-dp hash payload) — parity is
    pinned by tests against _canonicalize_rows_reference."""
    n = len(pdf)
    lat = pdf["__lat"].astype(float)
    lon = pdf["__lon"].astype(float)
    # full-precision floats go into props; the hash payload rounds to
    # 6 dp with Python-round semantics (correctly-rounded decimal,
    # half-even). Both formatters are C-looped with a narrow per-value
    # fallback — byte-parity pinned by the fuzz gate
    # (test_property_fuzz vs _canonicalize_rows_reference).
    lat_repr = _repr_series(lat)
    lon_repr = _repr_series(lon)
    lat6 = _repr_round6_series(lat)
    lon6 = _repr_round6_series(lon)

    cleaned: dict[str, pd.Series] = {
        c: _clean_str_series(pdf[c]) for c in prop_cols if c not in (lat_col, lon_col)
    }
    tokens: dict[str, pd.Series] = {
        c: _json_token_series(s) for c, s in cleaned.items()
    }
    tokens[lat_col] = lat_repr
    tokens[lon_col] = lon_repr

    # props: '{' + '"k": v' joined with ', ' in column order (P9)
    parts = []
    for k in prop_cols:
        key = json.dumps(k, ensure_ascii=False)
        parts.append(key + ": " + tokens[k])
    props = "{" + parts[0]
    for p in parts[1:]:
        props = props + ", " + p
    props = props + "}"

    null_series = pd.Series([None] * n, index=pdf.index, dtype=object)
    view_ts = cleaned.get(ts_col, null_series) if ts_col else null_series
    sat = cleaned.get(sat_col, null_series) if sat_col else null_series
    ts_tok = tokens.get(ts_col, pd.Series(["null"] * n, index=pdf.index)) if ts_col else pd.Series(["null"] * n, index=pdf.index)
    sat_tok = tokens.get(sat_col, pd.Series(["null"] * n, index=pdf.index)) if sat_col else pd.Series(["null"] * n, index=pdf.index)

    # The md5 itself is NOT computed here: the batch emits the payload
    # string and the JVM hashes it with F.md5 (string -> UTF-8 binary
    # cast), which is byte-identical to hashlib.md5(p.encode("utf-8"))
    # and keeps the hash inside whole-stage codegen.
    payload = (
        '{"file_date": "' + file_date_str + '", "lat": ' + lat6
        + ', "lon": ' + lon6
        + ', "view_ts": ' + ts_tok
        + ', "satelite": ' + sat_tok
        + "}"
    )

    def pick(col):
        return cleaned.get(col, null_series) if col else null_series

    return pd.DataFrame(
        {
            "__payload": payload,
            "view_ts": view_ts,
            "satelite": sat,
            "municipio": pick(mun_col),
            "estado": pick(uf_col),
            "bioma": pick(bio_col),
            "lat": lat,
            "lon": lon,
            "props": props,
            _ROW_ID: pdf[_ROW_ID],
        }
    )


def _canonicalize_rows_reference(
    pdf: pd.DataFrame,
    prop_cols: list[str],
    file_date_str: str,
    lat_col: str,
    lon_col: str,
    ts_col: str | None,
    sat_col: str | None,
) -> list[dict]:
    """The reference's row-at-a-time canonicalization
    (transform/inpe_focos_diario.py:121-176), kept as the byte-parity
    ORACLE for _canonicalize_batch in tests — not used in the
    production path."""
    rows = []
    for rec in pdf.to_dict(orient="records"):
        props = {k: _clean_value(rec[k]) for k in prop_cols}
        lat = float(rec["__lat"])
        lon = float(rec["__lon"])
        props[lat_col] = lat
        props[lon_col] = lon
        view_ts = props.get(ts_col) if ts_col else None
        sat = props.get(sat_col) if sat_col else None
        payload = {
            "file_date": file_date_str,
            "lat": round(lat, 6),
            "lon": round(lon, 6),
            "view_ts": view_ts,
            "satelite": sat,
        }
        rows.append(
            {
                "event_hash": hashlib.md5(
                    _json_safe(payload).encode("utf-8")
                ).hexdigest(),
                "props": _json_safe(props),
            }
        )
    return rows


def curate_file(path: str, file_date: dt.date, monthly: bool = False) -> pd.DataFrame:
    """One landed CSV -> its curated rows (CURATED_FOCOS columns), in
    file order, the first row per ``event_hash`` kept. ``monthly``: the
    file is a monthly archive, and only ``file_date``'s rows count."""
    raw = read_landed_csv(path)
    if monthly:
        raw = filter_monthly_to_day(raw, file_date)
    raw = raw.set_axis([norm_name(c) for c in raw.columns], axis=1)
    cols = resolve_focos_columns(list(raw.columns))
    prop_cols = list(raw.columns)

    # P3-P5: NaN and +-inf fail the inclusive range test
    lat = decimal_comma_doubles(raw[cols["lat"]])
    lon = decimal_comma_doubles(raw[cols["lon"]])
    keep = (lat >= -90) & (lat <= 90) & (lon >= -180) & (lon <= 180)
    valid = raw[keep].reset_index(drop=True)
    valid["__lat"], valid["__lon"] = lat[keep], lon[keep]
    valid[_ROW_ID] = np.arange(len(valid))

    out = _canonicalize_batch(
        valid,
        prop_cols,
        str(file_date),
        cols["lat"],
        cols["lon"],
        cols["ts"],
        cols["sat"],
        cols["mun"],
        cols["uf"],
        cols["bio"],
    )
    # P7/P8: the reference's MD5, first row per hash in file order
    out["event_hash"] = [hashlib.md5(p.encode("utf-8")).hexdigest() for p in out["__payload"]]
    out = out[~out["event_hash"].duplicated()].reset_index(drop=True)
    out["file_date"] = file_date
    return out[CURATED_FOCOS.names]


def curated_from_raw(raw: DataFrame, file_date: dt.date) -> DataFrame:
    """All-string raw CSV DataFrame -> curated focos records: the Spark
    form of :func:`curate_file`, kept as its reference.

    ``raw`` must be read with header=True and string-typed columns
    (sources/csv_ingest.py). Returns the CURATED_FOCOS schema.
    """
    df = normalize_columns(raw)
    cols = resolve_focos_columns(df.columns)
    prop_cols = list(df.columns)

    # P3-P5: numeric cast + coordinate validation, JVM-side
    df = (
        df.withColumn("__lat", decimal_comma_to_double(cols["lat"]))
        .withColumn("__lon", decimal_comma_to_double(cols["lon"]))
        .filter(F.col("__lat").isNotNull() & F.col("__lon").isNotNull())
        .filter(F.col("__lat").between(-90, 90) & F.col("__lon").between(-180, 180))
        .withColumn(_ROW_ID, F.monotonically_increasing_id())
    )

    out_schema = (
        "__payload string, view_ts string, satelite string, municipio string,"
        " estado string, bioma string, lat double, lon double, props string,"
        f" {_ROW_ID} long"
    )
    file_date_str = str(file_date)
    lat_col, lon_col = cols["lat"], cols["lon"]
    ts_col, sat_col = cols["ts"], cols["sat"]
    mun_col, uf_col, bio_col = cols["mun"], cols["uf"], cols["bio"]

    def canonicalize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _canonicalize_batch(
                pdf,
                prop_cols,
                file_date_str,
                lat_col,
                lon_col,
                ts_col,
                sat_col,
                mun_col,
                uf_col,
                bio_col,
            )

    # P7: hash JVM-side — F.md5 on a string column casts to binary via
    # UTF-8, matching hashlib.md5(payload.encode("utf-8")) exactly;
    # this keeps the widest-scan hash out of Python entirely.
    canonical = (
        df.mapInPandas(canonicalize, schema=out_schema)
        .withColumn("event_hash", F.md5(F.col("__payload")))
        .drop("__payload")
    )

    # P8: keep the first file row per hash
    w = Window.partitionBy("event_hash").orderBy(F.asc(_ROW_ID))
    deduped = (
        canonical.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", _ROW_ID)
    )
    return deduped.withColumn(
        "file_date", F.lit(file_date_str).cast("date")
    ).select([f.name for f in CURATED_FOCOS.fields])
