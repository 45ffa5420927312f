"""Serving-layer query surface (§2.11) over the day-dim fact table.

Each reference API endpoint (api/app/main.py) becomes a parameterized
DataFrame function over the `mv_focos_day_dim` equivalent. Range
semantics are [from, to) with `to` exclusive, max 365 days
(main.py:77,89-93); filters normalize strip/upper and match code OR
name (main.py:136-158,171-215); granularity downshifts day -> week ->
month at 92/273 days (main.py:78-79,392-397); the municipality top-k
guardrail caps k at 10 without a UF filter (main.py:76,1537-1539).
"""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.legend import compute_breaks
from .session import local_df

MAX_RANGE_DAYS = 365
TS_WEEK_THRESHOLD_DAYS = 92
TS_MONTH_THRESHOLD_DAYS = 273
CHORO_MAX_DAYS_MUN = 180
MUN_GUARDRAIL_LIMIT = 10
POINTS_LIMIT_HARD_CAP = 50_000
POINTS_LIMIT_DEFAULT = 20_000
BBOX_RATIO_WARN_VALIDATE = 50.0  # main.py:1831

# group key -> (code expr, name expr), mirroring TOP_GROUP_EXPR
# (api/app/main.py:60-66)
TOP_GROUP_EXPR = {
    "uf": ("uf", "uf"),
    "bioma": ("cd_bioma", "bioma"),
    "mun": ("cd_mun", "mun_nm_mun"),
    "uc": ("cd_cnuc", "uc_nome"),
    "ti": ("terrai_cod", "ti_nome"),
}


def validate_range(from_date: dt.date, to: dt.date) -> None:
    """[from, to) validation (main.py:89-93)."""
    if from_date >= to:
        raise ValueError("invalid range: require from < to (to is exclusive)")
    if (to - from_date).days > MAX_RANGE_DAYS:
        raise ValueError(f"range too large: max {MAX_RANGE_DAYS} days")


def default_range(today: dt.date | None = None) -> tuple[dt.date, dt.date]:
    """Default request window when from/to are absent: the last 30
    days INCLUDING today — to = tomorrow (exclusive), from = to - 30
    (main.py:96-100)."""
    today = today or dt.date.today()
    to = today + dt.timedelta(days=1)
    return to - dt.timedelta(days=30), to


def parse_bbox(bbox: str) -> tuple[float, float, float, float]:
    """Request bbox string "minLon,minLat,maxLon,maxLat" -> floats,
    with the reference's validation order and messages (main.py:400-415;
    ValueError stands in for its HTTP 422)."""
    raw = (bbox or "").strip()
    parts = [p.strip() for p in raw.split(",") if p.strip()]
    if len(parts) != 4:
        raise ValueError("bbox must be minLon,minLat,maxLon,maxLat")
    try:
        vals = [float(p) for p in parts]
    except ValueError as exc:
        raise ValueError("bbox values must be numeric") from exc
    # float() parses "nan"/"inf", and NaN fails every comparison below
    if not all(map(math.isfinite, vals)):
        raise ValueError("bbox values must be numeric")
    min_lon, min_lat, max_lon, max_lat = vals
    if min_lon >= max_lon or min_lat >= max_lat:
        raise ValueError("invalid bbox: require min < max")
    if min_lon < -180 or max_lon > 180 or min_lat < -90 or max_lat > 90:
        raise ValueError("invalid bbox range")
    return min_lon, min_lat, max_lon, max_lat


def timeseries_granularity(days: int) -> str:
    """main.py:392-397."""
    if days > TS_MONTH_THRESHOLD_DAYS:
        return "month"
    if days > TS_WEEK_THRESHOLD_DAYS:
        return "week"
    return "day"


def _norm(v: str | None) -> str | None:
    if v is None:
        return None
    v = v.strip().upper()
    return v or None


def _range_pred(from_date: dt.date, to: dt.date):
    return (F.col("day") >= F.lit(str(from_date)).cast("date")) & (
        F.col("day") < F.lit(str(to)).cast("date")
    )


# fact-mart filter column -> its name on the enriched events table
# (the points scan runs on enriched events, whose municipality-derived
# columns carry the mun_/enr prefixes before the mart rename)
_EVENTS_COL_FALLBACK = {
    "uf": "mun_uf",
    "cd_mun": "mun_cd_mun",
    "bioma": "bioma_enr",
}


def _filter_pred(filters: dict[str, str | None], columns: list[str] | None = None):
    """Code-or-name match per entity (P11, main.py:171-215). Mirrors
    `_build_fact_where` exactly: `uf` is plain equality against the
    upper-normalized filter value; other entities compare the code
    column exactly (no upper()) OR `upper(coalesce(name, '')) = v`.
    ``columns`` (the target DataFrame's schema) lets the same predicate
    run on the enriched events table, whose pre-mart column names
    differ (_EVENTS_COL_FALLBACK)."""

    def resolve(col: str) -> str:
        if columns is not None and col not in columns:
            return _EVENTS_COL_FALLBACK.get(col, col)
        return col

    pred = F.lit(True)
    for key, (code_col, name_col) in TOP_GROUP_EXPR.items():
        v = _norm(filters.get(key)) if filters else None
        if v is None:
            continue
        if key == "uf":
            pred = pred & (F.col(resolve("uf")) == v)
        else:
            pred = pred & (
                (F.col(resolve(code_col)).cast("string") == v)
                | (F.upper(F.coalesce(F.col(resolve(name_col)), F.lit(""))) == v)
            )
    return pred


def _base(fact: DataFrame, from_date: dt.date, to: dt.date, filters=None) -> DataFrame:
    validate_range(from_date, to)
    return fact.filter(_range_pred(from_date, to)).filter(_filter_pred(filters or {}))


def timeseries_total(
    fact: DataFrame,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    granularity: str | None = None,
) -> DataFrame:
    """A9 (main.py:1448-1506): sum per adaptive time bucket."""
    gran = granularity or timeseries_granularity((to - from_date).days)
    base = _base(fact, from_date, to, filters)
    bucket = (
        F.col("day")
        if gran == "day"
        else F.to_date(F.date_trunc(gran, F.col("day")))
    )
    return (
        base.groupBy(bucket.alias("bucket"))
        .agg(F.sum("n_focos").alias("n_focos"))
        .orderBy("bucket")
    )


def top_groups(
    fact: DataFrame,
    group: str,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    k: int = 10,
) -> DataFrame:
    """A10 (main.py:1532-1579): top-k groups by total, key coalesce of
    code/name, null/empty keys dropped, deterministic tie-break."""
    code_col, name_col = TOP_GROUP_EXPR[group]
    if group == "mun" and not (filters or {}).get("uf"):
        k = min(k, MUN_GUARDRAIL_LIMIT)  # main.py:1537-1539
    key = F.coalesce(F.col(code_col).cast("string"), F.col(name_col))
    label = F.coalesce(F.col(name_col), F.col(code_col).cast("string"))
    base = _base(fact, from_date, to, filters)
    return (
        base.filter(key.isNotNull() & (key != ""))
        .groupBy(key.alias("key"))
        .agg(F.max(label).alias("label"), F.sum("n_focos").alias("n_focos"))
        .orderBy(F.desc("n_focos"), F.asc("key"))
        .limit(k)
    )


def totals(
    fact: DataFrame, from_date: dt.date, to: dt.date, filters: dict | None = None
) -> DataFrame:
    """A11 totals (main.py:1615-1627)."""
    return _base(fact, from_date, to, filters).agg(
        F.coalesce(F.sum("n_focos"), F.lit(0)).alias("total")
    )


def summary(
    fact: DataFrame, from_date: dt.date, to: dt.date, filters: dict | None = None
) -> dict:
    """A11 summary (main.py:1656-1702): total, mean_per_day =
    total/greatest(1, days), peak day (ties -> earliest)."""
    days = (to - from_date).days
    daily = (
        _base(fact, from_date, to, filters)
        .groupBy("day")
        .agg(F.sum("n_focos").alias("n"))
    )
    rows = daily.collect()
    total = sum(r["n"] for r in rows)
    peak = min(
        (r for r in rows), key=lambda r: (-r["n"], r["day"]), default=None
    )
    return {
        "total": int(total),
        # full-precision quotient (total::double / greatest(1, days),
        # main.py:1684-1696); rounding is a presentation concern
        "mean_per_day": total / max(1, days),
        "peak_day": peak["day"] if peak else None,
        "peak_n": int(peak["n"]) if peak else 0,
    }


def choropleth_uf(
    fact: DataFrame,
    all_ufs: DataFrame,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Choropleth by UF (main.py:930-1017): aggregate per UF with
    zero-fill against the full UF dim (J7) + exact quantile legend
    (A13). Returns (DataFrame, legend dict)."""
    agg = (
        _base(fact, from_date, to, filters)
        .filter(F.col("uf").isNotNull())
        .groupBy("uf")
        .agg(F.sum("n_focos").alias("n_focos"))
    )
    dense = (
        all_ufs.select("uf")
        .join(agg, "uf", "left")
        .withColumn("n_focos", F.coalesce(F.col("n_focos"), F.lit(0)))
    )
    values = [int(r["n_focos"]) for r in dense.collect()]
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    return dense, legend


def choropleth_mun(
    fact: DataFrame,
    from_date: dt.date,
    to: dt.date,
    uf: str,
    filters: dict | None = None,
) -> tuple[DataFrame, dict]:
    """Choropleth by municipality (main.py:1020-1130): requires a UF
    filter, range capped at 180 days."""
    if not uf:
        raise ValueError("uf filter required for municipality choropleth")
    if (to - from_date).days > CHORO_MAX_DAYS_MUN:
        raise ValueError(f"range too large: max {CHORO_MAX_DAYS_MUN} days")
    f = dict(filters or {})
    f["uf"] = uf
    agg = (
        _base(fact, from_date, to, f)
        .filter(F.col("cd_mun").isNotNull())
        .groupBy("cd_mun")
        .agg(F.max("mun_nm_mun").alias("mun_nm_mun"), F.sum("n_focos").alias("n_focos"))
    )
    values = [int(r["n_focos"]) for r in agg.collect()]
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    return agg, legend


def points(
    events: DataFrame,
    day: dt.date,
    bbox: tuple[float, float, float, float] | None = None,
    limit: int = POINTS_LIMIT_DEFAULT,
    filters: dict | None = None,
    select_cols: list[str] | None = None,
) -> tuple[DataFrame, bool]:
    """Per-day bbox point scan with limit+1 truncation detection
    (main.py:1401-1445,498-526). ``filters`` applies the same
    code-or-name entity predicates as the aggregate endpoints — the
    reference's `_run_points_query` takes the active filters too
    (main.py:498-526). ``select_cols`` widens the projection (the API
    layer's point payload carries uf/mun/bioma labels,
    schemas.PointItem). Returns (DataFrame, truncated)."""
    limit = min(limit, POINTS_LIMIT_HARD_CAP)
    df = events.filter(F.col("event_day") == F.lit(str(day)).cast("date"))
    if filters:
        df = df.filter(_filter_pred(filters, columns=events.columns))
    if bbox is not None:
        min_lon, min_lat, max_lon, max_lat = bbox
        df = df.filter(
            F.col("lon").between(min_lon, max_lon)
            & F.col("lat").between(min_lat, max_lat)
        )
    # Fetch once and slice (main.py:1428-1431): a second .limit() scan
    # would re-execute nondeterministically and could disagree with the
    # truncated flag computed from the first fetch.
    cols = select_cols or ["event_hash", "lat", "lon", "event_day"]
    probe = df.select(*cols).limit(limit + 1)
    rows = probe.collect()
    truncated = len(rows) > limit
    out = local_df(events.sparkSession, rows[:limit], probe.schema)
    return out, truncated


POINTS_SMOKE_LIMIT = 200  # main.py:86
POINTS_SMOKE_BBOX = (-55.5, -16.5, -54.5, -15.5)  # main.py:613-614


def _legend_breaks_monotonic(values: list[int]) -> bool:
    """main.py:317-323: quantile/k=5/zero-class breaks strictly
    increasing over the raw (non-zero-filled) group sums."""
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    breaks = [float(x) for x in legend.get("breaks", [])]
    return all(breaks[i] > breaks[i - 1] for i in range(1, len(breaks)))


def _points_smoke(
    events: DataFrame,
    base: DataFrame,
    from_date: dt.date,
    to: dt.date,
    smoke_bbox: tuple[float, float, float, float],
    filters: dict | None = None,
) -> tuple[bool, bool, dt.date | None, int]:
    """main.py:586-621: pick the peak day under the active filters
    (sum desc, day asc), falling back to the last in-range day, then
    run the points scan over a small fixed bbox — WITH the active
    filters, as the reference's _points_smoke_validate passes them to
    _run_points_query (ADVICE r3 #3) — and check the returned count
    respects the limit."""
    peak = (
        base.groupBy("day")
        .agg(F.sum("n_focos").alias("n"))
        .orderBy(F.desc("n"), F.asc("day"))
        .limit(1)
        .collect()
    )
    test_day = peak[0]["day"] if peak else None
    if test_day is None:
        test_day = max(from_date, to - dt.timedelta(days=1))
    try:
        df, _truncated = points(
            events,
            test_day,
            bbox=smoke_bbox,
            limit=max(1, POINTS_SMOKE_LIMIT),
            filters=filters,
        )
        returned = df.count()
        return True, returned <= POINTS_SMOKE_LIMIT, test_day, int(returned)
    except Exception:
        return False, False, test_day, 0


def validate_consistency(
    fact: DataFrame,
    all_ufs: DataFrame,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    events: DataFrame | None = None,
    feats: list | None = None,
    smoke_bbox: tuple[float, float, float, float] = POINTS_SMOKE_BBOX,
) -> dict:
    """Cross-query consistency (main.py:1713-1866): totals ==
    sum(timeseries) == sum(choropleth); legend break monotonicity over
    uf (and mun, under a uf filter) group sums; bounds-vs-geo bbox
    ratio <= 50 when a uc/ti filter keys a geometry (`feats`); points
    smoke over a fixed bbox when `events` is given."""
    filters = filters or {}
    base = _base(fact, from_date, to, filters)
    total = totals(fact, from_date, to, filters).collect()[0]["total"]
    ts_sum = (
        timeseries_total(fact, from_date, to, filters)
        .agg(F.coalesce(F.sum("n_focos"), F.lit(0)).alias("s"))
        .collect()[0]["s"]
    )
    # choropleth component: group by uf INCLUDING the null-uf group,
    # exactly as the reference's ufagg CTE (main.py:1752-1760) — so
    # unattributed rows cannot break totals == sum(choropleth)
    uf_rows = base.groupBy("uf").agg(F.sum("n_focos").alias("n")).collect()
    choro_sum = sum(int(r["n"] or 0) for r in uf_rows)
    _, legend = choropleth_uf(fact, all_ufs, from_date, to, filters)
    breaks = legend["breaks"]
    legend_ok = all(breaks[i] > breaks[i - 1] for i in range(1, len(breaks)))

    # Break monotonicity over the raw group sums (main.py:1782-1799):
    # uf values always; mun values too when a uf filter is active.
    uf_values = [int(r["n"] or 0) for r in uf_rows]
    break_ok = _legend_breaks_monotonic(uf_values) if uf_values else True
    if _norm(filters.get("uf")):
        mun_values = [
            int(r["n"] or 0)
            for r in base.groupBy("cd_mun")
            .agg(F.sum("n_focos").alias("n"))
            .collect()
        ]
        if mun_values:
            break_ok = break_ok and _legend_breaks_monotonic(mun_values)

    # Bounds-vs-geo bbox consistency (main.py:1801-1831): when a uc/ti
    # filter keys a geometry, the /api/bounds bbox and the unsimplified
    # /api/geo shape bbox must agree within a 50x degree-area ratio.
    bbox_ratio: float | None = None
    bounds_consistent: bool | None = None
    qa_key = _norm(filters.get("ti")) or _norm(filters.get("uc"))
    if qa_key and feats is not None:
        from .geoqueries import bounds as geo_bounds
        from .geoqueries import geo_shape_metrics

        def _deg_area(b):  # main.py:840-845
            return max(0.0, b[2] - b[0]) * max(0.0, b[3] - b[1])

        try:
            geo_bbox = geo_shape_metrics(
                feats, qa_key, simplify=False, tol_m=0.0
            )["bbox"]
            bounds_bbox = geo_bounds(feats, qa_key)["bbox"]
            ga = max(_deg_area(geo_bbox), 1e-12)
            ba = max(_deg_area(bounds_bbox), 1e-12)
            bbox_ratio = float(max(ba, ga) / min(ba, ga))
            bounds_consistent = bbox_ratio <= BBOX_RATIO_WARN_VALIDATE
        except (ValueError, LookupError):
            bounds_consistent = False

    out = {
        "totals": int(total),
        "timeseries_sum": int(ts_sum),
        "choropleth_sum": int(choro_sum),
        "consistent": int(total) == int(ts_sum) == int(choro_sum),
        "legend_monotonic": legend_ok,
        "invalid_filter_state": bool(
            _norm(filters.get("mun")) and not _norm(filters.get("uf"))
        ),
        "break_monotonicity_ok": break_ok,
        "bounds_vs_geo_bbox_ratio": bbox_ratio,
        "bounds_consistent": bounds_consistent,
    }
    if events is not None:
        ok, le_limit, day_used, returned = _points_smoke(
            events, base, from_date, to, smoke_bbox, filters=filters
        )
        out.update(
            {
                "points_endpoint_ok": ok,
                "points_returned_le_limit": le_limit,
                "points_date_used": day_used,
                "points_returned": returned,
            }
        )
    return out
