"""Serving-layer query surface (§2.11) over an in-memory fact cube.

Every reference API endpoint (api/app/main.py) is a function over a
:class:`FactCube`: the `mv_focos_day_dim` rows (and, for /api/points,
the payload and filter columns of the enriched events) collected once
by the serving context, sorted by day, with each dimension's
(code, name) pairs dictionary-encoded. A request's `[from, to)` window
is a ``searchsorted`` slice of the day column, a filter is a lookup
table over the dictionary codes applied as a mask, and a group-by is a
``bincount`` over the slice: no Spark plan per request.

Range semantics are [from, to) with `to` exclusive, max 365 days
(main.py:77,89-93); filters normalize strip/upper and match code OR
name (main.py:136-158,171-215); granularity downshifts day -> week ->
month at 92/273 days (main.py:78-79,392-397); the municipality top-k
guardrail caps k at 10 without a UF filter (main.py:76,1537-1539).
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .functions.legend import compute_breaks

MAX_RANGE_DAYS = 365
TS_WEEK_THRESHOLD_DAYS = 92
TS_MONTH_THRESHOLD_DAYS = 273
CHORO_MAX_DAYS_MUN = 180
MUN_GUARDRAIL_LIMIT = 10
POINTS_LIMIT_HARD_CAP = 50_000
POINTS_LIMIT_DEFAULT = 20_000
BBOX_RATIO_WARN_VALIDATE = 50.0  # main.py:1831

# group key -> (code column, name column), mirroring TOP_GROUP_EXPR
# (api/app/main.py:60-66)
TOP_GROUP_EXPR = {
    "uf": ("uf", "uf"),
    "bioma": ("cd_bioma", "bioma"),
    "mun": ("cd_mun", "mun_nm_mun"),
    "uc": ("cd_cnuc", "uc_nome"),
    "ti": ("terrai_cod", "ti_nome"),
}

# fact-mart filter column -> its name on the enriched events table
# (the points scan runs on enriched events, whose municipality-derived
# columns carry the mun_/enr prefixes before the mart rename)
_EVENTS_COL_FALLBACK = {
    "uf": "mun_uf",
    "cd_mun": "mun_cd_mun",
    "bioma": "bioma_enr",
}

# the enriched-event columns a points request can select
POINT_COLUMNS = (
    "event_hash",
    "event_day",
    "lat",
    "lon",
    "mun_uf",
    "mun_cd_mun",
    "mun_nm_mun",
    "cd_bioma",
    "bioma_enr",
)

_EPOCH = dt.date(1970, 1, 1)


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


def _ord(day: dt.date) -> int:
    return (day - _EPOCH).days


def _date(ordinal) -> dt.date:
    return _EPOCH + dt.timedelta(days=int(ordinal))


def _days(col) -> np.ndarray:
    """A non-null date column -> int32 days since the epoch."""
    return np.asarray(pc.cast(col, pa.int32()).to_numpy(), dtype=np.int32)


def _column(tbl: pa.Table, name: str) -> pa.Array:
    """``name`` as a string array; a column the table lacks reads null."""
    if name not in tbl.column_names:
        return pa.nulls(tbl.num_rows, pa.string())
    return pc.cast(tbl[name], pa.string()).combine_chunks()


def _ranks(values: list) -> tuple[list, np.ndarray]:
    """Sorted distinct non-null values, and each value's position in
    that list (-1 for None). Python's str order is code-point order,
    the UTF-8 byte order Spark sorts and compares strings in."""
    table = sorted({v for v in values if v is not None})
    pos = {v: i for i, v in enumerate(table)}
    return table, np.array([pos.get(v, -1) for v in values], dtype=np.int64)


def _groups(values: list) -> dict:
    out: dict = {}
    for i, v in enumerate(values):
        if v is not None:
            out.setdefault(v, []).append(i)
    return {v: np.array(ix, dtype=np.int64) for v, ix in out.items()}


class _Dim:
    """One dimension's (code, name) pairs, dictionary-encoded.
    ``rows`` holds each row's pair index; the per-pair tables answer
    the filter and group-by rules for every row sharing the pair."""

    def __init__(self, code: pa.Array, name: pa.Array, by_name: bool):
        enc_c, enc_n = pc.dictionary_encode(code), pc.dictionary_encode(name)
        ci = np.asarray(enc_c.indices.fill_null(-1).to_numpy(), dtype=np.int64)
        ni = np.asarray(enc_n.indices.fill_null(-1).to_numpy(), dtype=np.int64)
        width = len(enc_n.dictionary) + 1
        pairs, rows = np.unique((ci + 1) * width + (ni + 1), return_inverse=True)
        self.rows = rows.astype(np.int32)
        self.size = len(pairs)
        cv, nv = enc_c.dictionary.to_pylist(), enc_n.dictionary.to_pylist()
        codes = [cv[p // width - 1] if p // width else None for p in pairs]
        names = [nv[p % width - 1] if p % width else None for p in pairs]
        # filter: cast(code as string) = v OR upper(coalesce(name, '')) = v;
        # uf compares the code alone (_build_fact_where)
        self._by_code = _groups(codes)
        upper = [n.upper() if n is not None else None for n in names]
        self._by_name = _groups(upper) if by_name else {}
        self.codes, self.code = _ranks(codes)
        self.names, self.name = _ranks(names)
        # top-k key coalesce(code, name), empty keys dropped; label
        # coalesce(name, code)
        keys = [c if c is not None else n for c, n in zip(codes, names)]
        self.keys, self.key = _ranks([k if k else None for k in keys])
        self.labels, self.label = _ranks(
            [n if n is not None else c for c, n in zip(codes, names)]
        )

    def matches(self, v: str) -> np.ndarray:
        """Per-pair lookup table: does the pair pass the filter ``v``
        (already strip/upper-normalized)?"""
        hit = np.zeros(self.size, dtype=bool)
        hit[self._by_code.get(v, [])] = True
        hit[self._by_name.get(v, [])] = True
        return hit

    def pair_sums(self, sel, n: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Sum of ``n`` and whether any row is selected, per pair."""
        rows = self.rows[sel]
        sums = np.bincount(rows, weights=n[sel], minlength=self.size)
        return sums, np.bincount(rows, minlength=self.size) > 0

    def rollup(self, sel, n: np.ndarray, by: str) -> list[tuple]:
        """(group, label, total) per non-null group with selected rows,
        ordered by group. ``by="key"`` groups on coalesce(code, name)
        labelled by max(coalesce(name, code)) (the top-k shape);
        ``by="code"`` groups on the code labelled by max(name)."""
        if by == "key":
            g, table, lab, labels = self.key, self.keys, self.label, self.labels
        else:
            g, table, lab, labels = self.code, self.codes, self.name, self.names
        sums, present = self.pair_sums(sel, n)
        ok = present & (g >= 0)
        total = np.bincount(g[ok], weights=sums[ok], minlength=len(table))
        has = np.bincount(g[ok], minlength=len(table)) > 0
        best = np.full(len(table), -1, dtype=np.int64)
        np.maximum.at(best, g[ok], lab[ok])
        return [
            (table[i], labels[best[i]] if best[i] >= 0 else None, int(total[i]))
            for i in np.flatnonzero(has)
        ]

    def null_total(self, sel, n: np.ndarray) -> int | None:
        """Total of the selected rows whose code is null; None when
        there are none (Spark's null group of a GROUP BY code)."""
        sums, present = self.pair_sums(sel, n)
        ok = present & (self.code < 0)
        return int(sums[ok].sum()) if ok.any() else None

    def code_total(self, sel, n: np.ndarray, code: str) -> tuple[int, str | None]:
        """sum(n) and max(name) over the selected rows whose code is
        exactly ``code``."""
        sums, present = self.pair_sums(sel, n)
        pairs = [p for p in self._by_code.get(code, []) if present[p]]
        named = [self.names[self.name[p]] for p in pairs if self.name[p] >= 0]
        return int(sums[pairs].sum()), max(named) if named else None


class _DayColumns:
    """Rows sorted by day (int32 days since the epoch) with one
    :class:`_Dim` per filterable dimension."""

    day: np.ndarray
    dims: dict[str, _Dim]

    def _encode_dims(self, tbl: pa.Table, resolve) -> None:
        self.dims = {
            key: _Dim(
                _column(tbl, resolve(code)), _column(tbl, resolve(name)),
                by_name=key != "uf",
            )
            for key, (code, name) in TOP_GROUP_EXPR.items()
        }

    def select(self, lo: int, hi: int, filters: dict | None):
        """Positions of the rows in ``[lo, hi)`` that pass ``filters``
        (code-or-name per entity, P11, main.py:171-215): a slice when
        nothing filters, else an index array."""
        mask = None
        for key in TOP_GROUP_EXPR:
            v = _norm((filters or {}).get(key))
            if v is None:
                continue
            dim = self.dims[key]
            m = dim.matches(v)[dim.rows[lo:hi]]
            mask = m if mask is None else mask & m
        return slice(lo, hi) if mask is None else np.flatnonzero(mask) + lo

    def day_bounds(self, first: int, end: int) -> tuple[int, int]:
        lo, hi = np.searchsorted(self.day, [first, end], side="left")
        return int(lo), int(hi)


class _Events(_DayColumns):
    """The enriched events a points request reads, sorted by day and
    then ``event_hash``; string payload columns dictionary-encoded."""

    def __init__(self, tbl: pa.Table):
        tbl = tbl.filter(pc.is_valid(tbl["event_day"])).sort_by(
            [("event_day", "ascending"), ("event_hash", "ascending")]
        )
        self.day = _days(tbl["event_day"])
        self.lon = np.asarray(tbl["lon"].to_numpy(), dtype=np.float64)
        self.lat = np.asarray(tbl["lat"].to_numpy(), dtype=np.float64)
        cols = tbl.column_names
        self._encode_dims(tbl, lambda c: _event_column(c, cols))
        payload = tbl.select(list(POINT_COLUMNS)).combine_chunks()
        self.payload = pa.table(
            {
                c: pc.dictionary_encode(a)
                if c != "event_hash"
                and (pa.types.is_string(a.type) or pa.types.is_large_string(a.type))
                else a
                for c, a in zip(payload.column_names, payload.columns)
            }
        )


def _event_column(col: str, columns: list[str]) -> str:
    """A fact filter column's name on the enriched events table: the
    column itself when the table has it, else its pre-mart name."""
    return col if col in columns else _EVENTS_COL_FALLBACK.get(col, col)


def event_columns(columns: list[str]) -> list[str]:
    """The enriched-event columns a :class:`FactCube` keeps: the points
    payload plus each filter's code and name column."""
    wanted = [
        _event_column(c, columns) for pair in TOP_GROUP_EXPR.values() for c in pair
    ]
    return list(dict.fromkeys([*POINT_COLUMNS, *(c for c in wanted if c in columns)]))


class FactCube(_DayColumns):
    """The serving context's columnar copy of `mv_focos_day_dim`
    (``fact``: day, n_focos and the code/name columns of
    TOP_GROUP_EXPR; a missing one reads null), the UF dim for zero
    fill, and optionally the enriched events for /api/points
    (``events``: :func:`event_columns`). Read-only once built, so any
    number of request threads may share it."""

    def __init__(
        self, fact: pa.Table, all_ufs: list[str], events: pa.Table | None = None
    ):
        fact = fact.filter(pc.is_valid(fact["day"])).sort_by("day")
        self.day = _days(fact["day"])
        self.n = np.asarray(
            pc.fill_null(fact["n_focos"], 0).to_numpy(), dtype=np.int64
        )
        self._encode_dims(fact, lambda c: c)
        self.all_ufs = list(all_ufs)
        self.events = _Events(events) if events is not None else None

    def window(self, from_date: dt.date, to: dt.date, filters: dict | None = None):
        """Rows of the validated range ``[from, to)`` under ``filters``."""
        validate_range(from_date, to)
        return self.select(*self.day_bounds(_ord(from_date), _ord(to)), filters)


def _daily(cube: FactCube, sel) -> tuple[np.ndarray, np.ndarray]:
    """(days with rows, their sums) for the selected fact rows."""
    days, inv = np.unique(cube.day[sel], return_inverse=True)
    return days, np.bincount(inv, weights=cube.n[sel], minlength=len(days))


def _peak(days: np.ndarray, sums: np.ndarray) -> tuple[dt.date | None, int]:
    """Largest daily sum, ties to the earliest day (days ascending)."""
    if not len(days):
        return None, 0
    i = int(np.argmax(sums))
    return _date(days[i]), int(sums[i])


def _bucket(days: np.ndarray, gran: str) -> np.ndarray:
    """date_trunc(gran, day) as days since the epoch."""
    if gran == "day":
        return days
    if gran == "week":  # ISO week start; 1970-01-01 was a Thursday
        return days - (days + 3) % 7
    if gran == "month":
        months = days.astype("datetime64[D]").astype("datetime64[M]")
        return months.astype("datetime64[D]").astype(np.int64)
    raise ValueError(f"granularity must be day|week|month, got {gran!r}")


def timeseries_total(
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    granularity: str | None = None,
) -> list[dict]:
    """A9 (main.py:1448-1506): sum per adaptive time bucket, ordered
    by bucket; buckets without rows are absent."""
    gran = granularity or timeseries_granularity((to - from_date).days)
    sel = cube.window(from_date, to, filters)
    buckets, inv = np.unique(_bucket(cube.day[sel], gran), return_inverse=True)
    sums = np.bincount(inv, weights=cube.n[sel], minlength=len(buckets))
    return [
        {"bucket": _date(b), "n_focos": int(s)} for b, s in zip(buckets, sums)
    ]


def top_groups(
    cube: FactCube,
    group: str,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    k: int = 10,
) -> list[dict]:
    """A10 (main.py:1532-1579): top-k groups by total, key coalesce of
    code/name, null/empty keys dropped, ordered n desc then key asc."""
    if group not in TOP_GROUP_EXPR:
        raise ValueError(f"unknown group {group!r}")
    if group == "mun" and not _norm((filters or {}).get("uf")):
        k = min(k, MUN_GUARDRAIL_LIMIT)  # main.py:1537-1539
    sel = cube.window(from_date, to, filters)
    rows = cube.dims[group].rollup(sel, cube.n, by="key")
    # stable sort: equal totals keep the key-ascending rollup order
    rows.sort(key=lambda r: -r[2])
    return [
        {"key": key, "label": label, "n_focos": n}
        for key, label, n in rows[: max(k, 0)]
    ]


def totals(
    cube: FactCube, from_date: dt.date, to: dt.date, filters: dict | None = None
) -> int:
    """A11 totals (main.py:1615-1627)."""
    return int(cube.n[cube.window(from_date, to, filters)].sum())


def summary(
    cube: FactCube, from_date: dt.date, to: dt.date, filters: dict | None = None
) -> dict:
    """A11 summary (main.py:1656-1702): total, mean_per_day =
    total/greatest(1, days), peak day (ties -> earliest)."""
    days, sums = _daily(cube, cube.window(from_date, to, filters))
    total = int(sums.sum())
    peak_day, peak_n = _peak(days, sums)
    return {
        "total": total,
        # full-precision quotient (total::double / greatest(1, days),
        # main.py:1684-1696); rounding is a presentation concern
        "mean_per_day": total / max(1, (to - from_date).days),
        "peak_day": peak_day,
        "peak_n": peak_n,
    }


def uf_totals(
    cube: FactCube, from_date: dt.date, to: dt.date, filters: dict | None = None
) -> dict[str, int]:
    """Sum per non-null UF over the range."""
    sel = cube.window(from_date, to, filters)
    return {uf: n for uf, _, n in cube.dims["uf"].rollup(sel, cube.n, by="code")}


def choropleth_uf(
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
) -> tuple[list[dict], dict]:
    """Choropleth by UF (main.py:930-1017): sum per UF zero-filled
    against the full UF dim (J7), ordered by UF, + exact quantile
    legend (A13)."""
    agg = uf_totals(cube, from_date, to, filters)
    dense = [{"uf": uf, "n_focos": agg.get(uf, 0)} for uf in cube.all_ufs]
    dense.sort(key=lambda r: (r["uf"] is not None, r["uf"] or ""))
    values = [r["n_focos"] for r in dense]
    return dense, compute_breaks(values, method="quantile", k=5, zero_class=True)


def mun_totals(
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    uf: str | None,
    filters: dict | None = None,
) -> list[tuple[str, str | None, int]]:
    """(cd_mun, max(mun_nm_mun), sum) per non-null municipality of the
    UF, ordered by cd_mun; the municipal map's checks (uf required,
    range capped at 180 days)."""
    uf = _norm(uf)
    if not uf:
        raise ValueError("uf filter required for municipality choropleth")
    if (to - from_date).days > CHORO_MAX_DAYS_MUN:
        raise ValueError(f"range too large: max {CHORO_MAX_DAYS_MUN} days")
    sel = cube.window(from_date, to, {**(filters or {}), "uf": uf})
    return cube.dims["mun"].rollup(sel, cube.n, by="code")


def choropleth_mun(
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    uf: str,
    filters: dict | None = None,
) -> tuple[list[dict], dict]:
    """Choropleth by municipality (main.py:1020-1130): requires a UF
    filter, range capped at 180 days; rows ordered by cd_mun."""
    rows = [
        {"cd_mun": key, "mun_nm_mun": label, "n_focos": n}
        for key, label, n in mun_totals(cube, from_date, to, uf, filters)
    ]
    values = [r["n_focos"] for r in rows]
    return rows, compute_breaks(values, method="quantile", k=5, zero_class=True)


def points(
    cube: FactCube,
    day: dt.date,
    bbox: tuple[float, float, float, float] | None = None,
    limit: int = POINTS_LIMIT_DEFAULT,
    filters: dict | None = None,
    select_cols: list[str] | None = None,
) -> tuple[list[dict], bool]:
    """Per-day bbox point scan with limit+1 truncation detection
    (main.py:1401-1445,498-526): the day's events in ``event_hash``
    order, under the same code-or-name entity filters as the
    aggregate endpoints (the reference's `_run_points_query` takes the
    active filters too) and the inclusive bbox; the first ``limit``
    rows, and whether more matched. ``select_cols`` (a subset of
    POINT_COLUMNS) widens the projection: the API layer's payload
    carries uf/mun/bioma labels (schemas.PointItem)."""
    ev = cube.events
    if ev is None:
        raise LookupError("enriched events table not loaded")
    limit = min(limit, POINTS_LIMIT_HARD_CAP)
    sel = ev.select(*ev.day_bounds(_ord(day), _ord(day) + 1), filters)
    idx = np.arange(sel.start, sel.stop) if isinstance(sel, slice) else sel
    if bbox is not None:
        min_lon, min_lat, max_lon, max_lat = bbox
        lon, lat = ev.lon[idx], ev.lat[idx]
        idx = idx[
            (lon >= min_lon) & (lon <= max_lon) & (lat >= min_lat) & (lat <= max_lat)
        ]
    cols = select_cols or ["event_hash", "lat", "lon", "event_day"]
    rows = ev.payload.select(cols).take(idx[:limit]).to_pylist()
    return rows, len(idx) > limit


POINTS_SMOKE_LIMIT = 200  # main.py:86
POINTS_SMOKE_BBOX = (-55.5, -16.5, -54.5, -15.5)  # main.py:613-614


def _legend_breaks_monotonic(values: list[int]) -> bool:
    """main.py:317-323: quantile/k=5/zero-class breaks strictly
    increasing over the raw (non-zero-filled) group sums."""
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    breaks = [float(x) for x in legend.get("breaks", [])]
    return all(breaks[i] > breaks[i - 1] for i in range(1, len(breaks)))


def _group_values(dim: _Dim, sel, n: np.ndarray) -> list[int]:
    """Per-code sums with the null-code group included, as GROUP BY
    code yields them."""
    values = [total for _, _, total in dim.rollup(sel, n, by="code")]
    null = dim.null_total(sel, n)
    return values + ([null] if null is not None else [])


def _points_smoke(
    cube: FactCube,
    sel,
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
    test_day, _ = _peak(*_daily(cube, sel))
    if test_day is None:
        test_day = max(from_date, to - dt.timedelta(days=1))
    try:
        rows, _truncated = points(
            cube,
            test_day,
            bbox=smoke_bbox,
            limit=max(1, POINTS_SMOKE_LIMIT),
            filters=filters,
        )
        returned = len(rows)
        return True, returned <= POINTS_SMOKE_LIMIT, test_day, returned
    except Exception:
        return False, False, test_day, 0


def validate_consistency(
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    feats: list | None = None,
    smoke_bbox: tuple[float, float, float, float] = POINTS_SMOKE_BBOX,
) -> dict:
    """Cross-query consistency (main.py:1713-1866): totals ==
    sum(timeseries) == sum(choropleth); legend break monotonicity over
    uf (and mun, under a uf filter) group sums; bounds-vs-geo bbox
    ratio <= 50 when a uc/ti filter keys a geometry (`feats`); points
    smoke over a fixed bbox when the cube holds the events."""
    filters = filters or {}
    sel = cube.window(from_date, to, filters)
    total = totals(cube, from_date, to, filters)
    ts_sum = sum(r["n_focos"] for r in timeseries_total(cube, from_date, to, filters))
    # choropleth component: group by uf INCLUDING the null-uf group,
    # exactly as the reference's ufagg CTE (main.py:1752-1760) — so
    # unattributed rows cannot break totals == sum(choropleth)
    uf_values = _group_values(cube.dims["uf"], sel, cube.n)
    choro_sum = sum(uf_values)
    _, legend = choropleth_uf(cube, from_date, to, filters)
    breaks = legend["breaks"]
    legend_ok = all(breaks[i] > breaks[i - 1] for i in range(1, len(breaks)))

    # Break monotonicity over the raw group sums (main.py:1782-1799):
    # uf values always; mun values too when a uf filter is active.
    break_ok = _legend_breaks_monotonic(uf_values) if uf_values else True
    if _norm(filters.get("uf")):
        mun_values = _group_values(cube.dims["mun"], sel, cube.n)
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
        "totals": total,
        "timeseries_sum": ts_sum,
        "choropleth_sum": choro_sum,
        "consistent": total == ts_sum == choro_sum,
        "legend_monotonic": legend_ok,
        "invalid_filter_state": bool(
            _norm(filters.get("mun")) and not _norm(filters.get("uf"))
        ),
        "break_monotonicity_ok": break_ok,
        "bounds_vs_geo_bbox_ratio": bbox_ratio,
        "bounds_consistent": bounds_consistent,
    }
    if cube.events is not None:
        ok, le_limit, day_used, returned = _points_smoke(
            cube, sel, from_date, to, smoke_bbox, filters=filters
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
