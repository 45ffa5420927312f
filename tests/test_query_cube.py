"""The serving cube (queries.FactCube) against an independent oracle.

Random fact and event rows are built as Arrow tables; every query
function's answer is compared with a DuckDB recomputation written
here from the reference's rules (api/app/main.py): [from, to) ranges
up to 365 days at day/week/month granularity, code-or-name filters
normalized strip/upper, top-k ordered n desc then key asc with the
municipality guardrail, UF zero fill, the 180-day municipal cap, and
the points bbox/limit/truncation rule over events in event_hash order.
Spark-free."""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inpe_queimadas_etl_spark import queries as Q

BASE = dt.date(2024, 1, 1)
SPAN_DAYS = 420

# small pools so that filters hit, groups collide and totals tie;
# mixed case, empty strings and nulls exercise the exact rules
UFS = ["AA", "BB", "cc", None]
ALL_UFS = ["AA", "BB", "CC", "DD"]
POOLS = {
    "cd_bioma": ["1", "2", "b3", "", None],
    "bioma": ["Amazonia", "CERRADO", "cerrado", "", None],
    "cd_mun": [f"m{i}" for i in range(14)] + [None],
    "mun_nm_mun": ["Mun A", "mun a", "Mun B", None],
    "cd_cnuc": ["U1", "U2", None],
    "uc_nome": ["Uc Um", "uc um", None],
    "terrai_cod": ["T1", "", None],
    "ti_nome": ["Ti A", "TI B", None],
}
# fact column -> enriched-events column
EVENT_NAME = {"uf": "mun_uf", "cd_mun": "mun_cd_mun", "bioma": "bioma_enr"}
FILTER_VALUES = ["AA", "cc", "1", "b3", "M3", "m3", "mun a", "CERRADO",
                 "U1", "uc um", "T1", "ti b", "nope", ""]
GROUP_SQL = {
    "uf": ("uf", "uf"),
    "bioma": ("cd_bioma", "bioma"),
    "mun": ("cd_mun", "mun_nm_mun"),
    "uc": ("cd_cnuc", "uc_nome"),
    "ti": ("terrai_cod", "ti_nome"),
}


def _dim_row(draw) -> dict:
    row = {"uf": draw(st.sampled_from(UFS))}
    for col, pool in POOLS.items():
        row[col] = draw(st.sampled_from(pool))
    return row


@st.composite
def tables(draw):
    fact = []
    for _ in range(draw(st.integers(0, 60))):
        row = _dim_row(draw)
        row["day"] = BASE + dt.timedelta(days=draw(st.integers(0, SPAN_DAYS)))
        row["n_focos"] = draw(st.integers(1, 4))  # small: forces ties
        fact.append(row)
    # one busy day, so that points slices hold several rows
    hot = BASE + dt.timedelta(days=draw(st.integers(0, SPAN_DAYS)))
    events = []
    for i in range(draw(st.integers(0, 40))):
        row = _dim_row(draw)
        row["event_day"] = hot if draw(st.booleans()) else BASE + dt.timedelta(
            days=draw(st.integers(0, SPAN_DAYS))
        )
        row["event_hash"] = hashlib.sha1(f"{i}".encode()).hexdigest()
        row["lat"] = draw(st.floats(-2.0, 2.0))
        row["lon"] = draw(st.floats(-2.0, 2.0))
        events.append(row)
    raw_bioma = draw(st.booleans())
    return fact, events, hot, raw_bioma


def _fact_table(rows: list[dict]) -> pa.Table:
    cols = ["day", "uf", *POOLS, "n_focos"]
    types = {"day": pa.date32(), "n_focos": pa.int64()}
    return pa.table(
        {c: pa.array([r[c] for r in rows], types.get(c, pa.string())) for c in cols}
    )


def _event_table(rows: list[dict], raw_bioma: bool) -> pa.Table:
    out = {
        "event_hash": pa.array([r["event_hash"] for r in rows], pa.string()),
        "event_day": pa.array([r["event_day"] for r in rows], pa.date32()),
        "lat": pa.array([r["lat"] for r in rows], pa.float64()),
        "lon": pa.array([r["lon"] for r in rows], pa.float64()),
    }
    for col in ["uf", *POOLS]:
        out[EVENT_NAME.get(col, col)] = pa.array([r[col] for r in rows], pa.string())
    if raw_bioma:
        # the curated table's own INPE biome column: the points filter
        # matches names against it when present
        out["bioma"] = pa.array(
            [(r["bioma"] or "").lower() or None for r in rows], pa.string()
        )
    return pa.table(out)


def _norm(v):
    v = (v or "").strip().upper()
    return v or None


def _where(filters: dict, columns: dict[str, str]) -> tuple[str, list]:
    sql, args = [], []
    for key, (code, name) in GROUP_SQL.items():
        v = _norm(filters.get(key))
        if v is None:
            continue
        if key == "uf":
            sql.append(f"{columns['uf']} = ?")
            args.append(v)
        else:
            sql.append(
                f"(CAST({columns[code]} AS VARCHAR) = ? "
                f"OR upper(coalesce({columns[name]}, '')) = ?)"
            )
            args += [v, v]
    return " AND ".join(sql) or "TRUE", args


class Oracle:
    def __init__(self, fact: pa.Table, events: pa.Table):
        self.con = duckdb.connect()
        self.con.register("fact", fact)
        self.con.register("ev", events)
        self.fact_cols = {c: c for c in ["uf", *POOLS]}
        names = events.column_names
        self.event_cols = {
            c: c if c in names else EVENT_NAME.get(c, c) for c in ["uf", *POOLS]
        }

    def rows(self, sql: str, args: list) -> list[tuple]:
        return self.con.execute(sql, args).fetchall()

    def fact_where(self, frm, to, filters) -> tuple[str, list]:
        where, args = _where(filters, self.fact_cols)
        return f"day >= ? AND day < ? AND {where}", [frm, to, *args]

    def timeseries(self, frm, to, filters, gran):
        where, args = self.fact_where(frm, to, filters)
        return [
            {"bucket": b, "n_focos": int(n)}
            for b, n in self.rows(
                f"SELECT CAST(date_trunc('{gran}', day) AS DATE) b, sum(n_focos) "
                f"FROM fact WHERE {where} GROUP BY 1 ORDER BY 1", args
            )
        ]

    def top(self, group, frm, to, filters, k):
        code, name = GROUP_SQL[group]
        if group == "mun" and not _norm(filters.get("uf")):
            k = min(k, 10)
        where, args = self.fact_where(frm, to, filters)
        key = f"coalesce(CAST({code} AS VARCHAR), {name})"
        return [
            {"key": a, "label": lab, "n_focos": int(n)}
            for a, lab, n in self.rows(
                f"SELECT {key} k, max(coalesce({name}, CAST({code} AS VARCHAR))), "
                f"sum(n_focos) n FROM fact WHERE {where} AND {key} IS NOT NULL "
                f"AND {key} <> '' GROUP BY k ORDER BY n DESC, k ASC LIMIT {k}", args
            )
        ]

    def daily(self, frm, to, filters):
        where, args = self.fact_where(frm, to, filters)
        return self.rows(
            f"SELECT day, sum(n_focos) n FROM fact WHERE {where} GROUP BY 1 "
            "ORDER BY n DESC, day ASC", args
        )

    def uf_sums(self, frm, to, filters):
        where, args = self.fact_where(frm, to, filters)
        return dict(self.rows(
            f"SELECT uf, sum(n_focos) FROM fact WHERE {where} AND uf IS NOT NULL "
            "GROUP BY 1", args
        ))

    def mun(self, frm, to, uf, filters):
        where, args = self.fact_where(frm, to, {**filters, "uf": uf})
        return [
            {"cd_mun": a, "mun_nm_mun": lab, "n_focos": int(n)}
            for a, lab, n in self.rows(
                f"SELECT cd_mun, max(mun_nm_mun), sum(n_focos) FROM fact WHERE {where} "
                "AND cd_mun IS NOT NULL GROUP BY 1 ORDER BY 1", args
            )
        ]

    def points(self, day, bbox, limit, filters):
        where, args = _where(filters, self.event_cols)
        sql = f"SELECT event_hash FROM ev WHERE event_day = ? AND {where}"
        args = [day, *args]
        if bbox is not None:
            sql += " AND lon BETWEEN ? AND ? AND lat BETWEEN ? AND ?"
            args += [bbox[0], bbox[2], bbox[1], bbox[3]]
        hashes = [h for (h,) in self.rows(sql + " ORDER BY event_hash", args)]
        return hashes[:limit], len(hashes) > limit


def _filter_value(draw):
    v = draw(st.sampled_from(FILTER_VALUES))
    v = draw(st.sampled_from([v, v.lower(), v.upper()]))
    return draw(st.sampled_from(["", " ", "  "])) + v + draw(st.sampled_from(["", " "]))


@st.composite
def requests(draw):
    start = draw(st.integers(-5, SPAN_DAYS))
    length = draw(st.integers(1, Q.MAX_RANGE_DAYS))
    frm = BASE + dt.timedelta(days=start)
    keys = draw(st.lists(st.sampled_from(list(GROUP_SQL)), unique=True, max_size=2))
    filters = {k: _filter_value(draw) for k in keys}
    return frm, frm + dt.timedelta(days=length), filters


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=tables(), st_data=st.data())
def test_cube_matches_duckdb(data, st_data):
    fact_rows, event_rows, hot, raw_bioma = data
    fact, events = _fact_table(fact_rows), _event_table(event_rows, raw_bioma)
    cube = Q.FactCube(fact, ALL_UFS, events)
    oracle = Oracle(fact, events)

    for _ in range(4):
        frm, to, filters = st_data.draw(requests())
        days = (to - frm).days

        gran = st_data.draw(st.sampled_from([None, "day", "week", "month"]))
        want_gran = gran or Q.timeseries_granularity(days)
        assert Q.timeseries_total(cube, frm, to, filters, granularity=gran) == (
            oracle.timeseries(frm, to, filters, want_gran)
        )

        for group in GROUP_SQL:
            k = st_data.draw(st.integers(1, 16))
            assert Q.top_groups(cube, group, frm, to, filters, k=k) == oracle.top(
                group, frm, to, filters, k
            ), group

        daily = oracle.daily(frm, to, filters)
        total = sum(int(n) for _, n in daily)
        assert Q.totals(cube, frm, to, filters) == total
        s = Q.summary(cube, frm, to, filters)
        assert s == {
            "total": total,
            "mean_per_day": total / days,
            "peak_day": daily[0][0] if daily else None,
            "peak_n": int(daily[0][1]) if daily else 0,
        }

        dense, _legend = Q.choropleth_uf(cube, frm, to, filters)
        sums = oracle.uf_sums(frm, to, filters)
        assert dense == [{"uf": u, "n_focos": int(sums.get(u, 0))} for u in ALL_UFS]

        uf = _filter_value(st_data.draw)
        if not _norm(uf):
            with pytest.raises(ValueError, match="uf filter required"):
                Q.choropleth_mun(cube, frm, to, uf, filters)
        elif days > Q.CHORO_MAX_DAYS_MUN:
            with pytest.raises(ValueError, match="max 180 days"):
                Q.choropleth_mun(cube, frm, to, uf, filters)
        else:
            rows, _legend = Q.choropleth_mun(cube, frm, to, uf, filters)
            assert rows == oracle.mun(frm, to, uf, filters)

        v = Q.validate_consistency(cube, frm, to, filters)
        assert v["consistent"] and v["totals"] == total

        day = st_data.draw(st.sampled_from([hot, frm]))
        bbox = st_data.draw(
            st.sampled_from([None, (-1.0, -1.0, 1.0, 1.0), (0.0, -2.0, 2.0, 0.5)])
        )
        limit = st_data.draw(st.integers(1, 12))
        got, truncated = Q.points(
            cube, day, bbox=bbox, limit=limit, filters=filters,
            select_cols=["event_hash"],
        )
        assert ([r["event_hash"] for r in got], truncated) == oracle.points(
            day, bbox, limit, filters
        )


def test_granularity_buckets_cross_year_and_leap_day():
    """Week buckets start on Monday (ISO, date_trunc) across a year
    boundary; month buckets fold a leap day into February."""
    rows = [
        {"day": d, "uf": "AA", **{c: None for c in POOLS}, "n_focos": 1}
        for d in (dt.date(2023, 12, 31), dt.date(2024, 1, 1), dt.date(2024, 2, 29),
                  dt.date(2024, 3, 1))
    ]
    cube = Q.FactCube(_fact_table(rows), ALL_UFS)
    frm, to = dt.date(2023, 12, 1), dt.date(2024, 4, 1)
    assert Q.timeseries_total(cube, frm, to, granularity="week") == [
        {"bucket": dt.date(2023, 12, 25), "n_focos": 1},
        {"bucket": dt.date(2024, 1, 1), "n_focos": 1},
        {"bucket": dt.date(2024, 2, 26), "n_focos": 2},
    ]
    assert Q.timeseries_total(cube, frm, to, granularity="month") == [
        {"bucket": dt.date(2023, 12, 1), "n_focos": 1},
        {"bucket": dt.date(2024, 1, 1), "n_focos": 1},
        {"bucket": dt.date(2024, 2, 1), "n_focos": 1},
        {"bucket": dt.date(2024, 3, 1), "n_focos": 1},
    ]


def test_mun_guardrail_caps_a_blank_uf_filter():
    """A blank uf filter is no filter: top municipalities stay capped
    at ten, and the municipal map refuses it."""
    day = dt.date(2024, 5, 2)
    rows = [
        {"day": day, "uf": "AA", **{c: None for c in POOLS}, "cd_mun": f"m{i:02d}",
         "n_focos": 1}
        for i in range(12)
    ]
    cube = Q.FactCube(_fact_table(rows), ALL_UFS)
    to = day + dt.timedelta(days=1)
    for uf in (None, "", "  "):
        top = Q.top_groups(cube, "mun", day, to, {"uf": uf}, k=50)
        assert [r["key"] for r in top] == [f"m{i:02d}" for i in range(10)]
    assert len(Q.top_groups(cube, "mun", day, to, {"uf": " aa"}, k=50)) == 12
    with pytest.raises(ValueError, match="uf filter required"):
        Q.choropleth_mun(cube, day, to, "  ")


def test_threads_share_one_cube():
    """Request threads share the context's cube: answers under heavy
    thread switching equal the single-threaded ones."""
    import random
    import sys
    import threading

    rnd = random.Random(7)
    rows = [
        {"day": BASE + dt.timedelta(days=rnd.randrange(60)), "uf": rnd.choice(UFS),
         **{c: rnd.choice(pool) for c, pool in POOLS.items()}, "n_focos": rnd.randint(1, 4)}
        for _ in range(400)
    ]
    cube = Q.FactCube(_fact_table(rows), ALL_UFS)
    asks = [
        (BASE + dt.timedelta(days=rnd.randrange(30)), rnd.choice(list(GROUP_SQL)),
         {"uf": rnd.choice(["AA", "bb", ""])})
        for _ in range(40)
    ]

    def answer(frm, group, flt):
        to = frm + dt.timedelta(days=30)
        return (Q.top_groups(cube, group, frm, to, flt, k=5),
                Q.summary(cube, frm, to, flt), Q.choropleth_uf(cube, frm, to, flt))

    want = [answer(*a) for a in asks]
    errors = []

    def worker():
        try:
            for _ in range(5):
                for a, w in zip(asks, want):
                    assert answer(*a) == w
        except AssertionError as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]
