"""Mart builders: the fact MV, daily/monthly aggregates and the trend.

The marts are a tree of rollups (reference sql/marts/*.sql,
sqlm/marts/canonical/*.sql). Its root is ``day_cube``: the enriched
events of the affected days, already on the driver as an Arrow table,
counted at the fact MV's grain (event day x full dimension tuple,
sqlm/marts/canonical/065_mv_focos_day_dim.sql) with the
municipality's area, by a pyarrow ``group_by``. No level starts a
Spark job; every level below the root is a pure pyarrow function of
the level above:

- day cube -> the five daily marts and the serving fact MV;
- daily municipality / UF marts -> the monthly marts (counts summed,
  names, UF and areas carried by ``max``);
- daily UF mart -> the moving-average trend.

Each builder returns a table with an explicit schema: the columns,
types and nullability Spark gave these tables (a ``count(*)`` is
non-null, a sum read back from parquet is not), so Spark and Arrow
readers see the same tables whichever engine wrote them. The pipeline
publishes them partitioned by day/month, replacing exactly the
partitions they cover — the analog of the reference's
delete+insert-by-day idempotency (K2/K3).

Rounding parity: ``round_half_up`` rounds like Spark's ``round`` on
doubles.
Density formula parity (A1/A3): round(100 * n / nullif(area, 0), 4)
(sql/marts/10_focos_diario_municipio.sql:44-47).
Trend parity (W1): ROWS frames, not RANGE — gaps shrink the window
(sql/marts/30_focos_diario_uf_trend.sql:27-36).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# the fact MV's grain, in enriched_focos column names
CUBE_KEYS = (
    "event_day",
    "mun_uf",
    "mun_cd_mun",
    "mun_nm_mun",
    "bioma_enr",
    "cd_bioma",
    "uc_nome",
    "cd_cnuc",
    "ti_nome",
    "terrai_cod",
)

_STR, _F64, _I64 = pa.string(), pa.float64(), pa.int64()


def _counted(nullable: bool) -> pa.Field:
    return pa.field("n_focos", _I64, nullable)


def _mun_schema(key: str, nullable_count: bool) -> pa.Schema:
    return pa.schema(
        [
            (key, pa.date32()),
            ("mun_cd_mun", _STR),
            ("mun_nm_mun", _STR),
            ("mun_uf", _STR),
            ("mun_area_km2", _F64),
            _counted(nullable_count),
            ("focos_por_100km2", _F64),
        ]
    )


def _uf_schema(key: str, nullable_count: bool) -> pa.Schema:
    return pa.schema(
        [
            (key, pa.date32()),
            ("uf", _STR),
            _counted(nullable_count),
            ("uf_area_km2", _F64),
            ("focos_por_100km2", _F64),
        ]
    )


DIARIO_MUNICIPIO = _mun_schema("day", nullable_count=False)
MENSAL_MUNICIPIO = _mun_schema("month", nullable_count=True)
DIARIO_UF = _uf_schema("day", nullable_count=False)
MENSAL_UF = _uf_schema("month", nullable_count=True)
DIARIO_DIM = pa.schema(
    [("day", pa.date32()), ("code", _STR), ("name", _STR), pa.field("focos", pa.int32(), False)]
)
MV_FOCOS_DAY_DIM = pa.schema(
    [("day", pa.date32())]
    + [(c, _STR) for c in ("uf", "cd_mun", "mun_nm_mun", "bioma", "cd_bioma")]
    + [(c, _STR) for c in ("uc_nome", "cd_cnuc", "ti_nome", "terrai_cod")]
    + [_counted(False)]
)
DIARIO_UF_TREND = pa.schema(
    [("day", pa.date32()), ("uf", _STR), _counted(True), ("ma7", _F64), ("ma30", _F64)]
)

# BigDecimal-like: enough digits that no quantize overflows
_DECIMAL = Context(prec=400, rounding=ROUND_HALF_UP)


def round_half_up(values: pa.Array | pa.ChunkedArray, digits: int) -> pa.Array:
    """Spark's ``round`` on doubles: HALF_UP on the decimal of each
    value's shortest repr (``java.math.BigDecimal.valueOf``), so
    ``1.005`` rounds to ``1.01`` although its binary value lies below
    the tie. Nulls, NaN and infinities pass through."""
    quantum = Decimal(1).scaleb(-digits)

    def one(v):
        if v is None or not math.isfinite(v):
            return v
        # + 0.0: Spark's decimal has no negative zero
        return float(Decimal(repr(v)).quantize(quantum, context=_DECIMAL)) + 0.0

    return pa.array([one(v) for v in values.to_pylist()], _F64)


def _density(n, area) -> pa.Array:
    area = pc.if_else(pc.equal(area, 0.0), pa.scalar(None, _F64), area)
    return round_half_up(pc.divide(pc.multiply(100.0, pc.cast(n, _F64)), area), 4)


def _group(rows: pa.Table, keys: dict[str, str], **aggs: tuple) -> dict:
    """``rows`` grouped by the ``keys`` columns, as output column ->
    column. ``keys`` maps output to input names; each keyword is an
    output column given as a pyarrow aggregation ``(column, function[,
    options])``."""
    g = rows.group_by(list(keys.values())).aggregate(list(aggs.values()))
    return {out: g[col] for out, col in keys.items()} | {
        out: g[f"{agg[0]}_{agg[1]}"] for out, agg in aggs.items()
    }


def _with_month(daily: pa.Table) -> pa.Table:
    return daily.append_column("month", pc.floor_temporal(daily["day"], unit="month"))


def day_cube(enriched: pa.Table) -> pa.Table:
    """The root of the marts: ``enriched`` counted per event day and
    full dimension tuple (CUBE_KEYS, nulls a group of their own), with
    the largest municipality area of each group."""
    cols = _group(
        enriched,
        {k: k for k in CUBE_KEYS},
        n_focos=("event_day", "count", pc.CountOptions(mode="all")),
        mun_area_km2=("mun_area_km2", "max"),
    )
    return pa.table(cols)


def _by_municipality(rows: pa.Table, key: str, source_key: str, schema: pa.Schema) -> pa.Table:
    """Sum ``n_focos`` per (key, municipality), with the municipality's
    name, UF, area and density."""
    cols = _group(
        rows,
        {key: source_key, "mun_cd_mun": "mun_cd_mun"},
        mun_nm_mun=("mun_nm_mun", "max"),
        mun_uf=("mun_uf", "max"),
        mun_area_km2=("mun_area_km2", "max"),
        n_focos=("n_focos", "sum"),
    )
    cols["focos_por_100km2"] = _density(cols["n_focos"], cols["mun_area_km2"])
    return pa.table(cols, schema=schema)


def focos_diario_municipio(cube: pa.Table) -> pa.Table:
    """A1 (sql/marts/10_focos_diario_municipio.sql:37-51)."""
    rows = cube.filter(pc.is_valid(cube["mun_cd_mun"]))
    return _by_municipality(rows, "day", "event_day", DIARIO_MUNICIPIO)


def focos_mensal_municipio(daily_mun: pa.Table) -> pa.Table:
    """A2 (sql/marts/11_focos_mensal_municipio.sql:37-51), rolled up
    from the daily municipality mart rows of the months it covers."""
    return _by_municipality(_with_month(daily_mun), "month", "month", MENSAL_MUNICIPIO)


def _with_uf_density(cols: dict, schema: pa.Schema) -> pa.Table:
    cols["focos_por_100km2"] = _density(cols["n_focos"], cols["uf_area_km2"])
    return pa.table(cols, schema=schema)


def focos_diario_uf(cube: pa.Table, uf_area: pa.Table) -> pa.Table:
    """A3 (sql/marts/20_focos_diario_uf.sql:30-43): count per UF joined
    to the UF-area dim (J5) for density."""
    rows = cube.filter(pc.is_valid(cube["mun_uf"]))
    counts = _group(rows, {"day": "event_day", "uf": "mun_uf"}, n_focos=("n_focos", "sum"))
    areas = uf_area.select(["uf", "area_km2"]).rename_columns(["uf", "uf_area_km2"])
    joined = pa.table(counts).join(areas, "uf", join_type="left outer")
    cols = {c: joined[c] for c in ("day", "uf", "n_focos", "uf_area_km2")}
    return _with_uf_density(cols, DIARIO_UF)


def focos_mensal_uf(daily_uf: pa.Table) -> pa.Table:
    """A3 monthly (sql/marts/21_focos_mensal_uf.sql:30-43), rolled up
    from the daily UF mart rows of the months it covers; the UF area
    is the one the daily rows carry."""
    cols = _group(
        _with_month(daily_uf),
        {"month": "month", "uf": "uf"},
        n_focos=("n_focos", "sum"),
        uf_area_km2=("uf_area_km2", "max"),
    )
    return _with_uf_density(cols, MENSAL_UF)


def _focos_by_dim(cube: pa.Table, code_col: str, name_col: str) -> pa.Table:
    """A4 (sql/marts/40/50/60): daily count per biome/UC/TI."""
    rows = cube.filter(pc.is_valid(cube[code_col]))
    cols = _group(
        rows,
        {"day": "event_day", "code": code_col},
        name=(name_col, "max"),
        focos=("n_focos", "sum"),
    )
    return pa.table(cols, schema=DIARIO_DIM)


def focos_diario_bioma(cube: pa.Table) -> pa.Table:
    return _focos_by_dim(cube, "cd_bioma", "bioma_enr")


def focos_diario_uc(cube: pa.Table) -> pa.Table:
    return _focos_by_dim(cube, "cd_cnuc", "uc_nome")


def focos_diario_ti(cube: pa.Table) -> pa.Table:
    return _focos_by_dim(cube, "terrai_cod", "ti_nome")


def focos_diario_uf_trend(daily_uf: pa.Table) -> pa.Table:
    """W1 (sql/marts/30_focos_diario_uf_trend.sql:27-36): 7/30-day
    moving averages over ROWS frames, per UF in day order."""
    rows = daily_uf.select(["day", "uf", "n_focos"]).sort_by(
        [("uf", "ascending"), ("day", "ascending")]
    )
    ufs = rows["uf"].to_numpy(zero_copy_only=False)
    n = rows["n_focos"].to_numpy(zero_copy_only=False).astype(np.int64)
    i = np.arange(len(n))
    first = np.ones(len(n), dtype=bool)
    first[1:] = ufs[1:] != ufs[:-1]
    start = np.maximum.accumulate(np.where(first, i, 0))
    csum = np.concatenate([[0], np.cumsum(n)])

    def moving_avg(width: int) -> pa.Array:
        lo = np.maximum(i - (width - 1), start)
        return round_half_up(pa.array((csum[i + 1] - csum[lo]) / (i + 1 - lo), _F64), 2)

    cols = {
        "day": rows["day"],
        "uf": rows["uf"],
        "n_focos": rows["n_focos"],
        "ma7": moving_avg(7),
        "ma30": moving_avg(30),
    }
    return pa.table(cols, schema=DIARIO_UF_TREND)


def mv_focos_day_dim(cube: pa.Table) -> pa.Table:
    """A8 (sqlm/marts/canonical/065_mv_focos_day_dim.sql:5-20): the
    serving fact MV — count by day x full dimension tuple, which is
    the cube's own grain. The API queries read this table, never the
    event table."""
    names = zip(MV_FOCOS_DAY_DIM.names, (*CUBE_KEYS, "n_focos"))
    return pa.table({out: cube[col] for out, col in names}, schema=MV_FOCOS_DAY_DIM)
