"""Core scalar/column helpers (reference P1-P6, P10).

Citations are `path:line` into /root/reference.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_name(name: str) -> str:
    """Column-name normalization: strip/lower/spaces->underscores
    (P1, transform/inpe_focos_diario.py:18-21)."""
    return name.strip().lower().replace(" ", "_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """Apply norm_name to every column (P1)."""
    return df.toDF(*[norm_name(c) for c in df.columns])


def find_col(
    columns: list[str], preferred: list[str], contains: list[str]
) -> str | None:
    """Fuzzy column resolution: exact preferred names first, then
    substring containment (P2, transform/inpe_focos_diario.py:24-36)."""
    for c in preferred:
        if c in columns:
            return c
    for key in contains:
        for c in columns:
            if key in c:
                return c
    return None


def decimal_comma_to_double(col: Column | str) -> Column:
    """Decimal-comma tolerant numeric cast: ',' -> '.' then cast,
    invalid -> null (P3, transform/inpe_focos_diario.py:39-40). A
    try_cast, so an unparseable value is null under ANSI mode too."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), ",", ".").try_cast("double")


def clean_text_value(col: Column | str) -> Column:
    """Cell cleansing: ''/'nan'/'na'/'null'/'none' (case/space
    insensitive) -> null (P6, transform/inpe_focos_diario.py:43-59)."""
    c = F.col(col) if isinstance(col, str) else col
    lowered = F.lower(F.trim(c))
    return F.when(lowered.isin("nan", "na", "null", "none", ""), None).otherwise(c)


def event_day(view_ts: Column | str, file_date: Column | str) -> Column:
    """Canonical event day: coalesce(view_ts::date, file_date)
    (P10, sql/marts/10_focos_diario_municipio.sql:38)."""
    v = F.col(view_ts) if isinstance(view_ts, str) else view_ts
    f = F.col(file_date) if isinstance(file_date, str) else file_date
    return F.coalesce(F.to_date(v), f.cast("date"))
