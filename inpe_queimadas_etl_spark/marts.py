"""Mart builders: daily/monthly/period aggregates + trend + fact MV.

The marts are a tree of rollups (reference sql/marts/*.sql,
sqlm/marts/canonical/*.sql); each builder is a pure DataFrame
function of the level below it:

- events (the enriched rows of the affected days) -> the five daily
  marts and the serving fact MV;
- daily municipality / UF marts -> the monthly marts (counts summed,
  names, UF and areas carried by ``max``);
- daily UF mart -> the moving-average trend and the period stats.

The pipeline persists them partitioned by day/month with dynamic
partition overwrite — the Spark analog of the reference's
delete+insert-by-day idempotency (K2/K3).

Density formula parity (A1/A3): round(100 * n / nullif(area, 0), 4)
(sql/marts/10_focos_diario_municipio.sql:44-47).
Peak tie-break parity (A5/J9): order by n desc, day asc — earliest
day wins (sql/marts/40_focos_periodo_uf.sql:41-47).
Trend parity (W1): ROWS frames, not RANGE — gaps shrink the window
(sql/marts/30_focos_diario_uf_trend.sql:27-36).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _density(n, area):
    return F.round(
        F.lit(100.0) * n / F.when(area == 0, None).otherwise(area), 4
    )


def _by_municipality(df: DataFrame, key, n) -> DataFrame:
    """Count ``n`` per (key, municipality), with the municipality's
    name, UF, area and density."""
    area = F.max("mun_area_km2")
    return df.groupBy(key, "mun_cd_mun").agg(
        F.max("mun_nm_mun").alias("mun_nm_mun"),
        F.max("mun_uf").alias("mun_uf"),
        area.alias("mun_area_km2"),
        n.alias("n_focos"),
        _density(n, area).alias("focos_por_100km2"),
    )


def focos_diario_municipio(enriched: DataFrame) -> DataFrame:
    """A1 (sql/marts/10_focos_diario_municipio.sql:37-51)."""
    return _by_municipality(
        enriched.filter(F.col("mun_cd_mun").isNotNull()),
        F.col("event_day").alias("day"),
        F.count("*"),
    )


def focos_mensal_municipio(daily_mun: DataFrame) -> DataFrame:
    """A2 (sql/marts/11_focos_mensal_municipio.sql:37-51), rolled up
    from the daily municipality mart rows of the months it covers."""
    return _by_municipality(
        daily_mun, F.trunc("day", "month").alias("month"), F.sum("n_focos")
    )


def _with_uf_density(df: DataFrame, key: str) -> DataFrame:
    return df.select(
        key,
        "uf",
        "n_focos",
        "uf_area_km2",
        _density(F.col("n_focos"), F.col("uf_area_km2")).alias("focos_por_100km2"),
    )


def focos_diario_uf(enriched: DataFrame, uf_area: DataFrame) -> DataFrame:
    """A3 (sql/marts/20_focos_diario_uf.sql:30-43): count per UF joined
    to the UF-area dim (J5) for density."""
    counts = (
        enriched.filter(F.col("mun_uf").isNotNull())
        .groupBy(F.col("event_day").alias("day"), F.col("mun_uf").alias("uf"))
        .agg(F.count("*").alias("n_focos"))
    )
    joined = counts.join(
        F.broadcast(uf_area.withColumnRenamed("area_km2", "uf_area_km2")), "uf", "left"
    )
    return _with_uf_density(joined, "day")


def focos_mensal_uf(daily_uf: DataFrame) -> DataFrame:
    """A3 monthly (sql/marts/21_focos_mensal_uf.sql:30-43), rolled up
    from the daily UF mart rows of the months it covers; the UF area
    is the one the daily rows carry."""
    rolled = daily_uf.groupBy(F.trunc("day", "month").alias("month"), "uf").agg(
        F.sum("n_focos").alias("n_focos"),
        F.max("uf_area_km2").alias("uf_area_km2"),
    )
    return _with_uf_density(rolled, "month")


def ref_uf_area(municipios_dim: DataFrame) -> DataFrame:
    """A6 (sql/ref/05_ref_uf_area.sql:10-18): UF area dim rebuilt from
    the municipality dim — `sum(area_km2) group by uf`, null UFs
    dropped, null sums coalesced to 0. The reference upserts by uf
    (`on conflict do update`); the dim is tiny, so the Spark analog is
    a full recompute + overwrite (K4)."""
    return (
        municipios_dim.filter(F.col("uf").isNotNull())
        .groupBy("uf")
        .agg(F.coalesce(F.sum("area_km2"), F.lit(0.0)).alias("area_km2"))
    )


def _focos_by_dim(enriched: DataFrame, code_col: str, name_col: str) -> DataFrame:
    """A4 (sql/marts/40/50/60): daily count per biome/UC/TI."""
    return (
        enriched.filter(F.col(code_col).isNotNull())
        .groupBy(F.col("event_day").alias("day"), F.col(code_col).alias("code"))
        .agg(
            F.max(name_col).alias("name"),
            F.count("*").cast("int").alias("focos"),
        )
    )


def focos_diario_bioma(enriched: DataFrame) -> DataFrame:
    return _focos_by_dim(enriched, "cd_bioma", "bioma_enr")


def focos_diario_uc(enriched: DataFrame) -> DataFrame:
    return _focos_by_dim(enriched, "cd_cnuc", "uc_nome")


def focos_diario_ti(enriched: DataFrame) -> DataFrame:
    return _focos_by_dim(enriched, "terrai_cod", "ti_nome")


def focos_periodo_uf(daily_uf: DataFrame) -> DataFrame:
    """A5 + J9 (sql/marts/40_focos_periodo_uf.sql:22-73): period stats
    with peak day, earliest day winning count ties."""
    stats = daily_uf.groupBy("uf").agg(
        F.sum("n_focos").alias("total_focos"),
        F.round(F.avg("n_focos"), 2).alias("media_diaria"),
        F.max("n_focos").alias("max_diario"),
        F.count("*").alias("dias_com_focos"),
    )
    w = Window.partitionBy("uf").orderBy(F.desc("n_focos"), F.asc("day"))
    peaks = (
        daily_uf.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("uf", F.col("day").alias("dia_pico"), F.col("n_focos").alias("focos_pico"))
    )
    return stats.join(peaks, "uf")


def focos_diario_uf_trend(daily_uf: DataFrame) -> DataFrame:
    """W1 (sql/marts/30_focos_diario_uf_trend.sql:27-36): 7/30-day
    moving averages over ROWS frames."""
    w7 = Window.partitionBy("uf").orderBy("day").rowsBetween(-6, 0)
    w30 = Window.partitionBy("uf").orderBy("day").rowsBetween(-29, 0)
    return daily_uf.select(
        "day",
        "uf",
        "n_focos",
        F.round(F.avg("n_focos").over(w7), 2).alias("ma7"),
        F.round(F.avg("n_focos").over(w30), 2).alias("ma30"),
    )


def mv_focos_day_dim(enriched: DataFrame) -> DataFrame:
    """A8 (sqlm/marts/canonical/065_mv_focos_day_dim.sql:5-20): the
    serving fact MV — count by day x full dimension tuple. The API
    queries read this table, never the event table."""
    return enriched.groupBy(
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
    ).agg(F.count("*").alias("n_focos"))
