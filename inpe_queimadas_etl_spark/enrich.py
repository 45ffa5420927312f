"""Spatial enrichment: curated focos -> enriched fact (J1-J4, J8).

The reference mutates `curated.inpe_focos_enriched` in place with SQL
UPDATEs and `*_checked` bookkeeping flags (sql/enrich/20,21). Spark
DataFrames are immutable, so the engine re-derives the enriched table
as a pure function of (curated, dims) per affected day and writes it
with dynamic partition overwrite — same outcome (first-match
attribution, stable under re-runs, checked flags all true after a
pass), no mutable state (SURVEY.md §7.1).

The enrichment runs inside the batch pass (``pipeline.batch_pass``),
right after each day's rows are curated. The four polygon dims are
indexed once on the driver (:func:`enrich_dims`) and ship in the task
closure; :func:`enrich_batch` attributes every dimension of a batch in
one traversal, with the kernels of operators.geo, and takes names, uf
and area from per-id dicts instead of joins. :func:`enrich` is the
same over a curated DataFrame, kept as the Spark reference path:

- municipality: point-in-polygon first (st_intersects,
  20_enrich_municipio.sql:43-54), then nearest-within-2km over the
  batch's misses only (20:56-74);
- biome/UC/TI: first-match by dimension id — the reference's
  `distinct on (event_hash) ... order by event_hash, b.id`
  (21_enrich_biomas_ucs_tis.sql:22-119) — i.e. lowest id wins;
- names and uf come from the first feature per id, the municipality
  area from operators.geometry.area_km2_by_id (the typed dim's rule).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .functions.core import event_day
from .operators.geo import (
    PolyFeature,
    PolyGridIndex,
    _rebalance_for_compute,
    first_match,
    knn_index,
    nearest_within,
)
from .operators.geometry import area_km2_by_id
from .schemas import CURATED_FOCOS, ENRICHED_FOCOS

# the benchmark's traced run wraps these two names in this module
from .operators.geo import knn_nearest_within, point_in_polygon_join  # noqa: F401

# nearest-municipality fallback radius (20_enrich_municipio.sql:56-74)
KNN_RADIUS_M = 2000.0

# enriched_focos column layout: these ids, then the curated columns and
# event_day, then the attributes in schemas.ENRICHED_FOCOS order
_ID_COLUMNS = ["terrai_cod", "cd_cnuc", "cd_bioma", "mun_cd_mun"]
_ATTR_FIELDS = [
    f
    for f in ENRICHED_FOCOS.fields
    if f.name not in CURATED_FOCOS.names + ["event_day"] + _ID_COLUMNS
]
ENRICHED_LAYOUT = (
    _ID_COLUMNS + CURATED_FOCOS.names + ["event_day"] + [f.name for f in _ATTR_FIELDS]
)
# the rows enrich_batch emits from curated rows without event_day, all
# nullable, as enriched_focos has always been written
BATCH_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in _ID_COLUMNS]
    + [T.StructField(f.name, f.dataType) for f in CURATED_FOCOS.fields]
    + _ATTR_FIELDS
)


@dataclass(frozen=True)
class DimLayer:
    """One polygon dim: its grid index and, per id, the output
    attribute values of its first feature."""

    index: PolyGridIndex
    attrs: dict[str, tuple]


@dataclass(frozen=True)
class EnrichDims:
    """The four dims as one batch needs them; built once per pass."""

    mun: DimLayer
    mun_knn: PolyGridIndex
    bioma: DimLayer
    uc: DimLayer
    ti: DimLayer


def _first_props(feats: list[PolyFeature], props: tuple[str, ...]) -> dict[str, tuple]:
    """poly_id -> str() of the given props of its first feature."""
    out: dict[str, tuple] = {}
    for f in feats:
        if f.poly_id not in out:
            values = (f.props.get(p) for p in props)
            out[f.poly_id] = tuple(None if v is None else str(v) for v in values)
    return out


def enrich_dims(
    municipios: list[PolyFeature],
    biomas: list[PolyFeature],
    ucs: list[PolyFeature],
    tis: list[PolyFeature],
) -> EnrichDims:
    """Index the four dims for :func:`enrich_batch` (driver side)."""
    areas = area_km2_by_id(municipios)
    mun_attrs = {
        pid: (*names, areas[pid])
        for pid, names in _first_props(municipios, ("nm_mun", "uf")).items()
    }
    return EnrichDims(
        mun=DimLayer(PolyGridIndex(municipios), mun_attrs),
        mun_knn=knn_index(municipios, KNN_RADIUS_M),
        bioma=DimLayer(PolyGridIndex(biomas), _first_props(biomas, ("bioma",))),
        uc=DimLayer(PolyGridIndex(ucs), _first_props(ucs, ("nome_uc",))),
        ti=DimLayer(PolyGridIndex(tis), _first_props(tis, ("terrai_nom",))),
    )


def _lookup(layer: DimLayer, ids: np.ndarray, width: int) -> list[list]:
    """Per-row attribute values as ``width`` columns (None on a miss)."""
    missing = (None,) * width
    rows = [layer.attrs.get(i, missing) for i in ids]
    return [[r[k] for r in rows] for k in range(width)]


def enrich_batch(pdf: pd.DataFrame, dims: EnrichDims) -> pd.DataFrame:
    """One batch of curated rows (with ``event_day``) -> enriched rows:
    the id columns, the input columns, then the attribute columns.
    Non-finite coordinates get no attribution; every row is checked."""
    px = pdf["lon"].to_numpy(dtype="float64")
    py = pdf["lat"].to_numpy(dtype="float64")
    mun = first_match(dims.mun.index, px, py)
    miss = np.flatnonzero(pd.isna(mun))
    if miss.size:
        mun[miss] = nearest_within(dims.mun_knn, px[miss], py[miss], KNN_RADIUS_M)[0]
    bioma = first_match(dims.bioma.index, px, py)
    uc = first_match(dims.uc.index, px, py)
    ti = first_match(dims.ti.index, px, py)
    nm_mun, uf, area = _lookup(dims.mun, mun, 3)
    (bioma_enr,) = _lookup(dims.bioma, bioma, 1)
    (uc_nome,) = _lookup(dims.uc, uc, 1)
    (ti_nome,) = _lookup(dims.ti, ti, 1)
    ids = pd.DataFrame(
        {"terrai_cod": ti, "cd_cnuc": uc, "cd_bioma": bioma, "mun_cd_mun": mun},
        index=pdf.index,
    )
    attrs = pd.DataFrame(
        {
            "mun_nm_mun": nm_mun,
            "mun_uf": uf,
            "mun_area_km2": np.array(area, dtype="float64"),
            "mun_checked": True,
            "bioma_enr": bioma_enr,
            "bioma_checked": True,
            "uc_nome": uc_nome,
            "uc_checked": True,
            "ti_nome": ti_nome,
            "ti_checked": True,
        },
        index=pdf.index,
    )
    return pd.concat([ids, pdf, attrs], axis=1)


def enrich(
    curated: DataFrame,
    municipios: list[PolyFeature],
    biomas: list[PolyFeature],
    ucs: list[PolyFeature],
    tis: list[PolyFeature],
) -> DataFrame:
    """Full enrichment pass: event day on the JVM, then one
    mapInPandas attributing municipality (PIP + KNN), biome, UC and TI."""
    df = curated.withColumn("event_day", event_day("view_ts", "file_date"))
    df = _rebalance_for_compute(df, municipios + biomas + ucs + tis)
    dims = enrich_dims(municipios, biomas, ucs, tis)
    schema = T.StructType(
        [T.StructField(c, T.StringType()) for c in _ID_COLUMNS]
        + df.schema.fields
        + _ATTR_FIELDS
    )

    def attribute(batches):
        for pdf in batches:
            yield enrich_batch(pdf, dims)

    return df.mapInPandas(attribute, schema=schema)


def new_rows_only(curated_batch: DataFrame, existing: DataFrame | None) -> DataFrame:
    """J1/K1: idempotent append — keep only hashes not already loaded
    (left anti-join on event_hash; reference
    sql/enrich/20_enrich_municipio.sql:31-41, load/postgis.py:69-94)."""
    if existing is None:
        return curated_batch
    return curated_batch.join(
        existing.select("event_hash"), "event_hash", "left_anti"
    )
