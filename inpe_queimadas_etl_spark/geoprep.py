"""Geometry prep chain (dim side), pure Python.

Analog of the reference's geometry build chain:

- `ref.ibge_municipios_web`: simplified municipality polygons
  (sql/ref/00_ref_geo_prepare.sql:17-33, st_simplifypreservetopology
  tol 0.001);
- `ref.ibge_ufs_web`: per-UF dissolve + area sum
  (sql/ref/00_ref_geo_prepare.sql:36-59);
- `marts.mv_uf_geom_mainland`: largest part per UF
  (sqlm/marts/prereq/010_mv_uf_geom_mainland.sql:5-22);
- `marts.mv_uf_mainland_poly_noholes`: exterior ring only
  (sqlm/marts/prereq/020:8-20);
- `marts.mv_uf_polycoords_polygon_superset`: GeoJSON coordinates per
  UF (sqlm/marts/prereq/030:4).

The polygon ops (simplify, dissolve, mainland, holes, coords emit) run
on the driver over the <=5,570-feature dims via operators/geometry.py,
the analog of the reference doing this work once, dim-side, in
PostGIS, never per fact row. The serving context takes the UF shapes
from :func:`build_uf_geo_chain`; the reference's chart view carries
the same shapes on every day row (sqlm/marts/canonical/040), so the
latest row per UF there is the chain's output here.
"""

from __future__ import annotations

from collections import defaultdict

from .operators.geo import PolyFeature
from .operators.geometry import (
    canonicalize_feature,
    dissolve,
    drop_holes,
    largest_part,
    polygon_coords,
    simplify_feature,
)

WEB_SIMPLIFY_TOL_DEG = 0.001  # sql/ref/00_ref_geo_prepare.sql:31


def municipios_web(
    muns: list[PolyFeature], tol_deg: float = WEB_SIMPLIFY_TOL_DEG
) -> list[PolyFeature]:
    """Simplified web municipality polygons
    (sql/ref/00_ref_geo_prepare.sql:24-33)."""
    return [simplify_feature(f, tol_deg) for f in muns]


def _group_by_uf(feats: list[PolyFeature]) -> dict[str, list[PolyFeature]]:
    by_uf: dict[str, list[PolyFeature]] = defaultdict(list)
    for f in feats:
        uf = f.props.get("uf")
        if uf is not None:
            by_uf[str(uf)].append(f)
    return by_uf


def ufs_web(mun_web: list[PolyFeature]) -> dict[str, list[PolyFeature]]:
    """Per-UF dissolve of municipality polygons
    (st_unaryunion(st_collect(geom)) group by uf,
    sql/ref/00_ref_geo_prepare.sql:52-59). Returns UF -> parts; every
    part carries the UF's summed area_km2 in its props."""
    out: dict[str, list[PolyFeature]] = {}
    for uf, feats in sorted(_group_by_uf(mun_web).items()):
        area = sum(
            float(f.props["area_km2"])
            for f in feats
            if f.props.get("area_km2") is not None
        )
        parts = dissolve(feats, uf)
        out[uf] = [
            PolyFeature(p.poly_id, p.rings, {"uf": uf, "area_km2": area})
            for p in parts
        ]
    return out


def uf_geom_mainland(ufs: dict[str, list[PolyFeature]]) -> dict[str, PolyFeature]:
    """Largest part per UF (W2 on geometry,
    010_mv_uf_geom_mainland.sql:13-22)."""
    return {uf: largest_part(parts) for uf, parts in ufs.items()}


def uf_mainland_noholes(
    mainland: dict[str, PolyFeature]
) -> dict[str, PolyFeature]:
    """Exterior ring only (020_mv_uf_mainland_poly_noholes.sql:20)."""
    return {uf: drop_holes(f) for uf, f in mainland.items()}


def uf_polycoords(noholes: dict[str, PolyFeature]) -> dict[str, list]:
    """GeoJSON Polygon coordinates per UF, canonical ring start
    (030_mv_uf_polycoords_polygon_superset.sql:4)."""
    return {
        uf: polygon_coords(canonicalize_feature(f))
        for uf, f in noholes.items()
    }


def build_uf_geo_chain(mun_web: list[PolyFeature]) -> dict[str, list]:
    """web municipality polygons (:func:`municipios_web`) -> dissolve
    -> mainland -> noholes -> poly_coords, the prereq MV chain."""
    return uf_polycoords(uf_mainland_noholes(uf_geom_mainland(ufs_web(mun_web))))
