"""Geometry-bearing serving queries (§2.11): /api/bounds,
/api/lookup/mun, /api/geo (+/qa), and the geometry payloads of
/api/choropleth/{uf,mun} (J6/J10).

Reference: api/app/main.py:852-922 (bounds helpers), :930-1017
(choropleth uf geom CTE), :1020-1130 (choropleth mun), :1133-1208
(lookup), :1211-1245 (bounds), :1248-1398 + :665-800 (geo overlay and
its union->makevalid->simplify QA pipeline).

The polygon work runs driver-side on the dim features (<= 5,570
shapes, exactly the scale PostGIS handled per request); fact
aggregates read the serving context's fact cube (queries.FactCube)
with the same range/filter rules as the non-geometry endpoints; no
query here touches Spark. Divergence note: the reference's bbox_ratio
divides a degree-squared bbox area by a m^2 polygon area
(main.py:781-783); this engine computes both in m^2 so the ratio is
the dimensionless bbox-overestimate factor the >50 warning was
plainly intended to test.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math

from .functions.geojson import to_feature
from .functions.labels import clean_display_label
from .functions.legend import compute_breaks
from .operators.geo import PolyFeature
from .operators.geometry import (
    _DEG_M,
    bbox_center,
    canonicalize_feature,
    dissolve,
    feature_is_valid,
    feature_npoints,
    features_area_m2,
    features_bbox,
    make_valid,
    multipolygon_coords,
    polygon_coords,
    simplify_feature,
)
from .queries import FactCube, _norm, mun_totals, uf_totals

GEO_SIMPLIFY_DEFAULT_TOL_M = 10.0  # api/app/main.py:82 default
CHORO_SIMPLIFY_TOL_DEG = 0.01  # serve-time mun tol (main.py:80,1074)
BBOX_RATIO_WARN = 50.0  # main.py:783


def _key_feats(feats: list[PolyFeature], key: str, uf: str | None = None):
    key_norm = (key or "").strip()
    out = [f for f in feats if str(f.poly_id) == key_norm]
    if uf is not None:
        uf_norm = _norm(uf)
        out = [f for f in out if str(f.props.get("uf", "")).upper() == uf_norm]
    return key_norm, out


def coords_hash(geometry: dict) -> str:
    """sha1(canonical-json)[:16] (main.py:660-662)."""
    payload = json.dumps(
        geometry, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    )
    return hashlib.sha1(payload.encode("utf-8")).hexdigest()[:16]


def _bbox_area_m2(bbox: tuple[float, float, float, float]) -> float:
    minx, miny, maxx, maxy = bbox
    w = max(0.0, maxx - minx)
    h = max(0.0, maxy - miny)
    midlat = (miny + maxy) / 2.0
    return (w * _DEG_M * math.cos(math.radians(midlat))) * (h * _DEG_M)


def bounds(feats: list[PolyFeature], key: str, uf: str | None = None) -> dict:
    """/api/bounds (main.py:1211-1245, bbox via st_extent at :897-907):
    bbox + [lat, lon] center of the keyed entity's geometry."""
    key_norm, sel = _key_feats(feats, key, uf)
    if not key_norm:
        raise ValueError("key is required")
    if not sel:
        raise LookupError(f"geometry not found for key {key_norm!r}")
    bbox = features_bbox(sel)
    cy, cx = bbox_center(bbox)
    return {
        "entity": None,
        "key": key_norm,
        "bbox": [bbox[0], bbox[1], bbox[2], bbox[3]],
        "center": [cy, cx],
    }


def lookup_mun(mun_feats: list[PolyFeature], cube: FactCube, key: str) -> dict:
    """/api/lookup/mun (main.py:1133-1208): geometry-dim key probe over
    the municipality features, named by the fact's max(mun_nm_mun) for
    the key over all days (the reference's left join,
    main.py:1165-1180); UF from the feature, upper-cased."""
    key_norm, sel = _key_feats(mun_feats, key)
    if not key_norm:
        raise ValueError("key is required")
    if not sel:
        raise LookupError("municipality not found")
    _, mun_nome = cube.dims["mun"].code_total(slice(None), cube.n, key_norm)
    uf = str(sel[0].props.get("uf") or "").upper()
    if not uf:
        raise LookupError("municipality uf not found")
    return {
        "mun": key_norm,
        "mun_nome": str(mun_nome or key_norm),
        "uf": uf,
        "uf_nome": uf,
    }


def geo_shape_metrics(
    feats: list[PolyFeature],
    key: str,
    simplify: bool = True,
    tol_m: float = GEO_SIMPLIFY_DEFAULT_TOL_M,
) -> dict:
    """The union -> makevalid -> optional-simplify pipeline with QA
    metrics (main.py:665-800): part count, area/npoints before and
    after, bbox + dimensionless bbox ratio, canonical coords hash."""
    key_norm, sel = _key_feats(feats, key)
    if not key_norm:
        raise ValueError("key is required")
    if not sel:
        raise LookupError(f"geometry not found for key {key_norm!r}")

    n_parts = len(sel)
    # base_geom = st_collectionextract(st_makevalid(st_unaryunion(...)), 3)
    # (main.py:700-710): repair runs BEFORE the before-metrics, and
    # is_valid_before reports the repaired union's validity.
    union = make_valid(dissolve(sel, key_norm))
    if not union:
        raise LookupError(f"geometry is empty after repair for key {key_norm!r}")
    is_valid_before = all(feature_is_valid(p) for p in union)
    npoints_before = sum(feature_npoints(p) for p in union)
    area_before = features_area_m2(union)

    if simplify and tol_m > 0:
        tol_deg = tol_m / _DEG_M
        # geom_out = st_makevalid(st_simplify...(base)) (main.py:729-741)
        out = make_valid([simplify_feature(p, tol_deg) for p in union])
    else:
        out = union
    is_valid_after = all(feature_is_valid(p) for p in out)
    out = [canonicalize_feature(p) for p in out]

    area_after = features_area_m2(out)
    npoints_out = sum(feature_npoints(p) for p in out)
    bbox = features_bbox(out)
    ratio = _bbox_area_m2(bbox) / max(area_after, 1e-12)

    if len(out) == 1:
        geometry = {"type": "Polygon", "coordinates": polygon_coords(out[0])}
    else:
        geometry = {
            "type": "MultiPolygon",
            "coordinates": multipolygon_coords(out),
        }
    return {
        "key": key_norm,
        "n_parts_before_union": n_parts,
        "is_valid_before": is_valid_before,
        "is_valid_after": is_valid_after,
        "npoints_before_union": npoints_before,
        "npoints_out": npoints_out,
        "area_m2_union_before": area_before,
        "area_m2_union_after": area_after,
        "bbox": [bbox[0], bbox[1], bbox[2], bbox[3]],
        "bbox_ratio": ratio,
        "warning_bbox_ratio": ratio > BBOX_RATIO_WARN,
        "simplify_applied": bool(simplify),
        "tol_m_used": float(tol_m if simplify else 0.0),
        "geometry": geometry,
        "coords_hash": coords_hash(geometry),
    }


def geo_overlay(
    entity: str,
    key: str,
    feats: list[PolyFeature],
    cube: FactCube,
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
    simplify: bool = True,
    tol_m: float = GEO_SIMPLIFY_DEFAULT_TOL_M,
) -> dict:
    """/api/geo (main.py:1248-1343): keyed entity geometry + the fact
    total under the same filters, label run through P12."""
    metrics = geo_shape_metrics(feats, key, simplify=simplify, tol_m=tol_m)
    key_norm = metrics["key"]
    # The reference ANDs the context filter (code-or-name, key as-is,
    # main.py:1294-1296) with the exact code predicate (:1305) — the
    # conjunction reduces to the exact code match, applied here
    # without upper-normalizing the key (keys are codes, not labels).
    sel = cube.window(from_date, to, filters)
    n_focos, fact_label = cube.dims[entity].code_total(sel, cube.n, key_norm)
    source_label = next(
        (
            str(f.props["label"])
            for f in feats
            if str(f.poly_id) == key_norm and f.props.get("label")
        ),
        None,
    )
    label = clean_display_label(source_label or fact_label or key_norm)
    feature = {
        "type": "Feature",
        "properties": {
            "entity": entity,
            "key": key_norm,
            "label": label,
            "n_focos": n_focos,
        },
        "geometry": metrics["geometry"],
    }
    return {
        "entity": entity,
        "key": key_norm,
        "geojson": {"type": "FeatureCollection", "features": [feature]},
    }


def geo_overlay_qa(
    entity: str,
    key: str,
    feats: list[PolyFeature],
    simplify: bool = True,
    tol_m: float = GEO_SIMPLIFY_DEFAULT_TOL_M,
) -> dict:
    """/api/geo/qa (main.py:1347-1398): the shape metrics + label."""
    metrics = geo_shape_metrics(feats, key, simplify=simplify, tol_m=tol_m)
    key_norm = metrics["key"]
    source_label = next(
        (
            str(f.props["label"])
            for f in feats
            if str(f.poly_id) == key_norm and f.props.get("label")
        ),
        None,
    )
    out = {
        "entity": entity,
        "key": key_norm,
        "label": clean_display_label(source_label or key_norm),
        "simplify_param_received": int(simplify),
        "tol_m_received": float(tol_m),
    }
    for k in (
        "simplify_applied",
        "n_parts_before_union",
        "area_m2_union_before",
        "area_m2_union_after",
        "is_valid_before",
        "is_valid_after",
        "npoints_before_union",
        "npoints_out",
        "bbox_ratio",
        "warning_bbox_ratio",
        "coords_hash",
        "bbox",
    ):
        out[k] = metrics[k]
    return out


def choropleth_uf_geo(
    cube: FactCube,
    uf_geometry: dict[str, str],
    from_date: dt.date,
    to: dt.date,
    filters: dict | None = None,
) -> tuple[list[dict], dict]:
    """/api/choropleth/uf with geometry (main.py:930-1017): the latest
    poly_coords per UF (J10, ``uf_geometry``: uf -> poly_coords JSON,
    which ApiContext builds with geoprep.build_uf_geo_chain)
    left-joined to the filtered aggregate, zero-filled, mean_per_day
    over the range. Returns the rows (uf, n_focos, mean_per_day,
    poly_coords ordered by uf) plus the {geojson, legend} response
    dict."""
    days = max(1, (to - from_date).days)
    agg = uf_totals(cube, from_date, to, filters)
    rows = [
        {
            "uf": uf,
            "n_focos": agg.get(uf, 0),
            "mean_per_day": agg.get(uf, 0) / float(days),
            "poly_coords": coords,
        }
        for uf, coords in sorted(uf_geometry.items())
    ]
    values = [r["n_focos"] for r in rows]
    features = [
        to_feature(
            uf=str(r["uf"]),
            n_focos=r["n_focos"],
            mean_per_day=r["mean_per_day"],
            poly_coords=json.loads(r["poly_coords"]),
        )
        for r in rows
    ]
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    out = {
        "from": from_date,
        "to": to,
        "geojson": {"type": "FeatureCollection", "features": features},
    }
    out.update(legend)
    return rows, out


def choropleth_mun_geo(
    cube: FactCube,
    mun_web_feats: list[PolyFeature],
    from_date: dt.date,
    to: dt.date,
    uf: str,
    filters: dict | None = None,
    tol_deg: float = CHORO_SIMPLIFY_TOL_DEG,
) -> dict:
    """/api/choropleth/mun with geometry (main.py:1020-1130): the UF's
    municipality shapes serve-time simplified, left-joined to the
    filtered aggregate, ordered n_focos desc / key asc, P12-cleaned
    labels, quantile legend."""
    uf_norm = _norm(uf)
    if not uf_norm:
        raise ValueError("uf is required for municipal choropleth")
    agg = {
        key: (label, n)
        for key, label, n in mun_totals(cube, from_date, to, uf_norm, filters)
    }

    shapes: dict[str, list[PolyFeature]] = {}
    for feat in mun_web_feats:
        if str(feat.props.get("uf", "")).upper() == uf_norm:
            shapes.setdefault(str(feat.poly_id), []).append(feat)

    days = max(1, (to - from_date).days)
    items = []
    for key, parts in shapes.items():
        simplified = [
            canonicalize_feature(simplify_feature(p, tol_deg)) for p in parts
        ]
        if len(simplified) == 1:
            geometry = {
                "type": "Polygon",
                "coordinates": polygon_coords(simplified[0]),
            }
        else:
            geometry = {
                "type": "MultiPolygon",
                "coordinates": multipolygon_coords(simplified),
            }
        fact_label, n = agg.get(key, (None, 0))
        label = clean_display_label(fact_label or key)
        items.append((key, label, n, geometry))

    items.sort(key=lambda t: (-t[2], t[0]))  # n_focos desc, key asc
    values = [n for _, _, n, _ in items]
    features = [
        {
            "type": "Feature",
            "properties": {
                "key": key,
                "label": label,
                "uf": uf_norm,
                "n_focos": n,
                "mean_per_day": float(n / days),
            },
            "geometry": geometry,
        }
        for key, label, n, geometry in items
    ]
    legend = compute_breaks(values, method="quantile", k=5, zero_class=True)
    out = {
        "from": from_date,
        "to": to,
        "geojson": {"type": "FeatureCollection", "features": features},
        "note": f"municipal layer simplified (tol={tol_deg})",
    }
    out.update(legend)
    return out
