"""GeoJSON dim source: FeatureCollection -> PolyFeature lists.

The reference loads IBGE geo dims through ogr2ogr, which accepts both
shapefiles and GeoJSON (ensure_ref_ibge.py:185-254); our shapefile
reader covers the first, this module the second, producing the SAME
PolyFeature shape so enrich/PIP/choropleth code never knows which
format the dim came from. Geometry sanitation reuses the P13
depth-sniffing normalizer (functions/geojson.py) so malformed
coordinates degrade exactly like the serving layer's parser, and each
MultiPolygon part becomes its own PolyFeature sharing the id (the
shapefile reader's multi-part convention).

Driver-side: geo dims are dim-sized (<=5,570 municipalities), never
the fact table.
"""

from __future__ import annotations

import json

import numpy as np

from ..functions.geojson import normalize_poly_coords
from ..operators.geo import PolyFeature


def _poly_parts(geometry: dict) -> list[list[np.ndarray]]:
    """Geometry -> list of parts, each a list of (n, 2) rings
    (exterior first). Non-polygonal geometries yield []."""
    gtype = (geometry or {}).get("type")
    if gtype not in ("Polygon", "MultiPolygon"):
        return []
    norm_type, norm = normalize_poly_coords((geometry or {}).get("coordinates"))
    multi = norm if norm_type == "MultiPolygon" else ([norm] if norm else [])
    # rings arriving here are already sanitized (closed, >= 4 points):
    # normalize_poly_coords drops anything shorter
    return [
        [np.asarray(ring, dtype="float64") for ring in poly]
        for poly in multi
        if poly
    ]


def features_from_geojson(
    path: str,
    id_field: str | tuple[str, ...],
    prop_fields: tuple[str, ...] = (),
    prop_aliases: dict[str, tuple[str, ...]] | None = None,
) -> list[PolyFeature]:
    """GeoJSON FeatureCollection file -> PolyFeatures keyed on a
    feature property; one PolyFeature per polygon part. Property names
    match case-insensitively (ogr2ogr upper/lower-cases attribute
    names depending on the source driver). ``id_field`` may list
    candidate names (first present wins — the IBGE exports rename the
    code column across vintages); ``prop_aliases`` maps a canonical
    prop name to candidate source names the same way."""
    id_candidates = (
        (id_field,) if isinstance(id_field, str) else tuple(id_field)
    )
    aliases = prop_aliases or {}
    with open(path, encoding="utf-8") as fh:
        doc = json.load(fh)
    feats: list[PolyFeature] = []
    for feature in doc.get("features", []):
        props_in = {
            str(k).lower(): v for k, v in (feature.get("properties") or {}).items()
        }
        pid = next(
            (
                props_in[c.lower()]
                for c in id_candidates
                if props_in.get(c.lower()) is not None
            ),
            None,
        )
        if pid is None:
            raise KeyError(
                f"feature missing id property (tried {id_candidates!r}): "
                f"{sorted(props_in)}"
            )
        props = {
            k: next(
                (
                    props_in[c.lower()]
                    for c in aliases.get(k, (k,))
                    if props_in.get(c.lower()) is not None
                ),
                None,
            )
            for k in prop_fields
        }
        for part in _poly_parts(feature.get("geometry")):
            feats.append(
                PolyFeature(poly_id=str(pid), rings=tuple(part), props=dict(props))
            )
    return feats


def write_geojson(
    path: str,
    feats: list[PolyFeature],
    id_field: str = "cd_mun",
) -> None:
    """PolyFeatures -> FeatureCollection (one Polygon feature per
    PolyFeature part, properties = id + props). Test/fixture helper and
    the inverse of :func:`features_from_geojson`."""
    features = []
    for f in feats:
        features.append(
            {
                "type": "Feature",
                "properties": {id_field: f.poly_id, **f.props},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [[float(x), float(y)] for x, y in ring]
                        for ring in f.rings
                    ],
                },
            }
        )
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"type": "FeatureCollection", "features": features}, fh)
