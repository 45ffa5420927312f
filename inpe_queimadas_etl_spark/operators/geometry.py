"""Pure-numpy polygon geometry ops on PolyFeature (no GEOS here).

The reference's geometry prep pipeline is PostGIS:

- dissolve: st_unaryunion(st_collect(geom)) group by uf
  (sql/ref/00_ref_geo_prepare.sql:53-59);
- largest-part "mainland" extraction: st_dump + row_number() over
  (partition by uf order by st_area(geog) desc) == 1
  (sqlm/marts/prereq/010_mv_uf_geom_mainland.sql:5-22);
- hole removal: st_makepolygon(st_exteriorring(p))
  (sqlm/marts/prereq/020_mv_uf_mainland_poly_noholes.sql:8-20);
- simplification: st_simplifypreservetopology
  (sql/ref/00_ref_geo_prepare.sql:31, api/app/main.py:1074);
- poly_coords emit: st_asgeojson(geom)::jsonb -> 'coordinates'
  (sqlm/marts/prereq/030_mv_uf_polycoords_polygon_superset.sql:4);
- QA metrics: st_area(geography), st_npoints, st_envelope/st_extent
  (api/app/main.py:700-800,852-922).

All of this is DIM-side work over <= 5,570 small polygons — in the
Spark rebuild it runs on the driver against the broadcastable dim
(exactly like functions/legend.py's driver-side quantiles), and only
its small output (poly_coords strings, bboxes, areas) enters Spark
plans via broadcast joins. Nothing here ever touches the fact table.

Design notes:

- Areas are geodesic-approximate: planar shoelace scaled to meters on
  a local equirectangular projection at the ring's mean latitude.
  PostGIS st_area(geography) is fully geodesic; at municipality/UF
  extents the relative error is small and, crucially, ORDER-PRESERVING
  for the largest-part ranking, which is all the pipeline needs.
- Dissolve uses edge cancellation, which is EXACT when the inputs tile
  the plane with vertex-identical shared boundaries (true for IBGE
  municipality tilings and for the synthetic grid fixtures): every
  interior edge appears in two polygons with opposite directions and
  cancels; the surviving edges stitch into the union's boundary rings.
  If stitching fails (non-matching boundaries), it degrades to
  st_collect semantics (multi-part, unmerged) rather than guessing.
- Simplification is Douglas-Peucker on each ring; a ring that would
  collapse below 4 points keeps its original coordinates (the
  "preserve topology" contract we rely on: never emit degenerate
  rings).
"""

from __future__ import annotations

import json
import math
from collections import defaultdict

import numpy as np

from .geo import EARTH_RADIUS_M, PolyFeature, _ray_cast

_DEG_M = math.pi / 180.0 * EARTH_RADIUS_M  # meters per degree latitude


# ---------------------------------------------------------------------------
# area / bbox / npoints
# ---------------------------------------------------------------------------


def ring_signed_area_deg2(ring: np.ndarray) -> float:
    """Shoelace signed area in squared degrees (CCW positive)."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def ring_area_m2(ring: np.ndarray) -> float:
    """|shoelace| scaled to m^2 on a local equirectangular projection
    (lon degrees shrink by cos of the ring's bbox mid-latitude).
    st_area(geography) analog; the mid-latitude anchor (rather than a
    vertex mean) keeps the value independent of vertex multiplicity,
    so simplification does not perturb the scale factor."""
    lat0 = (float(ring[:, 1].min()) + float(ring[:, 1].max())) / 2.0
    return abs(ring_signed_area_deg2(ring)) * _DEG_M * _DEG_M * math.cos(
        math.radians(lat0)
    )


def feature_area_m2(feat: PolyFeature) -> float:
    """Exterior area minus hole areas."""
    area = ring_area_m2(feat.rings[0])
    for hole in feat.rings[1:]:
        area -= ring_area_m2(hole)
    return area


def area_km2_by_id(feats: list[PolyFeature]) -> dict[str, float]:
    """poly_id -> area in km2, rounded to 3 decimals: the first
    ``area_km2`` prop seen for the id (the authoritative total, often
    repeated on every part), else the summed geodesic area of the
    parts that carry none (the reference's ``st_area(geography)/1e6``
    fallback when the source has no area column)."""
    attr: dict[str, float] = {}
    fallback: dict[str, float] = {}
    for f in feats:
        value = f.props.get("area_km2")
        fallback.setdefault(f.poly_id, 0.0)
        if value is None:
            fallback[f.poly_id] += feature_area_m2(f) / 1e6
        else:
            attr.setdefault(f.poly_id, float(value))
    return {pid: round(attr.get(pid, area), 3) for pid, area in fallback.items()}


def features_area_m2(feats: list[PolyFeature]) -> float:
    return sum(feature_area_m2(f) for f in feats)


def features_bbox(feats: list[PolyFeature]) -> tuple[float, float, float, float]:
    """st_extent analog over every ring of every part."""
    xs = np.concatenate([r[:, 0] for f in feats for r in f.rings])
    ys = np.concatenate([r[:, 1] for f in feats for r in f.rings])
    return (float(xs.min()), float(ys.min()), float(xs.max()), float(ys.max()))


def bbox_center(bbox: tuple[float, float, float, float]) -> tuple[float, float]:
    """(lat, lon) center, matching the reference's [cy, cx] order
    (api/app/main.py:846-849)."""
    minx, miny, maxx, maxy = bbox
    return ((miny + maxy) / 2.0, (minx + maxx) / 2.0)


def feature_npoints(feat: PolyFeature) -> int:
    """st_npoints analog (counts every ring vertex incl. closure)."""
    return int(sum(r.shape[0] for r in feat.rings))


# ---------------------------------------------------------------------------
# mainland / holes
# ---------------------------------------------------------------------------


def largest_part(feats: list[PolyFeature]) -> PolyFeature:
    """W2 on geometry: the part with the largest (geodesic-approx)
    area — mainland extraction (010_mv_uf_geom_mainland.sql:13-22).
    Ties break on input order, mirroring st_dump's stable part order."""
    if not feats:
        raise ValueError("largest_part of empty feature list")
    return max(feats, key=lambda f: (feature_area_m2(f),))


def drop_holes(feat: PolyFeature) -> PolyFeature:
    """st_makepolygon(st_exteriorring(p)) analog
    (020_mv_uf_mainland_poly_noholes.sql:20)."""
    return PolyFeature(
        poly_id=feat.poly_id, rings=(feat.rings[0],), props=dict(feat.props)
    )


# ---------------------------------------------------------------------------
# simplification (Douglas-Peucker)
# ---------------------------------------------------------------------------


def _dp_mask(pts: np.ndarray, tol: float) -> np.ndarray:
    """Keep-mask for Douglas-Peucker over an open polyline (iterative,
    stack-based; perpendicular point-to-segment distance)."""
    n = pts.shape[0]
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[n - 1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 - i0 < 2:
            continue
        seg = pts[i1] - pts[i0]
        mid = pts[i0 + 1 : i1] - pts[i0]
        seg_len2 = float(seg @ seg)
        if seg_len2 == 0.0:
            d = np.sqrt((mid**2).sum(axis=1))
        else:
            t = np.clip((mid @ seg) / seg_len2, 0.0, 1.0)
            proj = np.outer(t, seg)
            d = np.sqrt(((mid - proj) ** 2).sum(axis=1))
        k = int(np.argmax(d))
        if d[k] > tol:
            split = i0 + 1 + k
            keep[split] = True
            stack.append((i0, split))
            stack.append((split, i1))
    return keep


def simplify_ring(ring: np.ndarray, tol_deg: float) -> np.ndarray:
    """Douglas-Peucker on a closed ring. The closure vertex anchors
    both ends; a result below 4 points (degenerate) returns the ring
    unchanged — the preserve-topology contract."""
    if tol_deg <= 0 or ring.shape[0] <= 4:
        return ring
    keep = _dp_mask(ring, tol_deg)
    out = ring[keep]
    if out.shape[0] < 4:
        return ring
    return out


def simplify_feature(feat: PolyFeature, tol_deg: float) -> PolyFeature:
    """st_simplifypreservetopology analog: simplify every ring; holes
    that would degenerate keep their original shape (same contract)."""
    rings = tuple(simplify_ring(r, tol_deg) for r in feat.rings)
    return PolyFeature(poly_id=feat.poly_id, rings=rings, props=dict(feat.props))


# ---------------------------------------------------------------------------
# dissolve (st_unaryunion(st_collect(...)) analog for tilings)
# ---------------------------------------------------------------------------


def _ensure_ccw(ring: np.ndarray) -> np.ndarray:
    return ring if ring_signed_area_deg2(ring) >= 0 else ring[::-1].copy()


def _ring_edges(ring: np.ndarray):
    """Directed edges ((x0,y0),(x1,y1)) of a closed ring."""
    for i in range(ring.shape[0] - 1):
        a = (float(ring[i, 0]), float(ring[i, 1]))
        b = (float(ring[i + 1, 0]), float(ring[i + 1, 1]))
        if a != b:
            yield a, b


def _stitch_cycles(edges: list[tuple]) -> list[list[tuple]] | None:
    """Stitch directed edges into closed cycles; None if any chain
    fails to close (boundaries not vertex-matched)."""
    nxt: dict[tuple, list[tuple]] = defaultdict(list)
    for a, b in edges:
        nxt[a].append(b)
    cycles = []
    while nxt:
        start = next(iter(nxt))
        path = [start]
        cur = start
        while True:
            outs = nxt.get(cur)
            if not outs:
                return None
            nxt_v = outs.pop()
            if not outs:
                del nxt[cur]
            path.append(nxt_v)
            cur = nxt_v
            if cur == start:
                break
        cycles.append(path)
    return cycles


def dissolve(feats: list[PolyFeature], poly_id: str) -> list[PolyFeature]:
    """Union of boundary-matched polygons by edge cancellation.

    Exterior rings are normalized CCW and holes CW, every directed
    edge is collected, and edges shared by two parts (which appear in
    both directions) cancel; the survivors stitch into the union's
    boundary. Surviving CCW rings are exterior parts, CW rings are
    holes, attached to the part whose exterior contains them. Returns
    one PolyFeature per part (multi-part unions share ``poly_id``,
    the package's multi-part convention).

    Falls back to st_collect semantics (the input parts re-labeled,
    unmerged) when the inputs are not a vertex-matched tiling.
    """
    fallback = [
        PolyFeature(poly_id=poly_id, rings=f.rings, props=dict(f.props))
        for f in feats
    ]
    if len(feats) <= 1:
        return fallback

    edge_count: dict[tuple, int] = defaultdict(int)
    directed: list[tuple] = []
    for f in feats:
        for k, ring in enumerate(f.rings):
            oriented = _ensure_ccw(ring) if k == 0 else _ensure_ccw(ring)[::-1]
            for a, b in _ring_edges(oriented):
                directed.append((a, b))
                edge_count[frozenset((a, b))] += 1

    boundary = [e for e in directed if edge_count[frozenset(e)] == 1]
    if not boundary:
        return fallback
    cycles = _stitch_cycles(boundary)
    if cycles is None:
        return fallback

    exteriors: list[np.ndarray] = []
    holes: list[np.ndarray] = []
    for cyc in cycles:
        ring = np.asarray(cyc, dtype="float64")
        if ring.shape[0] < 4:
            return fallback
        if ring_signed_area_deg2(ring) >= 0:
            exteriors.append(ring)
        else:
            holes.append(ring)
    if not exteriors:
        return fallback

    parts: list[list[np.ndarray]] = [[ext] for ext in exteriors]
    for hole in holes:
        hx = np.array([hole[0, 0]])
        hy = np.array([hole[0, 1]])
        owner = None
        for k, ext in enumerate(exteriors):
            if bool(_ray_cast(hx, hy, ext)[0]):
                owner = k
                break
        if owner is None:
            return fallback
        parts[owner].append(hole)

    return [
        PolyFeature(poly_id=poly_id, rings=tuple(rings), props={})
        for rings in parts
    ]


# ---------------------------------------------------------------------------
# validity (st_isvalid / st_makevalid analogs)
# ---------------------------------------------------------------------------

_AREA_EPS_DEG2 = 1e-18


_SIMPLE_BLOCK = 256


def _cross2(u: np.ndarray, v: np.ndarray) -> np.ndarray:
    """z-component of the 2-D cross product over the last axis."""
    return u[..., 0] * v[..., 1] - u[..., 1] * v[..., 0]


def ring_is_simple(ring: np.ndarray) -> bool:
    """st_issimple-style check for one closed ring: no two
    NON-ADJACENT segments intersect (proper crossings AND touches both
    count — a pinch point makes a polygon ring invalid per OGC).
    Blocked numpy: anchor segments are processed _SIMPLE_BLOCK at a
    time against all later segments, so the O(n^2) pair test runs as
    ~n/256 broadcasted cross-product batches (same blocking pattern as
    operators/geo's PIP engine)."""
    pts = ring[:-1]
    n = pts.shape[0]
    if n < 3:
        return False
    a = pts
    b = np.vstack([pts[1:], pts[:1]])  # segment i: a[i] -> b[i]

    def on_seg(p, q0, q1, d):
        return (
            (d == 0)
            & (p[..., 0] >= np.minimum(q0[..., 0], q1[..., 0]))
            & (p[..., 0] <= np.maximum(q0[..., 0], q1[..., 0]))
            & (p[..., 1] >= np.minimum(q0[..., 1], q1[..., 1]))
            & (p[..., 1] <= np.maximum(q0[..., 1], q1[..., 1]))
        )

    for i0 in range(0, n - 2, _SIMPLE_BLOCK):
        i1 = min(i0 + _SIMPLE_BLOCK, n - 2)
        ii = np.arange(i0, i1)
        j0 = i0 + 2
        aj = a[j0:]  # block rows test columns j >= i+2 via mask below
        bj = b[j0:]
        jj = np.arange(j0, n)
        # mask out adjacent pairs: j < i+2, and the wrap pair (0, n-1)
        pair_ok = jj[None, :] >= (ii[:, None] + 2)
        if i0 == 0:
            pair_ok[0, jj == n - 1] = False
        ai = a[ii][:, None, :]
        bi = b[ii][:, None, :]
        d1 = _cross2(bj - aj, ai - aj)
        d2 = _cross2(bj - aj, bi - aj)
        d3 = _cross2(bi - ai, aj - ai)
        d4 = _cross2(bi - ai, bj - ai)
        proper = (d1 * d2 < 0) & (d3 * d4 < 0)
        if (proper & pair_ok).any():
            return False
        touch = (
            on_seg(ai, aj, bj, d1)
            | on_seg(bi, aj, bj, d2)
            | on_seg(aj, ai, bi, d3)
            | on_seg(bj, ai, bi, d4)
        )
        if (touch & pair_ok).any():
            return False
    return True


def ring_is_valid(ring: np.ndarray) -> bool:
    """One-ring validity: closed, >= 4 vertices, non-degenerate area,
    simple (st_isvalid's per-ring conditions)."""
    if ring.shape[0] < 4:
        return False
    if not np.array_equal(ring[0], ring[-1]):
        return False
    if abs(ring_signed_area_deg2(ring)) <= _AREA_EPS_DEG2:
        return False
    return ring_is_simple(ring)


def feature_is_valid(feat: PolyFeature) -> bool:
    """st_isvalid analog for one polygon part: every ring valid and
    every hole's anchor vertex inside the exterior."""
    if not feat.rings or not ring_is_valid(feat.rings[0]):
        return False
    ext = feat.rings[0]
    for hole in feat.rings[1:]:
        if not ring_is_valid(hole):
            return False
        hx = np.array([hole[0, 0]])
        hy = np.array([hole[0, 1]])
        if not bool(_ray_cast(hx, hy, ext)[0]):
            return False
    return True


def _seg_intersection_point(p0, p1, q0, q1):
    """Intersection point of properly-crossing segments (None if
    parallel)."""
    r = (p1[0] - p0[0], p1[1] - p0[1])
    s = (q1[0] - q0[0], q1[1] - q0[1])
    denom = r[0] * s[1] - r[1] * s[0]
    if denom == 0:
        return None
    t = ((q0[0] - p0[0]) * s[1] - (q0[1] - p0[1]) * s[0]) / denom
    return (p0[0] + t * r[0], p0[1] + t * r[1])


def _node_ring(ring: np.ndarray) -> list[tuple[float, float]]:
    """Insert every proper self-intersection point as a vertex on both
    participating segments (GEOS noding step of st_makevalid), keeping
    traversal order."""
    pts = [(float(x), float(y)) for x, y in ring[:-1]]
    n = len(pts)
    inserts: dict[int, list[tuple[float, tuple[float, float]]]] = {}
    for i in range(n):
        p0, p1 = pts[i], pts[(i + 1) % n]
        for j in range(i + 2, n):
            if i == 0 and j == n - 1:
                continue
            q0, q1 = pts[j], pts[(j + 1) % n]
            d1 = np.cross(np.subtract(q1, q0), np.subtract(p0, q0))
            d2 = np.cross(np.subtract(q1, q0), np.subtract(p1, q0))
            d3 = np.cross(np.subtract(p1, p0), np.subtract(q0, p0))
            d4 = np.cross(np.subtract(p1, p0), np.subtract(q1, p0))
            if d1 * d2 < 0 and d3 * d4 < 0:
                x = _seg_intersection_point(p0, p1, q0, q1)
                if x is None:
                    continue
                x = (round(x[0], 12), round(x[1], 12))
                tp = abs(x[0] - p0[0]) + abs(x[1] - p0[1])
                tq = abs(x[0] - q0[0]) + abs(x[1] - q0[1])
                inserts.setdefault(i, []).append((tp, x))
                inserts.setdefault(j, []).append((tq, x))
    out: list[tuple[float, float]] = []
    for i in range(n):
        out.append(pts[i])
        for _, x in sorted(inserts.get(i, [])):
            if x != out[-1]:
                out.append(x)
    out.append(out[0])
    return out


def split_ring_simple(ring: np.ndarray) -> list[np.ndarray]:
    """Node a self-intersecting ring and split it into simple loops:
    walk the noded traversal; every time a vertex repeats, the loop
    between the two visits pops out as one sub-ring (how st_makevalid
    decomposes a bowtie into its two triangles). Degenerate loops
    (under 4 points or ~zero area) are discarded."""
    noded = _node_ring(ring)
    key = lambda p: (round(p[0], 12), round(p[1], 12))
    path: list[tuple[float, float]] = []
    pos: dict[tuple, int] = {}
    loops: list[list[tuple[float, float]]] = []
    for p in noded[:-1]:
        k = key(p)
        if k in pos:
            j = pos[k]
            loop = path[j:] + [path[j]]
            for q in path[j + 1 :]:
                pos.pop(key(q), None)
            path = path[: j + 1]
            if len(loop) >= 4:
                loops.append(loop)
        else:
            pos[k] = len(path)
            path.append(p)
    if len(path) >= 3:
        loops.append(path + [path[0]])
    out = []
    for loop in loops:
        arr = np.asarray(loop, dtype="float64")
        if arr.shape[0] >= 4 and abs(ring_signed_area_deg2(arr)) > _AREA_EPS_DEG2:
            out.append(arr)
    return out


def _dedupe_ring(ring: np.ndarray) -> np.ndarray:
    """Collapse consecutive duplicate vertices and re-close."""
    body = ring[:-1]
    keep = np.ones(body.shape[0], dtype=bool)
    keep[1:] = np.any(body[1:] != body[:-1], axis=1)
    body = body[keep]
    return np.vstack([body, body[:1]])


def make_valid_feature(feat: PolyFeature) -> list[PolyFeature]:
    """st_makevalid + st_collectionextract(..., 3) analog: repair one
    polygon part into zero or more VALID parts. Degenerate rings are
    dropped; self-intersecting rings are noded and split into simple
    loops; exteriors are re-oriented CCW (holes CW) and holes
    re-attached to the exterior that contains them. A part that is
    already valid passes through with its coordinates untouched."""
    if feature_is_valid(feat):
        return [feat]

    exteriors: list[np.ndarray] = []
    hole_rings: list[np.ndarray] = []
    for k, ring in enumerate(feat.rings):
        ring = _dedupe_ring(ring)
        if ring.shape[0] < 4:
            continue
        if ring_is_simple(ring):
            # the signed-area degeneracy test only means "zero extent"
            # for SIMPLE rings — a bowtie's lobes cancel to zero signed
            # area yet enclose real area, so non-simple rings go to the
            # noding split instead
            if abs(ring_signed_area_deg2(ring)) <= _AREA_EPS_DEG2:
                continue
            pieces = [ring]
        else:
            # _node_ring only nodes PROPER crossings, so collinear-
            # overlap self-intersections (spikes/backtracks) can
            # survive the split; re-check each piece and drop the ones
            # that are still non-simple so every returned part is
            # genuinely valid (ADVICE r3 #4).
            pieces = [p for p in split_ring_simple(ring) if ring_is_simple(p)]
        for piece in pieces:
            if k == 0:
                exteriors.append(_ensure_ccw(piece))
            else:
                hole_rings.append(_ensure_ccw(piece)[::-1].copy())
    if not exteriors:
        return []
    parts: list[list[np.ndarray]] = [[ext] for ext in exteriors]
    for hole in hole_rings:
        hx = np.array([hole[0, 0]])
        hy = np.array([hole[0, 1]])
        for k, ext in enumerate(exteriors):
            if bool(_ray_cast(hx, hy, ext)[0]):
                parts[k].append(hole)
                break
    # Final validity gate: every returned part must pass
    # feature_is_valid (the docstring's contract). A hole attached by
    # the anchor-inside test can still cross or touch its exterior;
    # retry such parts with only the VALID holes kept (adding holes
    # one at a time and keeping each only if the part stays valid), so
    # one bad hole cannot silently delete its siblings and inflate the
    # repaired area.
    out_parts: list[PolyFeature] = []
    for rings in parts:
        cand = PolyFeature(
            poly_id=feat.poly_id, rings=tuple(rings), props=dict(feat.props)
        )
        if feature_is_valid(cand):
            out_parts.append(cand)
            continue
        kept = [rings[0]]
        for hole in rings[1:]:
            trial = PolyFeature(
                poly_id=feat.poly_id,
                rings=tuple([*kept, hole]),
                props=dict(feat.props),
            )
            if feature_is_valid(trial):
                kept.append(hole)
        repaired = PolyFeature(
            poly_id=feat.poly_id, rings=tuple(kept), props=dict(feat.props)
        )
        if feature_is_valid(repaired):
            out_parts.append(repaired)
    return out_parts


def make_valid(feats: list[PolyFeature]) -> list[PolyFeature]:
    """Repair a multi-part geometry part-by-part."""
    out: list[PolyFeature] = []
    for f in feats:
        out.extend(make_valid_feature(f))
    return out


def canonicalize_ring(ring: np.ndarray) -> np.ndarray:
    """Rotate a closed ring to start at its lexicographically smallest
    (x, y) vertex, preserving orientation. Stitched/dissolved rings
    otherwise start at an arbitrary traversal vertex; canonical
    rotation makes emitted coordinates unique and oracle-statable."""
    body = ring[:-1]
    k = int(np.lexsort((body[:, 1], body[:, 0]))[0])
    rolled = np.roll(body, -k, axis=0)
    return np.vstack([rolled, rolled[:1]])


def canonicalize_feature(feat: PolyFeature) -> PolyFeature:
    return PolyFeature(
        poly_id=feat.poly_id,
        rings=tuple(canonicalize_ring(r) for r in feat.rings),
        props=dict(feat.props),
    )


# ---------------------------------------------------------------------------
# GeoJSON coords emit
# ---------------------------------------------------------------------------


def polygon_coords(feat: PolyFeature) -> list:
    """GeoJSON Polygon 'coordinates' for one part:
    [[ [x, y], ... ] per ring], closure vertex included
    (st_asgeojson(geom)::jsonb -> 'coordinates',
    030_mv_uf_polycoords_polygon_superset.sql:4)."""
    return [[[float(x), float(y)] for x, y in ring] for ring in feat.rings]


def multipolygon_coords(feats: list[PolyFeature]) -> list:
    """GeoJSON MultiPolygon 'coordinates' over the parts."""
    return [polygon_coords(f) for f in feats]


def coords_json(coords: list) -> str:
    """Compact JSON string (the jsonb wire form joined into Spark
    plans as a string column)."""
    return json.dumps(coords, separators=(",", ":"))
