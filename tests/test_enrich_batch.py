"""The fused enrichment batch function (enrich.enrich_batch) against a
brute-force oracle written here from the reference's rules
(sql/enrich/20_enrich_municipio.sql, 21_enrich_biomas_ucs_tis.sql):

- every dimension is first-match: an even-odd test over every feature
  in poly_id string order (so 'm10' beats 'm9'), holes and multi-part
  features sharing an id included;
- a municipality miss falls back to the nearest municipality boundary
  within 2 km on the local equirectangular projection, ties to the
  lowest id;
- names and uf come from the first feature of an id, the area from
  the first area_km2 seen, else the summed geodesic area of the parts;
- non-finite coordinates get nothing; every row is checked.

Points within 1 m of the 2 km radius are skipped (the two sides take
cos(lat) from different libraries). Spark-free."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from inpe_queimadas_etl_spark.enrich import KNN_RADIUS_M, enrich_batch, enrich_dims
from inpe_queimadas_etl_spark.operators.geo import EARTH_RADIUS_M, PolyFeature
from inpe_queimadas_etl_spark.operators.geometry import feature_area_m2

DEG_M = math.pi / 180.0 * EARTH_RADIUS_M
# a few km around (-50, -10): polygons of 1-10 km, so points land
# inside, in holes, near edges and far away
X0, Y0, SPAN = -50.0, -10.0, 0.15

# id pools whose string order differs from their numeric order
MUN_IDS = ["m1", "m2", "m9", "m10", "m11"]
BIOMA_IDS = ["B1", "B9", "B10"]
UC_IDS = ["U2", "U10"]
TI_IDS = ["T3", "T30", "T4"]

# offsets around the KNN radius, sampled evenly (float draws crowd
# the ends of a range)
NEAR_RADIUS_M = np.arange(1900.0, 2100.0, 0.5)

names = st.one_of(st.none(), st.text(max_size=3), st.integers(-5, 5))


@st.composite
def ring_parts(draw):
    """A star-shaped exterior around a centre (possibly concave), and
    maybe a hole: the exterior scaled down about the same centre, so
    the hole lies strictly inside."""
    cx = X0 + draw(st.floats(0.0, SPAN))
    cy = Y0 + draw(st.floats(0.0, SPAN))
    k = draw(st.integers(3, 7))
    # vertices all round the centre, no angular gap of 180 degrees or
    # more: the centre stays inside (so does the scaled hole), and no
    # sliver shrinks the grid index's cell to nothing
    gaps = np.array(draw(st.lists(st.floats(1.0, 1.5), min_size=k, max_size=k)))
    turns = np.concatenate([[0.0], np.cumsum(gaps)[:-1]]) / gaps.sum()
    angles = draw(st.floats(0.0, math.pi)) + 2 * math.pi * turns
    radii = np.array(draw(st.lists(st.floats(0.01, 0.05), min_size=k, max_size=k)))
    ext = np.stack([cx + radii * np.cos(angles), cy + radii * np.sin(angles)], axis=1)
    ext = np.vstack([ext, ext[:1]])
    rings = [ext]
    if draw(st.booleans()):
        scale = draw(st.floats(0.2, 0.6))
        rings.append(np.array([cx, cy]) + (ext - [cx, cy]) * scale)
    return tuple(rings)


@st.composite
def layer(draw, ids, prop, max_size=6, area=False):
    feats = []
    for _ in range(draw(st.integers(0, max_size))):
        props = {prop: draw(names)}
        if area:
            props["uf"] = draw(st.sampled_from(["AA", "BB", None]))
            props["area_km2"] = draw(
                st.one_of(st.none(), st.integers(0, 10**7).map(lambda v: v / 1000))
            )
        # sometimes an earlier feature's exact rings: equal distances
        # whose tie must go to the lowest id
        if feats and draw(st.integers(0, 3)) == 0:
            rings = draw(st.sampled_from(feats)).rings
        else:
            rings = draw(ring_parts())
        feats.append(PolyFeature(draw(st.sampled_from(ids)), rings, props))
    return feats


@st.composite
def points(draw, muns):
    """Uniform points; points up to 4 km either side of a municipality
    edge (half of them 1.9-2.1 km outside it, around the KNN radius),
    offset along the edge normal on the equirectangular projection;
    and non-finite coordinates."""
    pts = [
        (X0 + draw(st.floats(-0.05, SPAN + 0.05)), Y0 + draw(st.floats(-0.05, SPAN + 0.05)))
        for _ in range(draw(st.integers(0, 15)))
    ]
    for _ in range(draw(st.integers(0, 15)) if muns else 0):
        ring = draw(st.sampled_from([r for f in muns for r in f.rings]))
        k = draw(st.integers(0, len(ring) - 2))
        (ax, ay), (bx, by) = ring[k], ring[k + 1]
        t = draw(st.floats(0.0, 1.0))
        px, py = ax + t * (bx - ax), ay + t * (by - ay)
        c = math.cos(math.radians(py))
        ex, ey = (bx - ax) * c, by - ay
        nx, ny = ey / math.hypot(ex, ey), -ex / math.hypot(ex, ey)
        cx, cy = ring[:-1].mean(axis=0)
        if nx * (px - cx) * c + ny * (py - cy) < 0:  # point away from the centre
            nx, ny = -nx, -ny
        d = draw(st.one_of(st.floats(-4000.0, 4000.0), st.sampled_from(NEAR_RADIUS_M)))
        pts.append((px + d * nx / (DEG_M * c), py + d * ny / DEG_M))
    for _ in range(draw(st.integers(0, 3))):
        pts.append(draw(st.sampled_from([(math.nan, Y0), (X0, math.nan),
                                         (math.inf, Y0), (math.nan, math.nan)])))
    return pts


def _inside(x: float, y: float, feat: PolyFeature) -> bool:
    inside = False
    for ring in feat.rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            if (ay > y) != (by > y) and x < ax + (y - ay) * (bx - ax) / (by - ay):
                inside = not inside
    return inside


def _distance_m(x: float, y: float, feat: PolyFeature) -> float:
    """Distance to the nearest segment of any ring, equirectangular at
    the point's latitude."""
    c = math.cos(math.radians(y))
    best = math.inf
    for ring in feat.rings:
        for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
            sx, sy, wx, wy = (bx - ax) * c, by - ay, (x - ax) * c, y - ay
            seg2 = sx * sx + sy * sy
            t = min(max((wx * sx + wy * sy) / seg2, 0.0), 1.0) if seg2 > 0 else 0.0
            dx, dy = wx - t * sx, wy - t * sy
            best = min(best, dx * dx + dy * dy)
    return math.sqrt(best) * DEG_M


def _first_match(x, y, feats):
    for f in sorted(feats, key=lambda f: f.poly_id):
        if _inside(x, y, f):
            return f.poly_id
    return None


def _nearest(x, y, feats):
    """(id, distance) of the nearest feature, ties to the lowest id."""
    best_id, best_d = None, math.inf
    for f in sorted(feats, key=lambda f: f.poly_id):
        d = 0.0 if _inside(x, y, f) else _distance_m(x, y, f)
        if d < best_d:
            best_id, best_d = f.poly_id, d
    return best_id, best_d


def _first_prop(feats, pid, prop):
    v = next(f.props.get(prop) for f in feats if f.poly_id == pid)
    return None if v is None else str(v)


def _area(feats, pid):
    parts = [f for f in feats if f.poly_id == pid]
    attrs = [f.props["area_km2"] for f in parts if f.props["area_km2"] is not None]
    if attrs:
        return round(float(attrs[0]), 3)
    return round(sum(feature_area_m2(f) / 1e6 for f in parts), 3)


@settings(
    max_examples=150,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    muns=layer(MUN_IDS, "nm_mun", area=True),
    biomas=layer(BIOMA_IDS, "bioma", max_size=3),
    ucs=layer(UC_IDS, "nome_uc", max_size=3),
    tis=layer(TI_IDS, "terrai_nom", max_size=3),
    data=st.data(),
)
def test_enrich_batch_matches_brute_force(muns, biomas, ucs, tis, data):
    pts = data.draw(points(muns))
    pdf = pd.DataFrame(
        {
            "event_hash": [f"h{i}" for i in range(len(pts))],
            "lat": [p[1] for p in pts],
            "lon": [p[0] for p in pts],
        }
    )
    out = enrich_batch(pdf, enrich_dims(muns, biomas, ucs, tis))

    assert list(out.columns) == (
        ["terrai_cod", "cd_cnuc", "cd_bioma", "mun_cd_mun", "event_hash", "lat", "lon"]
        + ["mun_nm_mun", "mun_uf", "mun_area_km2", "mun_checked", "bioma_enr",
           "bioma_checked", "uc_nome", "uc_checked", "ti_nome", "ti_checked"]
    )
    pd.testing.assert_frame_equal(out[["event_hash", "lat", "lon"]], pdf)
    dims = [
        ("cd_bioma", "bioma_enr", biomas, "bioma"),
        ("cd_cnuc", "uc_nome", ucs, "nome_uc"),
        ("terrai_cod", "ti_nome", tis, "terrai_nom"),
    ]
    for (x, y), row in zip(pts, out.to_dict("records")):
        for flag in ("mun_checked", "bioma_checked", "uc_checked", "ti_checked"):
            assert row[flag] is True
        if not (math.isfinite(x) and math.isfinite(y)):
            for col in ("mun_cd_mun", "cd_bioma", "cd_cnuc", "terrai_cod"):
                assert row[col] is None
            continue

        mun = _first_match(x, y, muns)
        if mun is None:
            near, d = _nearest(x, y, muns)
            if abs(d - KNN_RADIUS_M) < 1.0:
                continue
            mun = near if d <= KNN_RADIUS_M else None
        assert row["mun_cd_mun"] == mun, (x, y)
        if mun is None:
            assert row["mun_nm_mun"] is None and row["mun_uf"] is None
            assert math.isnan(row["mun_area_km2"])
        else:
            assert row["mun_nm_mun"] == _first_prop(muns, mun, "nm_mun")
            assert row["mun_uf"] == _first_prop(muns, mun, "uf")
            assert row["mun_area_km2"] == _area(muns, mun)

        for id_col, name_col, feats, prop in dims:
            pid = _first_match(x, y, feats)
            assert row[id_col] == pid, (id_col, x, y)
            want = None if pid is None else _first_prop(feats, pid, prop)
            assert row[name_col] == want, (name_col, x, y)
