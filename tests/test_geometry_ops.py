"""operators/geometry.py — pure-numpy geometry op unit tests (area,
bbox, mainland, holes, Douglas-Peucker, edge-cancellation dissolve,
poly_coords). No Spark session needed."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest

from inpe_queimadas_etl_spark.operators.geo import make_polygon
from inpe_queimadas_etl_spark.operators.geometry import (
    _DEG_M,
    bbox_center,
    coords_json,
    dissolve,
    drop_holes,
    feature_area_m2,
    feature_npoints,
    features_bbox,
    largest_part,
    multipolygon_coords,
    polygon_coords,
    ring_area_m2,
    ring_signed_area_deg2,
    simplify_feature,
    simplify_ring,
)

from . import fixtures_geo as G


def _square(x0, y0, size):
    return [
        (x0, y0),
        (x0 + size, y0),
        (x0 + size, y0 + size),
        (x0, y0 + size),
        (x0, y0),
    ]


class TestArea:
    def test_signed_area_ccw_positive(self):
        ring = np.array(_square(0, 0, 2), dtype="float64")
        assert ring_signed_area_deg2(ring) == pytest.approx(4.0)
        assert ring_signed_area_deg2(ring[::-1]) == pytest.approx(-4.0)

    def test_area_m2_equator_square(self):
        ring = np.array(_square(0, -0.5, 1.0), dtype="float64")
        # 1 deg^2 anchored at bbox mid-lat 0 -> exactly (111.2 km)^2
        assert ring_area_m2(ring) == pytest.approx(_DEG_M * _DEG_M)

    def test_canonical_ring_rotation(self):
        from inpe_queimadas_etl_spark.operators.geometry import canonicalize_ring

        ring = np.array(
            [(1.0, 1.0), (0.0, 1.0), (0.0, 0.0), (1.0, 0.0), (1.0, 1.0)]
        )
        out = canonicalize_ring(ring)
        assert tuple(out[0]) == (0.0, 0.0)
        assert tuple(out[-1]) == (0.0, 0.0)
        assert ring_signed_area_deg2(out) == pytest.approx(
            ring_signed_area_deg2(ring)
        )

    def test_feature_area_subtracts_holes(self):
        feat = make_polygon("a", _square(0, 0, 10), holes=[_square(2, 2, 1)])
        full = make_polygon("b", _square(0, 0, 10))
        hole = make_polygon("c", _square(2, 2, 1))
        assert feature_area_m2(feat) == pytest.approx(
            feature_area_m2(full) - feature_area_m2(hole), rel=1e-6
        )


class TestBboxMainlandHoles:
    def test_features_bbox_and_center(self):
        feats = [
            make_polygon("a", _square(0, 0, 1)),
            make_polygon("a", _square(5, -3, 2)),
        ]
        bbox = features_bbox(feats)
        assert bbox == (0.0, -3.0, 7.0, 1.0)
        assert bbox_center(bbox) == (-1.0, 3.5)  # (lat, lon)

    def test_largest_part_picks_biggest(self):
        small = make_polygon("x", _square(0, 0, 1))
        big = make_polygon("x", _square(10, 10, 3))
        assert largest_part([small, big]) is big

    def test_largest_part_tie_keeps_first(self):
        a = make_polygon("x", _square(0, 0, 1))
        b = make_polygon("x", _square(5, 5, 1))
        assert largest_part([a, b]) is a

    def test_drop_holes(self):
        feat = make_polygon("a", _square(0, 0, 10), holes=[_square(2, 2, 1)])
        out = drop_holes(feat)
        assert len(out.rings) == 1
        assert feature_npoints(out) == 5
        assert feature_area_m2(out) > feature_area_m2(feat)


class TestSimplify:
    def test_collinear_points_removed(self):
        # square edges subdivided into halves: 8 segments + closure
        pts = [
            (0, 0), (1, 0), (2, 0), (2, 1), (2, 2),
            (1, 2), (0, 2), (0, 1), (0, 0),
        ]
        ring = np.array(pts, dtype="float64")
        out = simplify_ring(ring, tol_deg=1e-9)
        assert out.shape[0] == 5  # 4 corners + closure
        assert ring_signed_area_deg2(out) == pytest.approx(4.0)

    def test_large_tol_keeps_ring_valid(self):
        ring = np.array(_square(0, 0, 1), dtype="float64")
        out = simplify_ring(ring, tol_deg=100.0)
        assert out.shape[0] >= 4  # never degenerates

    def test_zero_tol_identity(self):
        ring = np.array(_square(0, 0, 1), dtype="float64")
        assert simplify_ring(ring, 0.0) is ring

    def test_bump_preserved_above_tol(self):
        pts = [(0, 0), (1, 0), (1.5, 0.5), (2, 0), (2, 2), (0, 2), (0, 0)]
        ring = np.array(pts, dtype="float64")
        out_keep = simplify_ring(ring, tol_deg=0.1)
        assert any((p == (1.5, 0.5)).all() for p in out_keep)
        out_drop = simplify_ring(ring, tol_deg=0.6)
        assert not any((p == (1.5, 0.5)).all() for p in out_drop)

    def test_simplify_feature_all_rings(self):
        pts = [
            (0, 0), (5, 0), (10, 0), (10, 10), (0, 10), (0, 0),
        ]
        feat = make_polygon("a", pts, holes=[_square(1, 1, 2)])
        out = simplify_feature(feat, 1e-9)
        assert out.rings[0].shape[0] == 5
        assert out.rings[1].shape[0] == 5


class TestDissolve:
    def test_grid_tiling_merges_to_one_square(self):
        cells = G.grid_cells(0, 0, 2, 2, 1.0)  # 2x2 unit cells
        out = dissolve(cells, "UF1")
        assert len(out) == 1
        assert out[0].poly_id == "UF1"
        assert len(out[0].rings) == 1
        assert ring_signed_area_deg2(out[0].rings[0]) == pytest.approx(4.0)
        assert features_bbox(out) == (0.0, 0.0, 2.0, 2.0)

    def test_tiling_with_missing_center_gets_hole(self):
        cells = [
            c for c in G.grid_cells(0, 0, 3, 3, 1.0) if c.poly_id != "cell_1_1"
        ]
        out = dissolve(cells, "UF2")
        assert len(out) == 1
        ext, holes = out[0].rings[0], out[0].rings[1:]
        assert ring_signed_area_deg2(ext) == pytest.approx(9.0)
        assert len(holes) == 1
        assert ring_signed_area_deg2(holes[0]) == pytest.approx(-1.0)
        assert feature_area_m2(out[0]) == pytest.approx(
            sum(feature_area_m2(c) for c in cells), rel=1e-3
        )

    def test_disjoint_parts_stay_separate(self):
        a = make_polygon("a", _square(0, 0, 1))
        b = make_polygon("b", _square(10, 0, 1))
        out = dissolve([a, b], "UF3")
        assert len(out) == 2
        assert all(f.poly_id == "UF3" for f in out)

    def test_non_tiling_falls_back_to_collect(self):
        # overlapping squares: edges don't cancel pairwise, chains
        # still stitch per-input -> same ring count as collect
        a = make_polygon("a", _square(0, 0, 2))
        b = make_polygon("b", _square(1, 1, 2))
        out = dissolve([a, b], "UF4")
        assert len(out) == 2  # unmerged collect semantics

    def test_single_feature_passthrough(self):
        a = make_polygon("a", _square(0, 0, 2))
        out = dissolve([a], "UF5")
        assert len(out) == 1 and out[0].poly_id == "UF5"

    def test_l_shape_union(self):
        cells = [
            make_polygon("a", _square(0, 0, 1)),
            make_polygon("b", _square(1, 0, 1)),
            make_polygon("c", _square(0, 1, 1)),
        ]
        out = dissolve(cells, "L")
        assert len(out) == 1
        assert ring_signed_area_deg2(out[0].rings[0]) == pytest.approx(3.0)


class TestPolyCoords:
    def test_polygon_coords_roundtrip(self):
        feat = make_polygon("a", _square(0, 0, 1), holes=[])
        coords = polygon_coords(feat)
        assert coords == [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 1.0], [0.0, 0.0]]]
        s = coords_json(coords)
        assert json.loads(s) == coords

    def test_sanitizer_accepts_emitted_coords(self):
        from inpe_queimadas_etl_spark.functions.geojson import normalize_poly_coords

        feat = make_polygon("a", _square(0, 0, 1), holes=[_square(0.2, 0.2, 0.5)])
        gtype, coords = normalize_poly_coords(polygon_coords(feat))
        assert gtype == "Polygon"
        assert len(coords) == 2

        multi = multipolygon_coords([feat, make_polygon("a", _square(3, 3, 1))])
        gtype, coords = normalize_poly_coords(multi)
        assert gtype == "MultiPolygon"
        assert len(coords) == 2


class TestValidity:
    """st_isvalid / st_makevalid analogs (reference main.py:700-760:
    base_geom = collectionextract(makevalid(unaryunion(collect)), 3))."""

    def test_simple_square_is_valid(self):
        from inpe_queimadas_etl_spark.operators.geometry import feature_is_valid

        assert feature_is_valid(make_polygon("a", _square(0, 0, 1)))

    def test_holed_square_is_valid(self):
        from inpe_queimadas_etl_spark.operators.geometry import feature_is_valid

        feat = make_polygon("a", _square(0, 0, 3), holes=[_square(1, 1, 1)])
        assert feature_is_valid(feat)

    def test_bowtie_is_invalid(self):
        from inpe_queimadas_etl_spark.operators.geometry import (
            feature_is_valid,
            ring_is_simple,
        )

        bowtie = make_polygon("a", [(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)])
        assert not ring_is_simple(bowtie.rings[0])
        assert not feature_is_valid(bowtie)

    def test_hole_outside_exterior_is_invalid(self):
        from inpe_queimadas_etl_spark.operators.geometry import feature_is_valid

        feat = make_polygon("a", _square(0, 0, 1), holes=[_square(5, 5, 1)])
        assert not feature_is_valid(feat)

    def test_degenerate_ring_is_invalid(self):
        from inpe_queimadas_etl_spark.operators.geometry import ring_is_valid

        line = np.array([(0, 0), (1, 0), (2, 0), (0, 0)], dtype="float64")
        assert not ring_is_valid(line)

    def test_large_simple_ring_stays_valid(self):
        """Blocked pair test on a ring bigger than one block."""
        from inpe_queimadas_etl_spark.operators.geometry import ring_is_simple

        t = np.linspace(0.0, 2 * np.pi, 1500)[:-1]
        ring = np.column_stack([np.cos(t), np.sin(t)])
        ring = np.vstack([ring, ring[:1]])
        assert ring_is_simple(ring)

    def test_makevalid_splits_bowtie(self):
        from inpe_queimadas_etl_spark.operators.geometry import (
            feature_is_valid,
            make_valid_feature,
            ring_signed_area_deg2,
        )

        bowtie = make_polygon("a", [(0, 0), (2, 2), (2, 0), (0, 2), (0, 0)])
        parts = make_valid_feature(bowtie)
        assert len(parts) == 2
        areas = sorted(
            abs(ring_signed_area_deg2(p.rings[0])) for p in parts
        )
        assert areas == pytest.approx([1.0, 1.0])
        for p in parts:
            assert feature_is_valid(p)
            # exterior re-oriented CCW
            assert ring_signed_area_deg2(p.rings[0]) > 0

    def test_makevalid_every_returned_part_is_valid(self):
        """ADVICE r3 #4: _node_ring only nodes proper crossings, so a
        collinear backtrack (spike) survives the split still
        non-simple — make_valid_feature must drop such pieces rather
        than return an invalid 'repaired' part."""
        from inpe_queimadas_etl_spark.operators.geometry import (
            feature_is_valid,
            make_valid_feature,
        )

        # segment (2,0)->(1,0) backtracks along the first edge:
        # collinear overlap, not a proper crossing
        spike = make_polygon(
            "s", [(0, 0), (2, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
        )
        assert not feature_is_valid(spike)
        parts = make_valid_feature(spike)
        for p in parts:
            assert feature_is_valid(p)

    def test_makevalid_keeps_valid_holes_when_one_is_bad(self):
        """One invalid (self-intersecting) hole must not delete its
        valid siblings (review finding: an exterior-only retry would
        drop every hole and silently inflate the repaired area): the
        bowtie hole is noded and split while both valid holes survive
        in the repaired part."""
        from inpe_queimadas_etl_spark.operators.geometry import (
            feature_is_valid,
            make_valid_feature,
            ring_signed_area_deg2,
        )

        good1 = [(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]
        good2 = [(3, 3), (4, 3), (4, 4), (3, 4), (3, 3)]
        bowtie = [(6, 6), (8, 8), (8, 6), (6, 8), (6, 6)]  # non-simple
        feat = make_polygon(
            "h", _square(0, 0, 10), holes=[good1, good2, bowtie]
        )
        assert not feature_is_valid(feat)
        parts = make_valid_feature(feat)
        assert len(parts) == 1
        out = parts[0]
        assert feature_is_valid(out)
        # exterior + the two valid holes + the bowtie's split pieces
        assert len(out.rings) >= 4
        hole_areas = sorted(
            round(abs(ring_signed_area_deg2(r)), 6) for r in out.rings[1:]
        )
        assert hole_areas.count(1.0) >= 2  # both 1x1 holes survived

    def test_makevalid_passthrough_keeps_coords(self):
        from inpe_queimadas_etl_spark.operators.geometry import make_valid_feature

        feat = make_polygon("a", _square(0, 0, 1))
        out = make_valid_feature(feat)
        assert len(out) == 1
        assert np.array_equal(out[0].rings[0], feat.rings[0])

    def test_makevalid_drops_degenerate_hole(self):
        from inpe_queimadas_etl_spark.operators.geometry import (
            feature_is_valid,
            make_valid_feature,
        )

        feat = make_polygon(
            "a", _square(0, 0, 3),
            holes=[[(1, 1), (2, 1), (1, 1)]],  # zero-area sliver
        )
        out = make_valid_feature(feat)
        assert len(out) == 1
        assert len(out[0].rings) == 1
        assert feature_is_valid(out[0])

    def test_shape_metrics_repairs_bowtie(self):
        """geo_shape_metrics on an invalid fixture: repair runs before
        the before-metrics (reference pipeline order), so both validity
        flags are True and the metrics describe the repaired parts."""
        from inpe_queimadas_etl_spark.geoqueries import geo_shape_metrics

        bowtie = make_polygon("C", [(30, 0), (32, 2), (32, 0), (30, 2), (30, 0)])
        m = geo_shape_metrics([bowtie], "C", simplify=False)
        assert m["is_valid_before"] is True
        assert m["is_valid_after"] is True
        assert m["geometry"]["type"] == "MultiPolygon"
        assert len(m["geometry"]["coordinates"]) == 2
        # two unit triangles at mid-lat 1 degree
        expected = 2.0 * _DEG_M * _DEG_M * math.cos(math.radians(1.0))
        assert m["area_m2_union_after"] == pytest.approx(expected, rel=1e-9)
