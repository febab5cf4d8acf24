"""Kernel parity tests against the reference's literal unit geometries
(FIXTURES.md §4; citations into /root/reference/tests/)."""

import numpy as np
import pytest

from geokitten_spark.geom import (
    Geometry,
    GeomKind,
    parse_wkt,
    to_wkt,
    drop_z,
    remove_holes,
    standardize_geometry,
    geometry_area,
    mercator_area,
    centroid,
    interior_point,
    point_in_polygon,
    repair_bowtie,
    intersects,
    difference,
    transform_xy,
    STRtree,
)


# ---- WKT codec -----------------------------------------------------------

@pytest.mark.parametrize(
    "wkt",
    [
        "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), ((2 2, 2 3, 3 3, 3 2, 2 2)))",
        "POINT (0.5 0.5)",
        "POINT EMPTY",
        "POLYGON EMPTY",
        "POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))",
    ],
)
def test_wkt_roundtrip(wkt):
    assert to_wkt(parse_wkt(wkt)) == wkt


def test_wkt_z():
    g = parse_wkt("POLYGON Z ((0 0 1, 0 1 1, 1 1 1, 1 0 1, 0 0 1))")
    assert g.parts[0][0].shape == (5, 3)


# ---- Z drop + promotions (gdf_standardization_test_suite.py:567-676) ----

def test_drop_z_polygon():
    g = parse_wkt("POLYGON Z ((0 0 1, 0 1 1, 1 1 1, 1 0 1, 0 0 1))")
    out = drop_z(g)
    assert out.parts[0][0].shape == (5, 2)
    assert to_wkt(out) == "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"


def test_drop_z_multipolygon():
    g = parse_wkt(
        "MULTIPOLYGON Z (((0 0 1, 0 1 1, 1 1 1, 1 0 1, 0 0 1)),"
        " ((2 2 1, 2 3 1, 3 3 1, 3 2 1, 2 2 1)))"
    )
    out = drop_z(g)
    assert all(r.shape[1] == 2 for rings in out.parts for r in rings)


def test_linear_ring_promotion():
    g = parse_wkt("LINEARRING (0 0, 0 1, 1 1, 1 0, 0 0)")
    out = drop_z(g)
    assert out.kind == GeomKind.POLYGON


def test_ring_collection_promotion():
    g = parse_wkt(
        "GEOMETRYCOLLECTION (LINEARRING (0 0, 0 1, 1 1, 1 0, 0 0),"
        " LINEARRING (2 2, 2 3, 3 3, 3 2, 2 2))"
    )
    out = drop_z(g)
    assert out.kind == GeomKind.MULTIPOLYGON
    assert len(out.parts) == 2


def test_point_passthrough():
    g = parse_wkt("POINT (0 0)")
    assert drop_z(g).kind == GeomKind.POINT


def test_empty_passthrough():
    g = parse_wkt("POLYGON EMPTY")
    assert drop_z(g).is_empty
    assert remove_holes(g).is_empty


# ---- hole removal (gdf_standardization_test_suite.py:327-425) -----------

def test_remove_holes_10x10_square():
    """10×10 square with 3–7 hole: result has one ring, zero holes, and area
    equal to outer − hole (the cut has zero width)."""
    g = parse_wkt("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))")
    out = remove_holes(g)
    assert len(out.parts[0]) == 1
    ring = out.parts[0][0]
    assert tuple(ring[0]) == tuple(ring[-1])  # closed
    assert geometry_area(out) == pytest.approx(100 - 16)
    # greedy cut duplicates the bridge vertices (SURVEY §2.12.5)
    assert len(ring) > 5 + 5


def test_remove_holes_exact_sequence():
    """Pin the exact output vertex sequence of the reference algorithm:
    nearest (ext, hole) pair by first-minimum scan order; hole traversed in
    reverse; cut replaces matched exterior vertex (gdf_standardization.py:
    272-304). For the 10×10 / 3–7 case the first global-min pair is
    ext (0,0)–hole (3,3)."""
    g = parse_wkt("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))")
    out = remove_holes(g)
    seq = [tuple(p) for p in out.parts[0][0]]
    # reference-exact expansion:
    # curr_ext = [(0,0),(0,10),(10,10),(10,0),(0,0)] ; hole = [(3,3),(3,7),(7,7),(7,3),(3,3)]
    # nearest pair = ((0,0),(3,3)) at both ends; insert at first (0,0)
    # ordered_hole = [(3,3)] + hole[-1::-1] + [] = [(3,3),(3,3),(7,3),(7,7),(3,7),(3,3)]
    expected = [
        (0.0, 0.0),
        (3.0, 3.0), (3.0, 3.0), (7.0, 3.0), (7.0, 7.0), (3.0, 7.0), (3.0, 3.0),
        (0.0, 0.0),
        (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0),
    ]
    assert seq == expected


def test_remove_holes_z_then_geni():
    g = parse_wkt(
        "POLYGON Z ((0 0 1, 0 10 1, 10 10 1, 10 0 1, 0 0 1),"
        " (3 3 1, 3 7 1, 7 7 1, 7 3 1, 3 3 1))"
    )
    out = standardize_geometry(g, remove_geni=True)
    assert len(out.parts[0]) == 1
    assert out.parts[0][0].shape[1] == 2


def test_remove_holes_multi_hole_greedy():
    g = parse_wkt(
        "POLYGON ((0 0, 0 20, 20 20, 20 0, 0 0),"
        " (2 2, 2 4, 4 4, 4 2, 2 2), (15 15, 15 17, 17 17, 17 15, 15 15))"
    )
    out = remove_holes(g)
    assert len(out.parts[0]) == 1
    assert geometry_area(out) == pytest.approx(400 - 4 - 4)


# ---- area (gdf_standardization_test_suite.py:1032-1071) -----------------

def test_area_m2_km2_ratio():
    """m²/km² ratio is exactly 10^6 (divisor at gdf_standardization.py:1160)."""
    g = parse_wkt("POLYGON ((-75.6 6.2, -75.6 6.3, -75.5 6.3, -75.5 6.2, -75.6 6.2))")
    m2 = mercator_area(g, km2=False)
    km2 = mercator_area(g, km2=True)
    assert m2 / km2 == pytest.approx(1e6, rel=1e-9)
    assert m2 > 0


def test_area_is_mercator_not_geodesic():
    """Mercator-plane semantics (SURVEY §2.12.3): a 1°×1° square at 60°N has
    LARGER Mercator area than at the equator (no cos(lat) shrink)."""
    eq = mercator_area(parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"))
    north = mercator_area(parse_wkt("POLYGON ((0 60, 0 61, 1 61, 1 60, 0 60))"))
    assert north > eq


def test_worldmercator_roundtrip():
    lon = np.array([-75.5, 0.0, 120.3])
    lat = np.array([6.25, 45.0, -33.0])
    x, y = transform_xy(lon, lat, "EPSG:4326", "EPSG:3395")
    lon2, lat2 = transform_xy(x, y, "EPSG:3395", "EPSG:4326")
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_webmercator_roundtrip():
    lon = np.array([-75.5])
    lat = np.array([6.25])
    x, y = transform_xy(lon, lat, "EPSG:4326", "EPSG:3857")
    lon2, lat2 = transform_xy(x, y, "EPSG:3857", "EPSG:4326")
    np.testing.assert_allclose([lon2[0], lat2[0]], [lon[0], lat[0]], atol=1e-9)


# ---- interior point (gdf_standardization_test_suite.py:65-85) -----------

def test_interior_point_unit_square_is_centroid():
    g = parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))")
    p = interior_point(g)
    assert p.coords[0][0] == pytest.approx(0.5)
    assert p.coords[0][1] == pytest.approx(0.5)


def test_interior_point_empty():
    assert interior_point(parse_wkt("POLYGON EMPTY")).is_empty
    assert interior_point(None).is_empty


def test_interior_point_c_shape_falls_back_inside():
    """C-shaped polygon whose centroid is outside → representative-point
    fallback must land strictly inside (gdf_standardization.py:671-675)."""
    g = parse_wkt(
        "POLYGON ((0 0, 0 10, 10 10, 10 8, 2 8, 2 2, 10 2, 10 0, 0 0))"
    )
    c = centroid(g)
    assert not point_in_polygon(c[0], c[1], g)
    p = interior_point(g)
    x, y = p.coords[0]
    assert point_in_polygon(x, y, g)


def test_centroid_with_hole():
    g = parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0), (1 1, 1 2, 2 2, 2 1, 1 1))")
    c = centroid(g)
    # hole pulls centroid away from (2,2) toward the +x/+y side
    assert c[0] > 2.0 and c[1] > 2.0


# ---- PIP -----------------------------------------------------------------

def test_pip_basic():
    g = parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))")
    assert point_in_polygon(0.5, 0.5, g)
    assert not point_in_polygon(1.5, 0.5, g)


def test_pip_hole():
    g = parse_wkt("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0), (3 3, 3 7, 7 7, 7 3, 3 3))")
    assert point_in_polygon(1, 1, g)
    assert not point_in_polygon(5, 5, g)  # inside the hole


# ---- validity repair (bowtie; test_suite.py:880-887) --------------------

def test_repair_bowtie():
    g = parse_wkt("POLYGON ((0 0, 1 1, 0 1, 1 0, 0 0))")
    out = repair_bowtie(g)
    assert out.kind == GeomKind.MULTIPOLYGON
    assert len(out.parts) == 2
    # two congruent triangles, total area 1/2 * base * height * 2 = 0.25+0.25
    assert geometry_area(out) == pytest.approx(0.5)


def test_repair_bowtie_large():
    g = parse_wkt("POLYGON ((0 0, 10 10, 0 10, 10 0, 0 0))")
    out = repair_bowtie(g)
    assert geometry_area(out) == pytest.approx(50.0)


def test_repair_valid_unchanged():
    g = parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))")
    assert repair_bowtie(g) is g


def test_repair_first_and_last_edge_count_as_adjacent():
    """Even on an unclosed ring, edges 0 and n−1 are never tested against
    each other (here they cross at (1, 1)), so nothing is repaired."""
    ring = np.array([[0, 0], [2, 2], [3, 2], [3, -1], [0, 2]], dtype=np.float64)
    g = Geometry(GeomKind.POLYGON, parts=[[ring]])
    assert repair_bowtie(g) is g


# ---- intersects + difference (overlap pair, FIXTURES.md §4) -------------

def test_intersects_overlap_pair():
    a = parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    b = parse_wkt("POLYGON ((2 2, 2 6, 6 6, 6 2, 2 2))")
    c = parse_wkt("POLYGON ((10 10, 10 11, 11 11, 11 10, 10 10))")
    assert intersects(a, b)
    assert not intersects(a, c)


def test_difference_overlap_squares():
    a = parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    b = parse_wkt("POLYGON ((2 2, 2 6, 6 6, 6 2, 2 2))")
    out = difference(a, b)
    assert geometry_area(out) == pytest.approx(16 - 4)  # L-shape
    # all result vertices stay within the target bbox
    xmin, ymin, xmax, ymax = out.bbox()
    assert xmin >= 0 and ymin >= 0 and xmax <= 4 and ymax <= 4


def test_difference_disjoint_returns_target():
    a = parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    c = parse_wkt("POLYGON ((10 10, 10 11, 11 11, 11 10, 10 10))")
    assert difference(a, c) is a  # intersects prefilter short-circuits (:965)


def test_difference_contained_creates_hole():
    a = parse_wkt("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))")
    b = parse_wkt("POLYGON ((3 3, 3 7, 7 7, 7 3, 3 3))")
    out = difference(a, b)
    assert geometry_area(out) == pytest.approx(100 - 16)
    assert len(out.parts[0]) == 2  # exterior + hole


def test_difference_swallowed_is_empty():
    a = parse_wkt("POLYGON ((3 3, 3 4, 4 4, 4 3, 3 3))")
    b = parse_wkt("POLYGON ((0 0, 0 10, 10 10, 10 0, 0 0))")
    out = difference(a, b)
    assert out.is_empty


def test_difference_hexagons():
    """General-position hexagon overlap (the FIXTURES admin_polygons case)."""
    import math
    def hexagon(cx, cy, r):
        pts = [(cx + r * math.cos(a), cy + r * math.sin(a))
               for a in [i * math.pi / 3 for i in range(6)]]
        return pts + [pts[0]]
    from geokitten_spark.geom.model import polygon as mk
    a = mk(hexagon(0, 0, 1.0))
    b = mk(hexagon(0.9, 0.3, 1.0))
    out = difference(a, b)
    area_a = geometry_area(a)
    assert 0 < geometry_area(out) < area_a


# ---- segment_crossings vs the scalar edge-pair loop it replaced ----------

def _scalar_tu(p0, p1, q0, q1):
    """One edge pair, scalar float64 — the formula the kernel vectorizes."""
    d1 = p1 - p0
    d2 = q1 - q0
    denom = d1[0] * d2[1] - d1[1] * d2[0]
    if denom == 0.0:
        return None
    t = ((q0[0] - p0[0]) * d2[1] - (q0[1] - p0[1]) * d2[0]) / denom
    u = ((q0[0] - p0[0]) * d1[1] - (q0[1] - p0[1]) * d1[0]) / denom
    if 0.0 < t < 1.0 and 0.0 < u < 1.0:
        return t, u
    return None


def _loop_crossings(p0, p1, q0, q1):
    """Oracle: row-major double loop over every edge pair."""
    hits = []
    with np.errstate(all="ignore"):
        for i in range(len(p0)):
            for j in range(len(q0)):
                tu = _scalar_tu(p0[i], p1[i], q0[j], q1[j])
                if tu is not None:
                    hits.append((i, j, *tu))
    cols = list(zip(*hits)) or [(), (), (), ()]
    return (np.array(cols[0], dtype=np.intp), np.array(cols[1], dtype=np.intp),
            np.array(cols[2], dtype=np.float64), np.array(cols[3], dtype=np.float64))


def _assert_same_crossings(got, want):
    assert got[0].tolist() == want[0].tolist()
    assert got[1].tolist() == want[1].tolist()
    assert got[2].tobytes() == want[2].tobytes()  # t bit-for-bit
    assert got[3].tobytes() == want[3].tobytes()  # u bit-for-bit


def _edges(ring):
    r = np.asarray(ring, dtype=np.float64)
    return r[:-1], r[1:]


def _star(rng, cx, cy, r, n, shuffle=0):
    """Closed star-shaped ring; ``shuffle`` swaps vertex pairs to make it
    self-crossing."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * rng.uniform(0.5, 1.5, n)
    xy = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    for _ in range(shuffle):
        a, b = rng.integers(0, n, 2)
        xy[[a, b]] = xy[[b, a]]
    return np.vstack([xy, xy[:1]])


def _same_geometry(a, b):
    assert a.kind == b.kind
    assert len(a.parts) == len(b.parts)
    for ra, rb in zip(a.parts, b.parts):
        assert [np.asarray(r).tobytes() for r in ra] == [np.asarray(r).tobytes() for r in rb]


def test_segment_crossings_matches_loop_on_random_rings():
    from geokitten_spark.geom.kernels import segment_crossings

    rng = np.random.default_rng(11)
    for k in range(40):
        a = _star(rng, 0, 0, 1.0, int(rng.integers(3, 60)), shuffle=k % 4)
        b = _star(rng, rng.uniform(-1, 1), rng.uniform(-1, 1), 1.0, int(rng.integers(3, 60)))
        _assert_same_crossings(segment_crossings(*_edges(a), *_edges(a)), _loop_crossings(*_edges(a), *_edges(a)))
        _assert_same_crossings(segment_crossings(*_edges(a), *_edges(b)), _loop_crossings(*_edges(a), *_edges(b)))


def test_segment_crossings_degenerate_edges():
    from geokitten_spark.geom.kernels import segment_crossings

    nan = float("nan")
    cases = {
        # (p0, p1, q0, q1) edge lists; expected (i, j) hits
        "proper": ([[0, 0]], [[2, 2]], [[0, 2]], [[2, 0]], [(0, 0)]),
        "collinear_overlap": ([[0, 0]], [[2, 0]], [[1, 0]], [[3, 0]], []),
        "shared_endpoint": ([[0, 0]], [[1, 1]], [[1, 1]], [[2, 0]], []),
        "t_junction": ([[0, 0]], [[2, 0]], [[1, 0]], [[1, 1]], []),
        "zero_length": ([[1, 1], [0, 0]], [[1, 1], [2, 2]], [[1, 1], [0, 2]], [[1, 1], [2, 0]], [(1, 1)]),
        "nan": ([[nan, 0], [0, 0]], [[2, 2], [2, 2]], [[0, 2], [0, nan]], [[2, 0], [2, 0]], [(1, 0)]),
    }
    for name, (p0, p1, q0, q1, want) in cases.items():
        p0, p1, q0, q1 = (np.array(e, dtype=np.float64) for e in (p0, p1, q0, q1))
        got = segment_crossings(p0, p1, q0, q1)
        _assert_same_crossings(got, _loop_crossings(p0, p1, q0, q1))
        assert list(zip(got[0].tolist(), got[1].tolist())) == want, name
    # rounded random rings: many collinear runs and shared vertices
    rng = np.random.default_rng(3)
    for _ in range(30):
        r = np.round(rng.uniform(0, 4, size=(int(rng.integers(3, 25)), 2)))
        r = np.vstack([r, r[:1]])
        _assert_same_crossings(segment_crossings(*_edges(r), *_edges(r)), _loop_crossings(*_edges(r), *_edges(r)))
    empty = np.empty((0, 2))
    assert all(len(c) == 0 for c in segment_crossings(empty, empty, *_edges(r)))
    assert all(len(c) == 0 for c in segment_crossings(*_edges(r), empty, empty))


def test_segment_crossings_block_path(monkeypatch):
    from geokitten_spark.geom import kernels

    rng = np.random.default_rng(5)
    a = _star(rng, 0, 0, 1.0, 50, shuffle=6)
    b = _star(rng, 0.3, 0.2, 1.0, 40, shuffle=3)
    want = _loop_crossings(*_edges(a), *_edges(b))
    assert len(want[0]) > 10
    for block in (1, 7, 39, 41, 200):
        monkeypatch.setattr(kernels, "_CROSSING_BLOCK_PAIRS", block)
        _assert_same_crossings(kernels.segment_crossings(*_edges(a), *_edges(b)), want)


def _loop_phase1(subj_head, clip_head):
    """Oracle: the scalar per-edge-pair crossing insertion over the
    linked-list rings (skips already-inserted intersections)."""
    from geokitten_spark.geom.clip import _V, _insert_sorted, _iter_ring

    count = 0
    subj_edges = [(v, v.next) for v in _iter_ring(subj_head) if not v.intersect]
    clip_edges = [(w, w.next) for w in _iter_ring(clip_head) if not w.intersect]
    for s0, s1 in subj_edges:
        s_end = s1
        while s_end.intersect:
            s_end = s_end.next
        p0, p1 = np.array(s0.xy), np.array(s_end.xy)
        for c0, c1 in clip_edges:
            c_end = c1
            while c_end.intersect:
                c_end = c_end.next
            tu = _scalar_tu(p0, p1, np.array(c0.xy), np.array(c_end.xy))
            if tu is not None:
                pt = p0 + tu[0] * (p1 - p0)
                vs = _V(pt, alpha=tu[0], intersect=True)
                vc = _V(pt, alpha=tu[1], intersect=True)
                vs.neighbor = vc
                vc.neighbor = vs
                _insert_sorted(s0, vs)
                _insert_sorted(c0, vc)
                count += 1
    return count


def test_crossing_callers_match_loop_oracles(monkeypatch):
    """repair_bowtie / intersects / intersection_area / polygon_difference
    give exactly the results of their scalar-loop versions."""
    from geokitten_spark.geom import clip, kernels

    rng = np.random.default_rng(17)
    geoms = []
    for k in range(24):
        n = int(rng.integers(4, 40))
        ring = _star(rng, rng.uniform(0, 2), rng.uniform(0, 2), 1.0, n, shuffle=k % 3)
        geoms.append(Geometry(GeomKind.POLYGON, parts=[[ring]]))
    # an unclosed ring: clip edges wrap from the last node to the first
    geoms.append(Geometry(GeomKind.POLYGON, parts=[[_star(rng, 1, 1, 1.0, 9)[:-1]]]))
    pairs = [(a, b) for a in geoms for b in geoms[:8]]

    def run():
        return (
            [repair_bowtie(g) for g in geoms],
            [intersects(a, b) for a, b in pairs],
            [float(clip.intersection_area(a, b)).hex() for a, b in pairs],
            [clip.polygon_difference(a, b) for a, b in pairs],
        )

    fast = run()
    monkeypatch.setattr(kernels, "segment_crossings", _loop_crossings)
    monkeypatch.setattr(clip, "_phase1", _loop_phase1)
    slow = run()
    assert sum(g.kind == GeomKind.MULTIPOLYGON for g in fast[0]) > 0  # some bowties repaired
    assert 0 < sum(fast[1]) < len(pairs)
    for a, b in zip(fast[0] + fast[3], slow[0] + slow[3]):
        _same_geometry(a, b)
    assert fast[1] == slow[1]
    assert fast[2] == slow[2]


# ---- STRtree -------------------------------------------------------------

def test_strtree_point_query():
    rng = np.random.default_rng(42)
    lo = rng.uniform(0, 100, size=(500, 2))
    boxes = np.column_stack([lo, lo + rng.uniform(0.5, 3.0, size=(500, 2))])
    tree = STRtree(boxes)
    xs = rng.uniform(0, 100, 200)
    ys = rng.uniform(0, 100, 200)
    pi, bi = tree.query_points(xs, ys)
    got = set(zip(pi.tolist(), bi.tolist()))
    expected = set()
    for p in range(200):
        for b in range(500):
            if boxes[b, 0] <= xs[p] <= boxes[b, 2] and boxes[b, 1] <= ys[p] <= boxes[b, 3]:
                expected.add((p, b))
    assert got == expected


def test_strtree_box_query_matches_brute_force():
    rng = np.random.default_rng(7)
    lo = rng.uniform(0, 50, size=(300, 2))
    boxes = np.column_stack([lo, lo + rng.uniform(0.5, 2.0, size=(300, 2))])
    tree = STRtree(boxes, node_capacity=8)
    q = (10.0, 10.0, 20.0, 15.0)
    got = set(tree.query_box(*q).tolist())
    expected = {
        i for i in range(300)
        if not (boxes[i, 2] < q[0] or boxes[i, 0] > q[2] or boxes[i, 3] < q[1] or boxes[i, 1] > q[3])
    }
    assert got == expected


# ---------------------------------------------------------------------------
# Douglas–Peucker simplification
# ---------------------------------------------------------------------------

def test_simplify_dense_circle_decimates():
    """A 200-vertex circle decimates heavily at a tolerance well under its
    radius, and every kept vertex is one of the originals."""
    import numpy as np

    from geokitten_spark.geom.model import Geometry, GeomKind, to_wkt
    from geokitten_spark.geom.simplify import simplify_geometry

    t = np.linspace(0.0, 2 * np.pi, 200)
    ring = np.c_[np.cos(t), np.sin(t)]
    ring[-1] = ring[0]  # closed
    g = Geometry(GeomKind.POLYGON, [[ring]])
    s = simplify_geometry(g, 0.05)
    out = s.parts[0][0]
    assert 4 <= len(out) < 40
    assert (out[0] == out[-1]).all()  # still closed
    orig = {tuple(p) for p in ring}
    assert all(tuple(p) in orig for p in out)  # subset of input vertices


def test_simplify_keeps_significant_vertices():
    import numpy as np

    from geokitten_spark.geom.model import parse_wkt, to_wkt
    from geokitten_spark.geom.simplify import simplify_geometry

    # a tent shape: the apex at (1, 1) survives; the mid-leg points lie
    # within tolerance of their leg chords and drop
    g = parse_wkt("LINESTRING (0 0, 0.5 0.5001, 1 1, 1.5 0.5001, 2 0)")
    s = simplify_geometry(g, 0.01)
    assert to_wkt(s) == "LINESTRING (0 0, 1 1, 2 0)"
    # zero tolerance keeps everything
    s0 = simplify_geometry(g, 0.0)
    assert to_wkt(s0) == to_wkt(g)


def test_simplify_collapsed_hole_drops_exterior_survives():
    import numpy as np

    from geokitten_spark.geom.model import Geometry, GeomKind
    from geokitten_spark.geom.simplify import simplify_geometry

    ext = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    # a near-degenerate 6-pt sliver hole entirely within tolerance
    hole = np.array(
        [[5, 5], [5.01, 5.0], [5.02, 5.001], [5.01, 5.002], [5.005, 5.001], [5, 5]]
    )
    g = Geometry(GeomKind.POLYGON, [[ext, hole]])
    s = simplify_geometry(g, 0.05)
    assert len(s.parts) == 1
    assert len(s.parts[0]) == 1  # hole gone, exterior intact
    assert len(s.parts[0][0]) == 5
