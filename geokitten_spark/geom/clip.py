"""Polygon boolean difference (Greiner–Hormann), pure numpy/python.

Scope (SURVEY.md §7 hard part (a)): the reference only exercises
``target.difference(sub)`` on simple polygon pairs in general position —
overlapping squares/hexagons and containment cases
(``/root/reference/geokitten/gdf_standardization.py:944-967``;
``tests/gdf_standardization_test_suite.py:1229-1236``). This implements
classic Greiner–Hormann clipping for proper edge crossings, with explicit
handling of the three non-crossing cases (disjoint, subject-inside-clip,
clip-inside-subject → hole). Vertex-degenerate inputs fall back to returning
the subject unchanged (documented limitation; property-tested via area
invariants per SURVEY §7). Phase 1's edge-pair scan runs as one blocked
numpy kernel (``kernels.segment_crossings``).
"""

from __future__ import annotations

import numpy as np

from .kernels import segment_crossings
from .model import Geometry, GeomKind

__all__ = ["polygon_difference", "intersection_area", "ring_intersection_area"]


class _V:
    __slots__ = ("xy", "next", "prev", "neighbor", "entry", "intersect", "alpha", "visited")

    def __init__(self, xy, alpha=0.0, intersect=False):
        self.xy = (float(xy[0]), float(xy[1]))
        self.next = None
        self.prev = None
        self.neighbor = None
        self.entry = True
        self.intersect = intersect
        self.alpha = alpha
        self.visited = False


def _build_ring(coords: np.ndarray) -> _V:
    """Closed coord array → circular doubly-linked list; returns head."""
    pts = [(_V(p)) for p in coords[:-1]]
    n = len(pts)
    for i, v in enumerate(pts):
        v.next = pts[(i + 1) % n]
        v.prev = pts[(i - 1) % n]
    return pts[0]


def _iter_ring(head: _V):
    v = head
    while True:
        yield v
        v = v.next
        if v is head:
            break


def _orient_ccw(coords: np.ndarray) -> np.ndarray:
    x, y = coords[:, 0], coords[:, 1]
    a = np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
    return coords if a >= 0 else coords[::-1]


def _pip(x: float, y: float, ring: np.ndarray) -> bool:
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cond = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (y - y0) * (x1 - x0) / (y1 - y0)
    return bool((cond & (x < xint)).sum() % 2)


def _insert_sorted(edge_start: _V, v: _V):
    """Insert intersection vertex after edge_start, keeping alpha order."""
    cur = edge_start
    while cur.next.intersect and cur.next.alpha < v.alpha:
        cur = cur.next
    v.next = cur.next
    v.prev = cur
    cur.next.prev = v
    cur.next = v


def _phase1(subj_head: _V, clip_head: _V) -> int:
    """Find proper crossings between the rings' original edges and insert
    paired intersection vertices, in row-major (subject, clip) edge order."""
    subj = list(_iter_ring(subj_head))
    clip = list(_iter_ring(clip_head))
    ps = np.array([v.xy for v in subj])
    pc = np.array([w.xy for w in clip])
    ps1 = np.roll(ps, -1, axis=0)  # node → next node, wrapping like the ring
    si, cj, t, u = segment_crossings(ps, ps1, pc, np.roll(pc, -1, axis=0))
    for i, j, ti, uj in zip(si, cj, t, u):
        pt = ps[i] + ti * (ps1[i] - ps[i])
        vs = _V(pt, alpha=ti, intersect=True)
        vc = _V(pt, alpha=uj, intersect=True)
        vs.neighbor = vc
        vc.neighbor = vs
        _insert_sorted(subj[i], vs)
        _insert_sorted(clip[j], vc)
    return len(si)


def _phase2(head: _V, other_ring: np.ndarray, invert: bool):
    """Mark entry/exit alternating from the containment status of the head."""
    status = not _pip(head.xy[0], head.xy[1], other_ring)  # True → next crossing is entry
    if invert:
        status = not status
    for v in _iter_ring(head):
        if v.intersect:
            v.entry = status
            status = not status


def _phase3(subj_head: _V) -> list:
    """Trace result rings: walk current polygon in the direction given by the
    entry flag, switch polygons at every intersection, stop on return to the
    start intersection."""
    rings = []
    unprocessed = [v for v in _iter_ring(subj_head) if v.intersect and not v.visited]
    while unprocessed:
        start = unprocessed[0]
        ring = [start.xy]
        cur = start
        guard = 0
        while True:
            guard += 1
            if guard > 100000:
                break  # malformed input; bail with what we have
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            step = (lambda v: v.next) if cur.entry else (lambda v: v.prev)
            while True:
                cur = step(cur)
                ring.append(cur.xy)
                if cur.intersect:
                    break
            cur.visited = True
            if cur.neighbor is not None:
                cur.neighbor.visited = True
            if cur is start or cur.neighbor is start:
                break
            cur = cur.neighbor
        if len(ring) >= 4:
            if ring[0] != ring[-1]:
                ring.append(ring[0])
            rings.append(np.asarray(ring, dtype=np.float64))
        unprocessed = [v for v in _iter_ring(subj_head) if v.intersect and not v.visited]
    return rings


def _difference_rings(subj: np.ndarray, clip: np.ndarray) -> list:
    """Difference of two simple closed rings → list of result ring-lists
    (each ``[exterior]`` or ``[exterior, hole]``)."""
    subj = _orient_ccw(np.asarray(subj, dtype=np.float64)[:, :2])
    clip = _orient_ccw(np.asarray(clip, dtype=np.float64)[:, :2])
    sh = _build_ring(subj)
    ch = _build_ring(clip)
    n = _phase1(sh, ch)
    if n == 0:
        s_in_c = _pip(subj[0, 0], subj[0, 1], clip)
        c_in_s = _pip(clip[0, 0], clip[0, 1], subj)
        if s_in_c:
            return []  # fully swallowed
        if c_in_s:
            return [[subj, clip[::-1]]]  # subject with clip as hole
        return [[subj]]  # disjoint
    # difference A−B: invert the SUBJECT's entry flags (Greiner–Hormann);
    # clip flags stay normal — verified against the square-overlap fixture
    _phase2(sh, clip, invert=True)
    _phase2(ch, subj, invert=False)
    out = _phase3(sh)
    return [[r] for r in out]


def _intersection_rings(subj: np.ndarray, clip: np.ndarray) -> list:
    """Intersection of two simple closed rings → list of result rings.

    Same Greiner–Hormann machinery as the difference: intersection keeps
    BOTH rings' entry flags normal (difference inverts the subject's).
    Non-crossing cases: containment returns the inner ring, disjoint is
    empty. Shares the difference kernel's general-position scope."""
    subj = _orient_ccw(np.asarray(subj, dtype=np.float64)[:, :2])
    clip = _orient_ccw(np.asarray(clip, dtype=np.float64)[:, :2])
    sh = _build_ring(subj)
    ch = _build_ring(clip)
    n = _phase1(sh, ch)
    if n == 0:
        if _pip(subj[0, 0], subj[0, 1], clip):
            return [subj]
        if _pip(clip[0, 0], clip[0, 1], subj):
            return [clip]
        return []
    _phase2(sh, clip, invert=False)
    _phase2(ch, subj, invert=False)
    return _phase3(sh)


def _ring_area(ring: np.ndarray) -> float:
    r = np.asarray(ring, dtype=np.float64)
    x, y = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x, -1), np.roll(y, -1)
    return abs(0.5 * float((x * y1 - x1 * y).sum()))


def ring_intersection_area(a: np.ndarray, b: np.ndarray) -> float:
    """Planar area of region(a) ∩ region(b) for two simple rings."""
    return float(sum(_ring_area(r) for r in _intersection_rings(a, b)))


def intersection_area(a: Geometry, b: Geometry) -> float:
    """Planar area of A ∩ B for polygonal geometries, holes handled by
    inclusion–exclusion: ind(part) = ind(ext) − Σ ind(hole) (holes lie
    inside their exterior in a valid polygon), so
    area(A∩B) = Σ_parts Σ_rings sign(ra)·sign(rb)·area(ra_region ∩
    rb_region) with sign(exterior)=+1, sign(hole)=−1. Exact for valid
    inputs in general position; the operator's refine step and the
    driver-side oracle both call THIS function, so any degeneracy
    fallback stays engine-consistent."""
    if a.is_empty or b.is_empty or not (a.is_polygonal and b.is_polygonal):
        return 0.0
    total = 0.0
    for pa in a.parts:
        for pb in b.parts:
            for i, ra in enumerate(pa):
                for j, rb in enumerate(pb):
                    sign = -1.0 if (i > 0) != (j > 0) else 1.0
                    area = ring_intersection_area(
                        np.asarray(ra, dtype=np.float64)[:, :2],
                        np.asarray(rb, dtype=np.float64)[:, :2],
                    )
                    total += sign * area
    return total


def polygon_difference(target: Geometry, sub: Geometry) -> Geometry:
    """target − sub for polygonal geometries. Part-wise: each target part is
    clipped by every sub part sequentially; results re-assembled as
    Polygon/MultiPolygon. Holes already present in ``target`` are preserved
    verbatim on parts that survive unsplit."""
    if target.is_empty or not target.is_polygonal:
        return target
    if sub.is_empty or not sub.is_polygonal:
        return target
    result_parts = []
    for rings in target.parts:
        pieces = [[np.asarray(rings[0], dtype=np.float64)[:, :2]] + [
            np.asarray(h, dtype=np.float64)[:, :2] for h in rings[1:]
        ]]
        for sub_rings in sub.parts:
            clip_ext = np.asarray(sub_rings[0], dtype=np.float64)[:, :2]
            nxt = []
            for piece in pieces:
                clipped = _difference_rings(piece[0], clip_ext)
                for cr in clipped:
                    # carry original holes through on unsplit survivors
                    if len(cr) == 1 and len(piece) > 1 and np.array_equal(cr[0], piece[0]):
                        nxt.append(piece)
                    else:
                        nxt.append(cr)
            pieces = nxt
        result_parts.extend(pieces)
    if not result_parts:
        return Geometry(GeomKind.POLYGON)  # POLYGON EMPTY
    if len(result_parts) == 1:
        return Geometry(GeomKind.POLYGON, parts=result_parts)
    return Geometry(GeomKind.MULTIPOLYGON, parts=result_parts)
