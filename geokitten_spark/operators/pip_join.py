"""J2 — point-in-polygon (PIP) joins of docs (lon/lat) to boundary polygons
(SURVEY.md §2.4). Three strategies, one exact refine kernel (``_refine``),
identical rows — one per (doc, polygon) containment pair:

* ``pip_join`` — broadcast R-tree: a packed numpy STR-tree over polygon-part
  bboxes is built ONCE on the driver and broadcast (one copy per executor);
  the docs side is never shuffled, each Arrow batch does a vectorized tree
  lookup + refine, so work per partition is proportional to rows.
* ``PolygonCover`` / ``H3PolygonCover`` — broadcast cell cover, one class
  (``_CellCover``) with the cell family (square grid or H3) as parameter:
  docs in inside cells match in a pure-JVM broadcast hash join, only
  border-cell docs cross the Arrow boundary for the refine.
* ``partitioned_pip_join`` — no driver index and no broadcast, for boundary
  sets too big to ship: executors build the grid cover and one cell-keyed
  join brings each polygon's WKT to its border cells for the refine.

The caller picks the strategy (SURVEY §4: explicit API, no Catalyst rule).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..cells.grid import RES_SHIFT, X_SHIFT
from ..functions.cells_udfs import grid_cell_col, h3_cell, h3_parent_col
from ..geom import parse_wkt, points_in_rings
from ..geom.rtree import STRtree
from .tile import grid_parent_col

__all__ = [
    "BoundaryIndex",
    "PolygonCover",
    "H3PolygonCover",
    "pip_join",
    "partitioned_pip_join",
]


def _ring_parts(g) -> list:
    """A geometry's polygon parts, each a list of (n, 2) float64 rings
    (exterior first, then holes)."""
    return [[np.asarray(r, dtype=np.float64)[:, :2] for r in rings] for rings in g.parts]


def _refine(keys: np.ndarray, lons: np.ndarray, lats: np.ndarray, parts_of) -> np.ndarray:
    """The exact refine of every PIP strategy. Candidate pair ``i`` is the
    point ``(lons[i], lats[i])`` and the key ``keys[i]``; it is kept when
    the point is inside any polygon part in ``parts_of(key)`` (even-odd
    rule per part). Pairs are stable-sorted by key, so each key's rings are
    ray-cast once over all of its points. Returns the keep mask in input
    order."""
    keep = np.zeros(len(keys), dtype=bool)
    if len(keys) == 0:
        return keep
    order = np.argsort(keys, kind="stable")
    bounds = np.flatnonzero(np.diff(keys[order])) + 1
    for chunk in np.split(order, bounds):
        inside = np.zeros(len(chunk), dtype=bool)
        for rings in parts_of(int(keys[chunk[0]])):
            inside |= points_in_rings(lons[chunk], lats[chunk], rings)
        keep[chunk[inside]] = True
    return keep


class BoundaryIndex:
    """Driver-built, broadcast-able polygon index: packed bbox R-tree +
    parsed ring arrays, pure numpy (pickles compactly)."""

    def __init__(self, ids: list, wkts: list):
        self.ids = list(ids)
        self.geoms = [parse_wkt(w) for w in wkts]
        # one entry per polygon PART so candidate refine touches only the part
        self.part_rings = [rings for g in self.geoms for rings in _ring_parts(g)]
        self.part_owner = np.asarray(
            [gi for gi, g in enumerate(self.geoms) for _ in g.parts], dtype=np.int64
        )
        self.tree = STRtree(np.asarray(
            [(*r[0].min(axis=0), *r[0].max(axis=0)) for r in self.part_rings],
            dtype=np.float64,
        ))

    def locate(self, lons: np.ndarray, lats: np.ndarray):
        """(point_idx, polygon_idx) matches; a point inside k overlapping
        polygons yields k pairs (join semantics, not first-wins)."""
        pi, part_i = self.tree.query_points(lons, lats)
        hit = _refine(part_i, lons[pi], lats[pi], lambda k: [self.part_rings[k]])
        out_p, out_g = pi[hit], self.part_owner[part_i[hit]]
        # a MULTIPOLYGON hit in 2 parts would duplicate: dedupe (point, geom)
        _, uniq = np.unique(out_p * (len(self.geoms) + 1) + out_g, return_index=True)
        return out_p[uniq], out_g[uniq]


def pip_join(
    docs: DataFrame,
    boundaries_pdf: pd.DataFrame,
    *,
    id_col: str,
    wkt_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    how: str = "inner",
    s2_cells: dict | None = None,
) -> DataFrame:
    """Join docs (lon/lat) to boundary polygons via broadcast R-tree + exact
    ray-casting PIP. Returns docs columns + the boundary id column.

    ``how``: 'inner' drops unmatched docs; 'left' keeps them with null id.
    ``s2_cells``: optional ``{out_col: s2_level}`` — S2 cell ids computed in
    the SAME Python pass (one Arrow exchange instead of two; at 10^12 rows
    every extra executor↔Python round trip is a full-table serialization).
    """
    spark = docs.sparkSession
    index = BoundaryIndex(boundaries_pdf[id_col].tolist(), boundaries_pdf[wkt_col].tolist())
    bc = spark.sparkContext.broadcast(index)
    id_type = StringType() if boundaries_pdf[id_col].dtype == object else LongType()
    extra_fields = [StructField(c, LongType(), True) for c in (s2_cells or {})]
    out_schema = StructType(
        docs.schema.fields + [StructField(id_col, id_type, True)] + extra_fields
    )

    left = how == "left"
    s2_spec = dict(s2_cells or {})

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idx: BoundaryIndex = bc.value
        ids = np.asarray(idx.ids, dtype=object)
        if s2_spec:
            from ..cells.s2 import lat_lng_to_cell

        for pdf in batches:
            lons = pdf[lon_col].to_numpy(np.float64)
            lats = pdf[lat_col].to_numpy(np.float64)
            pi, gi = idx.locate(lons, lats)
            matched = pdf.iloc[pi].copy()
            matched[id_col] = ids[gi]
            if left:
                unmatched_mask = np.ones(len(pdf), dtype=bool)
                unmatched_mask[pi] = False
                rest = pdf.loc[unmatched_mask].copy()
                rest[id_col] = None
                matched = pd.concat([matched, rest], ignore_index=True)
            for out_col, level in s2_spec.items():
                matched[out_col] = np.asarray(
                    lat_lng_to_cell(
                        matched[lat_col].to_numpy(np.float64),
                        matched[lon_col].to_numpy(np.float64),
                        level,
                    )
                ).astype("int64")
            yield matched

    return docs.mapInPandas(run, schema=out_schema)


# ---------------------------------------------------------------------------
# Driver-side cell covers
# ---------------------------------------------------------------------------

def _int64_arrays(*cols):
    return tuple(np.asarray(c, dtype=np.int64) for c in cols)


def _subdivide(ring, step: float):
    """Split every edge of ``ring`` into ceil(length / step) equal pieces
    (length = max(|dx|, |dy|); at least one piece per edge). Returns the
    pieces' start and end points as arrays ``(x0, y0, x1, y1)``."""
    r = np.asarray(ring, dtype=np.float64)[:, :2]
    ax, ay = r[:-1, 0], r[:-1, 1]
    bx, by = r[1:, 0], r[1:, 1]
    seg_len = np.maximum(np.abs(bx - ax), np.abs(by - ay))
    n_sub = np.maximum(1, np.ceil(seg_len / step).astype(np.int64))
    idx = np.repeat(np.arange(len(ax)), n_sub)
    # piece number within its edge → fraction along the edge
    k = np.arange(len(idx)) - np.repeat(np.cumsum(n_sub) - n_sub, n_sub)
    t0, t1 = k / n_sub[idx], (k + 1) / n_sub[idx]
    dx, dy = bx[idx] - ax[idx], by[idx] - ay[idx]
    return ax[idx] + dx * t0, ay[idx] + dy * t0, ax[idx] + dx * t1, ay[idx] + dy * t1


def _grid_id(res: int, ix, iy):
    """Packed square-grid cell id (``cells/grid.py`` layout)."""
    return (np.int64(res) << RES_SHIFT) | (np.int64(ix) << X_SHIFT) | np.int64(iy)


def _cover_cells(geoms: list, res: int):
    """Driver-side cell cover: classify every grid cell in each polygon's
    bbox as fully-INSIDE (every point of the cell is inside the part) or
    BOUNDARY (some polygon edge's bbox overlaps the cell — conservative).

    Returns two (cell_id, position) column sets as numpy arrays:
    ``inside``  — docs in these cells match with NO exact test;
    ``border`` — docs in these cells need the exact ray-cast refine.
    Conservativeness only moves cells from the fast path to the refine
    path, never the reverse, so results are exact.
    """
    n = np.int64(1) << res
    cell_w = 360.0 / float(n)
    cell_h = 180.0 / float(n)
    # edges are SUBDIVIDED to sub-cell length so each piece's bbox marks only
    # cells the edge actually crosses (a whole diagonal edge's bbox would
    # mark O(len²) spurious cells)
    step = 0.5 * min(cell_w, cell_h)

    in_cells, in_pos, bd_cells, bd_pos = [], [], [], []
    for pos, g in enumerate(geoms):
        seen_inside: set = set()
        seen_border: set = set()
        for rings in _ring_parts(g):
            xmin, ymin = rings[0].min(axis=0)
            xmax, ymax = rings[0].max(axis=0)
            ix0 = max(0, int(np.floor((xmin + 180.0) / 360.0 * n)))
            ix1 = min(int(n) - 1, int(np.floor((xmax + 180.0) / 360.0 * n)))
            iy0 = max(0, int(np.floor((ymin + 90.0) / 180.0 * n)))
            iy1 = min(int(n) - 1, int(np.floor((ymax + 90.0) / 180.0 * n)))
            if ix1 < ix0 or iy1 < iy0:
                continue
            sx0, sy0, sx1, sy1 = (
                np.concatenate(c) for c in zip(*(_subdivide(r, step) for r in rings))
            )
            # map each piece's bbox to the cell range it touches
            touched = np.zeros((ix1 - ix0 + 1, iy1 - iy0 + 1), dtype=bool)
            c_x0 = np.clip(np.floor((np.minimum(sx0, sx1) + 180.0) / 360.0 * n).astype(np.int64), ix0, ix1) - ix0
            c_x1 = np.clip(np.floor((np.maximum(sx0, sx1) + 180.0) / 360.0 * n).astype(np.int64), ix0, ix1) - ix0
            c_y0 = np.clip(np.floor((np.minimum(sy0, sy1) + 90.0) / 180.0 * n).astype(np.int64), iy0, iy1) - iy0
            c_y1 = np.clip(np.floor((np.maximum(sy0, sy1) + 90.0) / 180.0 * n).astype(np.int64), iy0, iy1) - iy0
            for a0, a1, b0, b1 in zip(c_x0, c_x1, c_y0, c_y1):
                touched[a0 : a1 + 1, b0 : b1 + 1] = True
            # untouched cells are uniformly inside or outside: test centers
            ux, uy = np.nonzero(~touched)
            if len(ux):
                cx = -180.0 + (ux + ix0 + 0.5) * cell_w
                cy = -90.0 + (uy + iy0 + 0.5) * cell_h
                inside = points_in_rings(cx, cy, rings)
                seen_inside.update(zip((ux[inside] + ix0).tolist(), (uy[inside] + iy0).tolist()))
            tx, ty = np.nonzero(touched)
            seen_border.update(zip((tx + ix0).tolist(), (ty + iy0).tolist()))
        # a cell inside one part but on the border of another (overlapping
        # parts) must refine — border wins
        seen_inside -= seen_border
        for seen, cells, owners in ((seen_inside, in_cells, in_pos), (seen_border, bd_cells, bd_pos)):
            cells.extend(_grid_id(res, ixv, iyv) for ixv, iyv in seen)
            owners.extend([pos] * len(seen))
    return _int64_arrays(in_cells, in_pos, bd_cells, bd_pos)


def _promote_cover(in_cells: np.ndarray, in_pos: np.ndarray, res: int, min_res: int):
    """Quadtree promotion (S2-RegionCoverer-style): wherever all 4 children
    of a parent cell are fully inside for the same polygon, replace them by
    the parent — repeatedly, down to ``min_res``. Shrinks the broadcast
    table ~5-10x (fits in L3, builds in ~0.1s) with identical semantics."""
    out_cells, out_pos = [], []
    ix = (in_cells >> X_SHIFT) & ((np.int64(1) << X_SHIFT) - 1)
    iy = in_cells & ((np.int64(1) << X_SHIFT) - 1)
    pos = in_pos
    for r in range(res, min_res, -1):
        pix_all, piy_all = ix >> 1, iy >> 1
        # group by (pos, parent-ix, parent-iy) without bit-packing (packing
        # pos into the high bits overflows int64 for pos >= 32)
        order = np.lexsort((piy_all, pix_all, pos))
        p_s, x_s, y_s = pos[order], pix_all[order], piy_all[order]
        new_grp = np.ones(len(order), dtype=bool)
        new_grp[1:] = (p_s[1:] != p_s[:-1]) | (x_s[1:] != x_s[:-1]) | (y_s[1:] != y_s[:-1])
        grp_id = np.cumsum(new_grp) - 1
        full = np.bincount(grp_id) == 4
        keep = np.ones(len(order), dtype=bool)
        keep[order] = ~full[grp_id]
        out_cells.append(_grid_id(r, ix[keep], iy[keep]))
        out_pos.append(pos[keep])
        # next level: one cell per full parent
        starts = np.flatnonzero(new_grp)[full]
        ix, iy, pos = x_s[starts], y_s[starts], p_s[starts]
        if len(ix) == 0:
            break
    if len(ix):
        out_cells.append(_grid_id(min_res, ix, iy))
        out_pos.append(pos)
    return np.concatenate(out_cells), np.concatenate(out_pos)


class _CellCover:
    """Reusable broadcast cell-cover PIP join; the cell family is the only
    thing its two subclasses change.

    The driver classifies each polygon's cells once: *inside* cells (every
    point of the cell is in the polygon; coarsened to ancestors down to
    ``min_res``) become a broadcast ``(cell, id)`` table, *border* cells (the
    boundary may cross them; conservative) a broadcast ``(cell, position)``
    table, and the parsed rings one broadcast. ``join`` encodes each doc's
    cell ONCE; the doc probes the inside table with that cell and its
    ancestors in a pure-JVM broadcast hash join (no Python, no shuffle of
    the docs side), and only border-cell docs cross the Arrow boundary for
    the exact refine — identical rows to ``pip_join``, Python exchange
    O(N·ε) instead of O(N).

    A family supplies the driver-side cover (``_cover``), the doc encode
    (``_encode``) and the pure-JVM ancestor column (``_parent``).
    """

    def __init__(self, spark, boundaries_pdf: pd.DataFrame, *, id_col: str,
                 wkt_col: str, res: int, min_res: int):
        self.id_col = id_col
        self.res = res
        self.min_res = min_res
        ids = boundaries_pdf[id_col].tolist()
        geoms = [parse_wkt(w) for w in boundaries_pdf[wkt_col].tolist()]
        in_cells, in_pos, bd_cells, bd_pos = self._cover(geoms)
        self.n_inside_cells = len(in_cells)
        self.n_border_cells = len(bd_cells)

        self.id_type = (
            StringType() if boundaries_pdf[id_col].dtype == object else LongType()
        )
        self.inside_df = spark.createDataFrame(
            pd.DataFrame({"__anc": in_cells, id_col: [ids[p] for p in in_pos]}),
            schema=StructType(
                [StructField("__anc", LongType()), StructField(id_col, self.id_type)]
            ),
        )
        self.border_df = spark.createDataFrame(
            pd.DataFrame({"__cell": bd_cells, "__pos": bd_pos}),
            schema=StructType(
                [StructField("__cell", LongType()), StructField("__pos", LongType())]
            ),
        )
        self._bc = spark.sparkContext.broadcast(([_ring_parts(g) for g in geoms], ids))

    def join(self, docs: DataFrame, *, lon_col: str = "lon", lat_col: str = "lat") -> DataFrame:
        id_col = self.id_col
        # a doc without finite coordinates is in no polygon, and the H3
        # encode raises on one (abs(NaN) < inf is false in Spark SQL)
        finite = (F.abs(F.col(lon_col)) < math.inf) & (F.abs(F.col(lat_col)) < math.inf)
        tagged = docs.filter(finite).withColumn(
            "__cell", self._encode(F.col(lon_col), F.col(lat_col))
        )
        # a doc matches a polygon at <= 1 cover level: each polygon's
        # coarsened inside cells are disjoint
        ancestors = F.array(
            F.col("__cell"),
            *[
                self._parent(F.col("__cell"), self.res, r)
                for r in range(self.res - 1, self.min_res - 1, -1)
            ],
        )
        fast = (
            tagged.withColumn("__anc", F.explode(ancestors))
            .drop("__cell")
            .join(F.broadcast(self.inside_df), on="__anc")
            .drop("__anc")
        )
        cand = tagged.join(F.broadcast(self.border_df), on="__cell").drop("__cell")

        bc = self._bc

        def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            parts_all, ids = bc.value
            ids = np.asarray(ids, dtype=object)
            for pdf in batches:
                pos = pdf["__pos"].to_numpy(np.int64)
                keep = _refine(
                    pos,
                    pdf[lon_col].to_numpy(np.float64),
                    pdf[lat_col].to_numpy(np.float64),
                    parts_all.__getitem__,
                )
                out = pdf.loc[keep].copy()
                out[id_col] = ids[pos[keep]]
                yield out.drop(columns=["__pos"])

        refined = cand.mapInPandas(
            refine,
            schema=StructType(docs.schema.fields + [StructField(id_col, self.id_type, True)]),
        )
        return fast.unionByName(refined)


class PolygonCover(_CellCover):
    """Cell cover on the packed square grid (``cells/grid.py``): border
    cells are the cells an edge passes through (``_cover_cells``); inside
    cells fold into their quadtree parent wherever all four children are
    inside, down to ``min_res`` (``_promote_cover``). Ancestors are integer
    shifts of the encoded cell (``grid_parent_col``)."""

    def __init__(self, spark, boundaries_pdf: pd.DataFrame, *, id_col: str,
                 wkt_col: str, res: int = 10, min_res: int = 6):
        super().__init__(spark, boundaries_pdf, id_col=id_col, wkt_col=wkt_col,
                         res=res, min_res=min_res)

    def _cover(self, geoms: list):
        in_cells, in_pos, bd_cells, bd_pos = _cover_cells(geoms, self.res)
        if len(in_cells) and self.min_res < self.res:
            in_cells, in_pos = _promote_cover(in_cells, in_pos, self.res, self.min_res)
        return in_cells, in_pos, bd_cells, bd_pos

    def _encode(self, lon, lat):
        return grid_cell_col(lon, lat, self.res)

    _parent = staticmethod(grid_parent_col)


class H3PolygonCover(_CellCover):
    """Cell cover on canonical H3 cells.

    * border — cells the boundary passes through (every ring sampled at
      0.25x the cell spacing) DILATED by one kRing. Dilation makes the set
      conservative: a corner-clipped cell whose boundary arc is shorter
      than the sampling step is always within one ring of a sampled cell,
      so no sliver is ever misclassified.
    * inside — polygon_to_cells (center containment) minus the dilated
      border. A cell whose center is inside and which is a full ring away
      from every boundary-crossed cell is provably contained.

    The doc encode is one vectorized H3 pandas UDF; ancestors are pure-JVM
    digit truncation (``h3_parent_col``).
    """

    def __init__(self, spark, boundaries_pdf: pd.DataFrame, *, id_col: str,
                 wkt_col: str, res: int = 3, min_res: int = 0):
        super().__init__(spark, boundaries_pdf, id_col=id_col, wkt_col=wkt_col,
                         res=res, min_res=min_res)

    def _cover(self, geoms: list):
        from ..cells import h3core

        res, min_res = self.res, self.min_res
        step = math.degrees(h3core._cell_spacing_rad(res)) * 0.25
        in_cells, in_pos, bd_cells, bd_pos = [], [], [], []
        for pos, g in enumerate(geoms):
            sampled: set = set()
            inside_raw: set = set()
            for rings in _ring_parts(g):
                for ring in rings:
                    sx, sy, _, _ = _subdivide(ring, step)
                    sampled.update(int(c) for c in np.unique(h3core.latlng_to_cell(sy, sx, res)))
                lat_lon = [r[:, [1, 0]] for r in rings]
                part_cells = h3core.polygon_to_cells(lat_lon[0], res, holes=lat_lon[1:])
                inside_raw.update(int(c) for c in part_cells)
            bd_arr = np.array(sorted(sampled), dtype=np.uint64)
            dilated: set = set()
            if bd_arr.size:
                for d in h3core.grid_disk_arrays(bd_arr, 1):
                    dilated.update(int(x) for x in d)
            inside = np.array(sorted(inside_raw - dilated), dtype=np.uint64)
            # compactCells shrinks the interior broadcast ~3-7x (complete
            # sibling sets fold into parents down to min_res); H3 ids carry
            # their res, so the mixed-res cover stays ONE bigint column
            if inside.size and min_res < res:
                comp = h3core.compact_cells(inside)
                keep = h3core.get_resolution(comp) >= min_res
                shallow = comp[~keep]
                if shallow.size:  # re-expand anything coarser than min_res
                    comp = np.concatenate(
                        [comp[keep], h3core.uncompact_cells(shallow, min_res)]
                    )
                inside = np.unique(comp)
            in_cells.extend(inside.tolist())
            in_pos.extend([pos] * inside.size)
            bd_cells.extend(sorted(dilated))
            bd_pos.extend([pos] * len(dilated))
        return _int64_arrays(in_cells, in_pos, bd_cells, bd_pos)

    def _encode(self, lon, lat):
        return h3_cell(self.res)(lon, lat)

    _parent = staticmethod(h3_parent_col)


# ---------------------------------------------------------------------------
# Partitioned PIP join (no broadcast of the boundary set)
# ---------------------------------------------------------------------------

def partitioned_pip_join(
    docs: DataFrame,
    boundaries: DataFrame,
    *,
    id_col: str,
    wkt_col: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 10,
    how: str = "inner",
    doc_key_cols: list[str] | None = None,
) -> DataFrame:
    """Exact PIP join with NO driver-side index and NO broadcast of the
    boundary set — the scale path for boundary tables too large to
    broadcast (millions of polygons), where ``pip_join`` and the
    broadcast covers cannot be used.

    Scale design: the cell cover of every polygon is computed IN THE
    EXECUTORS (``mapInPandas`` over the boundaries DataFrame, same
    ``_cover_cells`` kernel as ``PolygonCover``, one polygon at a time).
    Fully-inside cover cells become a distributed ``(cell, id)`` table;
    boundary cells carry the polygon WKT with them, so after the single
    equi-join shuffle on the cell id the exact ray-cast refine runs
    co-located — the polygon travels to its border cells, never the whole
    boundary set to every executor. Geometry duplication is
    O(perimeter-cells), the same spatial-partitioning trade Sedona/
    GeoSpark make. The docs side shuffles once, keyed on the SAME packed
    grid cell id the tiling aggregates use, so the exchange is reusable
    downstream; a hot cell is an AQE-skew/salting problem, not an
    operator redesign.

    Results are identical to ``pip_join`` (same cover kernel, same
    ray-cast refine): a (doc, polygon) pair matches through exactly one
    of the two paths because a polygon's inside/border cell sets are
    disjoint and a doc has one res-``res`` cell.

    ``how='left'`` keeps unmatched docs once with a null ``id_col``; it
    needs a unique doc key in ``doc_key_cols`` because matches come from
    two paths, so the unmatched set is a key anti-join against the
    matched set (one extra shuffle on the doc key).
    """
    id_field = boundaries.schema[id_col]
    cover_schema = StructType(
        [
            StructField("__cell", LongType()),
            StructField(id_col, id_field.dataType),
            StructField("__wkt", StringType(), True),
        ]
    )

    def build_cover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # ONE _cover_cells pass + ONE output frame per Arrow batch (frame
        # construction, not cover math, dominates a frame per polygon)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            geoms = [parse_wkt(w) for w in pdf[wkt_col]]
            in_cells, in_pos, bd_cells, bd_pos = _cover_cells(geoms, res)
            if len(in_cells) + len(bd_cells) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            wkts = pdf[wkt_col].to_numpy(dtype=object)
            yield pd.DataFrame(
                {
                    "__cell": np.concatenate([in_cells, bd_cells]),
                    id_col: np.concatenate([ids[in_pos], ids[bd_pos]]),
                    "__wkt": np.concatenate(
                        [
                            np.full(len(in_cells), None, dtype=object),
                            wkts[bd_pos],
                        ]
                    ),
                }
            )

    cover = boundaries.mapInPandas(build_cover, schema=cover_schema)

    tagged = docs.withColumn(
        "__cell", grid_cell_col(F.col(lon_col), F.col(lat_col), res)
    )
    # ONE join against the whole cover, then route rows by the border flag
    # (__wkt null = fully-inside cell → direct match). The two branches
    # share an identical scan+join subtree, so when the planner picks a
    # shuffle join at scale, ReuseExchange dedupes the docs exchange — one
    # shuffle of the docs table total.
    joined = tagged.join(cover, on="__cell").drop("__cell")
    fast = joined.filter(F.col("__wkt").isNull()).drop("__wkt")
    cand = joined.filter(F.col("__wkt").isNotNull())
    refine_schema = StructType(
        docs.schema.fields + [StructField(id_col, id_field.dataType, True)]
    )

    def refine(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # each polygon is parsed once per task; the cache is bounded by TOTAL
        # vertex count (a coastline can outweigh thousands of small polygons):
        # 2M vertices ~= 32 MB of ring arrays per task
        ring_cache: dict = {}
        cache_verts = 0

        def parts_of(wkt: str) -> list:
            nonlocal cache_verts
            parts = ring_cache.get(wkt)
            if parts is None:
                parts = _ring_parts(parse_wkt(wkt))
                n_verts = sum(len(r) for rings in parts for r in rings)
                if cache_verts + n_verts <= 2_000_000:
                    ring_cache[wkt] = parts
                    cache_verts += n_verts
            return parts

        for pdf in batches:
            codes, wkts = pd.factorize(pdf["__wkt"])
            keep = _refine(
                codes,
                pdf[lon_col].to_numpy(np.float64),
                pdf[lat_col].to_numpy(np.float64),
                lambda k: parts_of(wkts[k]),
            )
            yield pdf.loc[keep].drop(columns=["__wkt"])

    refined = cand.mapInPandas(refine, schema=refine_schema)
    matched = fast.unionByName(refined)
    if how == "inner":
        return matched
    if how != "left":
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if not doc_key_cols:
        raise ValueError("how='left' requires doc_key_cols (a unique doc key)")
    unmatched = docs.join(
        matched.select(*doc_key_cols).distinct(), on=doc_key_cols, how="left_anti"
    ).withColumn(id_col, F.lit(None).cast(id_field.dataType))
    return matched.unionByName(unmatched)
