"""Vectorized pandas UDFs wrapping the pure-numpy geometry kernels.

Geometry travels in Spark columns as WKT ``STRING`` at the API edge
(SURVEY.md §1.2); kernels parse once per Arrow batch and loop geometries in
Python with numpy coordinate math; edge-pair scans (bowtie repair,
``intersects``, difference clipping) run as one blocked numpy kernel per
ring pair (``geom.kernels.segment_crossings``). All UDFs are deterministic
pure functions (stage-retry and snapshot-resume safe, SURVEY §4).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..geom import (
    parse_wkt,
    to_wkt,
    standardize_geometry,
    mercator_area,
    interior_point,
    repair_bowtie,
    intersects,
    difference,
    transform_geometry,
)

__all__ = [
    "standardize_wkt",
    "standardize_wkt_keep_holes",
    "area_m2",
    "area_km2",
    "interior_point_wkt",
    "bbox_struct",
    "transform_wkt",
    "wkt_is_valid_hint",
    "simplify_wkt",
    "wkt_vertex_count",
    "convex_hull_wkt",
    "planar_area",
]


def _map_wkt(series: pd.Series, fn) -> pd.Series:
    out = []
    for w in series:
        if w is None:
            out.append(None)
            continue
        try:
            out.append(fn(parse_wkt(w)))
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


@pandas_udf(StringType())
def standardize_wkt(wkt: pd.Series) -> pd.Series:
    """Entry-point-1 geometry pipeline (gdf_standardization.py:600-621):
    Z-drop + kind promotion + bowtie repair + hole removal."""
    return _map_wkt(wkt, lambda g: to_wkt(standardize_geometry(repair_bowtie(g), remove_geni=True)))


@pandas_udf(StringType())
def standardize_wkt_keep_holes(wkt: pd.Series) -> pd.Series:
    """Same but ``remove_geni=False`` (the consolidate default —
    SURVEY §2.12.4)."""
    return _map_wkt(wkt, lambda g: to_wkt(standardize_geometry(repair_bowtie(g), remove_geni=False)))


@pandas_udf(DoubleType())
def area_m2(wkt: pd.Series) -> pd.Series:
    """F6: Mercator-plane m² (EPSG:3395 temporary reprojection —
    gdf_standardization.py:1020)."""
    return _map_wkt(wkt, lambda g: mercator_area(g, km2=False)).astype("float64")


@pandas_udf(DoubleType())
def area_km2(wkt: pd.Series) -> pd.Series:
    """F6: km² with divisor 10**6 (gdf_standardization.py:1160)."""
    return _map_wkt(wkt, lambda g: mercator_area(g, km2=True)).astype("float64")


@pandas_udf(StringType())
def interior_point_wkt(wkt: pd.Series) -> pd.Series:
    """F5: centroid-if-contained else representative point; empty→empty
    Point (gdf_standardization.py:647-680)."""
    return _map_wkt(wkt, lambda g: to_wkt(interior_point(g)))


@pandas_udf(StructType([StructField(n, DoubleType()) for n in ("xmin", "ymin", "xmax", "ymax")]))
def bbox_struct(wkt: pd.Series) -> pd.DataFrame:
    """Per-geometry bbox struct — the pushdown-friendly prefilter column for
    spatial joins (SURVEY §4)."""
    rows = []
    for w in wkt:
        if w is None:
            rows.append((None, None, None, None))
            continue
        try:
            b = parse_wkt(w).bbox()
            rows.append(tuple(float(v) for v in b))
        except Exception:
            rows.append((None, None, None, None))
    return pd.DataFrame(rows, columns=["xmin", "ymin", "xmax", "ymax"])


def transform_wkt(src_crs: str, dst_crs: str):
    """F1: CRS normalization UDF factory (closure over the CRS pair)."""

    @pandas_udf(StringType())
    def _tx(wkt: pd.Series) -> pd.Series:
        return _map_wkt(wkt, lambda g: to_wkt(transform_geometry(g, src_crs, dst_crs)))

    return _tx


@pandas_udf(BooleanType())
def wkt_is_valid_hint(wkt: pd.Series) -> pd.Series:
    """True when ``repair_bowtie`` is a no-op (geometry had no proper
    self-intersections) — F4's trigger predicate."""
    def chk(g):
        return repair_bowtie(g) is g

    return _map_wkt(wkt, chk)


def simplify_wkt(tol: float):
    """Douglas–Peucker simplification UDF factory (closure over the
    tolerance) — the decimation step before boundary broadcast or the
    vector-tile/choropleth sink (geom/simplify.py)."""
    from ..geom.simplify import simplify_geometry

    @pandas_udf(StringType())
    def _simp(wkt: pd.Series) -> pd.Series:
        return _map_wkt(wkt, lambda g: to_wkt(simplify_geometry(g, tol)))

    return _simp


@pandas_udf(DoubleType())
def planar_area(wkt: pd.Series) -> pd.Series:
    """Planar (coordinate-space) shoelace area — the hull-compactness and
    weighting primitive; Mercator m²/km² live in area_m2/area_km2."""
    from ..geom import geometry_area

    return _map_wkt(wkt, geometry_area).astype("float64")


@pandas_udf(StringType())
def convex_hull_wkt(wkt: pd.Series) -> pd.Series:
    """Convex hull (monotone chain) of every vertex — the cover /
    compactness primitive (geom/simplify.py:convex_hull)."""
    from ..geom.simplify import convex_hull

    return _map_wkt(wkt, lambda g: to_wkt(convex_hull(g)))


@pandas_udf(LongType())
def wkt_vertex_count(wkt: pd.Series) -> pd.Series:
    """Total vertex count across every ring / linestring / point."""
    def count(g):
        n = 0
        if g.coords is not None:
            n += len(g.coords)
        for rings in g.parts:
            for r in rings:
                n += len(r)
        for m in g.members:
            n += count(m)
        return n

    return _map_wkt(wkt, count).astype("int64")
