"""Point-in-polygon join internals: ``BoundaryIndex.locate`` on the shared
refine kernel against its former per-part loop, grid ancestors derived
from the encoded cell against direct encoding, and docs without finite
coordinates through all four PIP strategies."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geokitten_spark.geom import points_in_rings
from geokitten_spark.operators.pip_join import BoundaryIndex


def _locate_loop(index: BoundaryIndex, lons, lats):
    """``BoundaryIndex.locate`` as a per-part loop (the form it had before
    the shared refine kernel), kept as the oracle."""
    pi, part_i = index.tree.query_points(lons, lats)
    if len(pi) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    out_p, out_g = [], []
    order = np.argsort(part_i, kind="stable")
    pi, part_i = pi[order], part_i[order]
    bounds = np.flatnonzero(np.diff(part_i)) + 1
    for chunk_p, chunk_part in zip(np.split(pi, bounds), np.split(part_i, bounds)):
        part = int(chunk_part[0])
        inside = points_in_rings(lons[chunk_p], lats[chunk_p], index.part_rings[part])
        hits = chunk_p[inside]
        if len(hits):
            out_p.append(hits)
            out_g.append(np.full(len(hits), index.part_owner[part], dtype=np.int64))
    if not out_p:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    out_p = np.concatenate(out_p)
    out_g = np.concatenate(out_g)
    key = out_p * (len(index.geoms) + 1) + out_g
    _, uniq = np.unique(key, return_index=True)
    return out_p[uniq], out_g[uniq]


_OVERLAPPING_MULTI = (
    "MULTIPOLYGON (((0 0, 30 0, 30 30, 0 30, 0 0)), "
    "((10 10, 50 10, 50 40, 10 40, 10 10)), "
    "((100 5, 120 -7, 130 20, 101 25, 100 5)))"
)
_HOLED = (
    "POLYGON ((-40 -20, 40 -20, 40 35, -40 35, -40 -20), "
    "(-15 -5, 15 -5, 15 20, -15 20, -15 -5))"
)


def _boundary_sets():
    from geokitten_spark.fixtures import bench_boundaries_pdf

    b = bench_boundaries_pdf()
    return {
        "bench": (b["region_key"].tolist(), b["geometry_wkt"].tolist()),
        "overlapping_multipolygon": ([7, 8], [_OVERLAPPING_MULTI, _HOLED]),
        "holed_polygon": (["donut"], [_HOLED]),
    }


@pytest.mark.parametrize("name", ["bench", "overlapping_multipolygon", "holed_polygon"])
def test_locate_matches_per_part_loop(name):
    ids, wkts = _boundary_sets()[name]
    index = BoundaryIndex(ids, wkts)
    rng = np.random.default_rng(23)
    lons = np.concatenate([rng.uniform(-180, 180, 40_000), rng.uniform(-45, 135, 40_000)])
    lats = np.concatenate([rng.uniform(-90, 90, 40_000), rng.uniform(-25, 45, 40_000)])
    got_p, got_g = index.locate(lons, lats)
    want_p, want_g = _locate_loop(index, lons, lats)
    assert got_p.dtype == want_p.dtype == np.int64 and got_g.dtype == np.int64
    np.testing.assert_array_equal(got_p, want_p)
    np.testing.assert_array_equal(got_g, want_g)
    assert len(got_p) > 0
    if name == "overlapping_multipolygon":
        # the two overlapping parts are one polygon: one pair per point
        in_both = (lons > 10) & (lons < 30) & (lats > 10) & (lats < 30)
        assert np.all(np.isin(np.flatnonzero(in_both), got_p[got_g == 0]))
        assert len(np.unique(got_p * 2 + got_g)) == len(got_p)
    if name == "holed_polygon":
        in_hole = (lons > -15) & (lons < 15) & (lats > -5) & (lats < 20)
        assert in_hole.any() and not np.isin(np.flatnonzero(in_hole), got_p).any()


def test_locate_without_candidates():
    index = BoundaryIndex(["donut"], [_HOLED])
    for lons, lats in ((np.empty(0), np.empty(0)), (np.array([170.0]), np.array([80.0]))):
        p, g = index.locate(lons, lats)
        assert len(p) == len(g) == 0 and p.dtype == g.dtype == np.int64


def test_grid_parent_of_encoded_cell_matches_direct_encode(spark):
    """The grid cover derives a doc's ancestors from its encoded cell;
    that must equal encoding lon/lat at the coarser level directly, for
    random points, every exact res-10 cell edge, the ±180/±90 corners and
    out-of-range values (clamping commutes with the shift)."""
    from geokitten_spark.functions.cells_udfs import grid_cell_col
    from geokitten_spark.operators.tile import grid_parent_col

    rng = np.random.default_rng(31)
    n = 1 << 10
    edges_lon = -180.0 + np.arange(n + 1) * (360.0 / n)
    edges_lat = -90.0 + np.arange(n + 1) * (180.0 / n)
    extremes = [-180.0, 180.0, -90.0, 90.0, 0.0, -180.5, 180.5, -90.5, 90.5, -1e9, 1e9]
    lon = np.concatenate([
        rng.uniform(-180, 180, 3000), edges_lon, rng.uniform(-180, 180, n + 1),
        np.repeat(extremes, len(extremes)),
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 3000), rng.uniform(-90, 90, n + 1), edges_lat,
        np.tile(extremes, len(extremes)),
    ])
    df = spark.createDataFrame(
        pd.DataFrame({"lon": lon, "lat": lat}), "lon double, lat double"
    )
    mismatches = []
    for res in (10, 9, 5):
        cell = grid_cell_col(F.col("lon"), F.col("lat"), res)
        for r in range(res):
            direct = grid_cell_col(F.col("lon"), F.col("lat"), r)
            mismatches.append(
                F.sum((grid_parent_col(cell, res, r) != direct).cast("int")).alias(f"r{res}_{r}")
            )
    row = df.agg(*mismatches).collect()[0].asDict()
    assert row == {k: 0 for k in row}


def test_pip_strategies_agree_on_non_finite_coordinates(spark):
    """Docs with a NULL, NaN or infinite lon/lat are in no polygon: every
    strategy drops them from an inner join (the H3 cover used to fail the
    job on them) and the left joins keep them with a null id."""
    from geokitten_spark.operators.pip_join import (
        H3PolygonCover,
        PolygonCover,
        partitioned_pip_join,
        pip_join,
    )

    nan, inf = math.nan, math.inf
    docs = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, None, 1.0), (3, nan, 1.0), (4, 1.0, nan),
         (5, nan, -85.0), (6, -175.0, nan), (7, inf, 1.0), (8, 1.0, -inf)],
        "doc_id long, lon double, lat double",
    )
    bnd = pd.DataFrame({
        "region": [1, 2],
        "geometry_wkt": [
            "POLYGON ((-20 -20, 20 -20, 20 20, -20 20, -20 -20))",
            "POLYGON ((-180 -90, -160 -90, -160 -70, -180 -70, -180 -90))",
        ],
    })
    kw = dict(id_col="region", wkt_col="geometry_wkt")
    inner = {
        "pip_join": pip_join(docs, bnd, **kw),
        "grid_cover": PolygonCover(spark, bnd, res=8, **kw).join(docs),
        "h3_cover": H3PolygonCover(spark, bnd, res=2, **kw).join(docs),
        "partitioned": partitioned_pip_join(docs, spark.createDataFrame(bnd), res=8, **kw),
    }
    for name, df in inner.items():
        assert sorted((r.doc_id, r.region) for r in df.collect()) == [(1, 1)], name
    left = [
        pip_join(docs, bnd, how="left", **kw),
        partitioned_pip_join(
            docs, spark.createDataFrame(bnd), res=8, how="left", doc_key_cols=["doc_id"], **kw
        ),
    ]
    want = [(1, 1)] + [(d, None) for d in range(2, 9)]
    for df in left:
        assert sorted((r.doc_id, r.region) for r in df.collect()) == want


def test_pip_strategies_agree_on_multipart_and_holed_polygons(spark):
    """The refine ORs over every part of a MultiPolygon and ray-casts the
    holes: all four strategies return the broadcast R-tree's rows."""
    from geokitten_spark.operators.pip_join import (
        H3PolygonCover,
        PolygonCover,
        partitioned_pip_join,
        pip_join,
    )

    rng = np.random.default_rng(41)
    docs = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": np.arange(4000),
            "lon": rng.uniform(-45, 135, 4000),
            "lat": rng.uniform(-25, 45, 4000),
        })
    )
    bnd = pd.DataFrame({"region": [7, 8], "geometry_wkt": [_OVERLAPPING_MULTI, _HOLED]})
    kw = dict(id_col="region", wkt_col="geometry_wkt")
    want = sorted((r.doc_id, r.region) for r in pip_join(docs, bnd, **kw).collect())
    assert {g for _, g in want} == {7, 8}
    for name, df in {
        "grid_cover": PolygonCover(spark, bnd, res=7, min_res=4, **kw).join(docs),
        "h3_cover": H3PolygonCover(spark, bnd, res=3, min_res=1, **kw).join(docs),
        "partitioned": partitioned_pip_join(docs, spark.createDataFrame(bnd), res=7, **kw),
    }.items():
        assert sorted((r.doc_id, r.region) for r in df.collect()) == want, name
