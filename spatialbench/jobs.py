"""The benchmark's jobs: each reads its generated input from parquet, calls
the package's public operators in a fixed order and writes every result.

A job is a sequence of stages. Each stage reads only committed outputs of
earlier stages (or the input), so in the traced run a stage's span is its
self time. Within a stage, the part before the sink is the operator calls
(plan time, including any eager driver-side Spark actions); the sink is the
action that commits the stage's output.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

# fixed job parameters (shared by both point workloads)
S2_LEVEL = 9
CELL_RES = 7
ROLLUP_RES = [7, 5, 3]
ADAPTIVE_BASE, ADAPTIVE_MAX = 4, 8
KNN_K, KNN_RES, KNN_EVERY = 5, 11, 10
RASTER_ZOOMS = (4, 3, 2)
MVT_ZOOMS = (3, 2, 1)
MVT_RES = 5
OVERLAP_RES = 8


@dataclass
class JobContext:
    spark: object
    tracer: object
    out_dir: str
    inputs: dict  # name -> parquet path
    n_rows: int
    extra: dict = field(default_factory=dict)  # driver-side values the checks need

    def path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def sink(self, df, name: str) -> str:
        with self.tracer.span("sink"):
            p = self.path(name)
            df.write.mode("overwrite").parquet(p)
        return p

    def read(self, name: str):
        return self.spark.read.parquet(self.path(name))


def _boundaries_pdf(ctx: JobContext) -> pd.DataFrame:
    return pd.read_parquet(ctx.inputs["boundaries"])


def points_job(ctx: JobContext) -> None:
    from geokitten_spark.functions.cells_udfs import grid_cell_col, h3_cell
    from geokitten_spark.operators.knn import knn_join
    from geokitten_spark.operators.pip_join import pip_join
    from geokitten_spark.operators.skew import cell_histogram, choose_salt_factor, salted_join
    from geokitten_spark.operators.tile import adaptive_tiles, tile_rollup
    from geokitten_spark.viz.mvt import mvt_pyramid
    from geokitten_spark.viz.raster import raster_heat_tiles

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("operators.pip_join"):
        docs = spark.read.parquet(ctx.inputs["points"]).select("doc_id", "url", "lang", "lon", "lat")
        located = pip_join(
            docs,
            _boundaries_pdf(ctx),
            id_col="region_key",
            wkt_col="geometry_wkt",
            s2_cells={"s2_cell": S2_LEVEL},
        )
        ctx.sink(located, "located")

    with tr.span("cells.encode"):
        enc = ctx.read("located").select(
            "doc_id",
            "lon",
            "lat",
            "region_key",
            "s2_cell",
            h3_cell(CELL_RES)(F.col("lon"), F.col("lat")).alias("h3_cell"),
            grid_cell_col(F.col("lon"), F.col("lat"), CELL_RES).alias("cell_id"),
        )
        ctx.sink(enc, "encoded")

    with tr.span("operators.tile_rollup"):
        ctx.sink(tile_rollup(ctx.read("encoded"), "lon", "lat", ROLLUP_RES), "rollup")

    with tr.span("operators.adaptive_tiles"):
        threshold = max(50, ctx.n_rows // 2000)
        ctx.extra["adaptive_threshold"] = threshold
        tiles = adaptive_tiles(
            ctx.read("encoded"),
            "lon",
            "lat",
            base_res=ADAPTIVE_BASE,
            max_res=ADAPTIVE_MAX,
            threshold=threshold,
        )
        ctx.sink(tiles, "adaptive")

    with tr.span("operators.salted_join"):
        enc = ctx.read("encoded").select("doc_id", "cell_id")
        salt = choose_salt_factor(
            cell_histogram(enc, "cell_id"), target_rows_per_task=max(1000, ctx.n_rows // 64)
        )
        ctx.extra["salt_factor"] = salt
        tiles7 = ctx.read("rollup").filter(F.col("res") == CELL_RES).select("cell_id", "n_docs")
        ctx.sink(salted_join(enc, tiles7, "cell_id", salt=salt, big_tag_col="doc_id"), "salted")

    with tr.span("operators.knn_join"):
        points = spark.read.parquet(ctx.inputs["points"])
        subset = points.filter(F.col("doc_id") % KNN_EVERY == 0).select("doc_id", "lon", "lat")
        ctx.sink(knn_join(subset, id_col="doc_id", k=KNN_K, res=KNN_RES, ring_k=1), "knn")

    with tr.span("viz.raster_tiles"):
        ctx.sink(raster_heat_tiles(ctx.read("encoded").select("lon", "lat"), zooms=RASTER_ZOOMS), "raster")

    with tr.span("viz.mvt_pyramid"):
        ctx.sink(mvt_pyramid(_tile_corners(ctx.read("rollup")), zooms=MVT_ZOOMS), "mvt")


def _tile_corners(rollup):
    """Res-5 grid tiles with their lon/lat boxes, the input mvt_pyramid takes."""
    n = float(1 << MVT_RES)
    t = rollup.filter(F.col("res") == MVT_RES)
    ix = F.shiftright(F.col("cell_id"), 29).bitwiseAND(F.lit((1 << 29) - 1))
    iy = F.col("cell_id") % (1 << 29)
    return t.select(
        "cell_id",
        "n_docs",
        (F.lit(-180.0) + ix * (360.0 / n)).alias("lon0"),
        (F.lit(-90.0) + iy * (180.0 / n)).alias("lat0"),
        (F.lit(-180.0) + (ix + 1) * (360.0 / n)).alias("lon1"),
        (F.lit(-90.0) + (iy + 1) * (180.0 / n)).alias("lat1"),
    )


def polygons_job(ctx: JobContext) -> None:
    from geokitten_spark.functions.geometry_udfs import (
        area_km2,
        interior_point_wkt,
        standardize_wkt,
    )
    from geokitten_spark.operators.polyjoin import polygon_overlap_join
    from geokitten_spark.operators.subtract import subtract_overlapping
    from geokitten_spark.plans.snapshot import SnapshotStore
    from geokitten_spark.sources.geojson import read_geojson_dir, write_geojson
    from geokitten_spark.sources.geoparquet import read_geoparquet, wkt_to_wkb, write_geoparquet
    from geokitten_spark.sources.kml import kml_strings, read_kml_dir, write_kml_dir

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("geom.standardize"):
        polys = spark.read.parquet(ctx.inputs["polygons"])
        ctx.sink(polys.withColumn("geometry_wkt", standardize_wkt("geometry_wkt")), "standardized")

    with tr.span("geom.measure"):
        std = ctx.read("standardized")
        measured = std.select(
            "poly_id",
            area_km2("geometry_wkt").alias("area_km2"),
            interior_point_wkt("geometry_wkt").alias("interior_wkt"),
        )
        ctx.sink(measured, "measured")

    with tr.span("operators.subtract"):
        spec = {a: [b] for a, b in ctx.extra["overlap_pairs"]}
        ctx.sink(subtract_overlapping(ctx.read("standardized"), "poly_id", spec), "subtracted")

    with tr.span("operators.overlap_join"):
        std = ctx.read("standardized")
        pairs = polygon_overlap_join(std, std, "poly_id", "poly_id", res=OVERLAP_RES)
        ctx.sink(pairs.filter(F.col("id_a") < F.col("id_b")), "overlaps")

    with tr.span("sources.geoparquet_write"):
        gp = ctx.read("standardized").select(
            "poly_id", "zone", wkt_to_wkb("geometry_wkt").alias("geometry")
        )
        manifest = write_geoparquet(gp, ctx.path("geoparquet"), geometry_col="geometry")
        with tr.span("sink"):
            manifest.collect()
    with tr.span("sources.geoparquet_read"):
        back = read_geoparquet(spark, ctx.path("geoparquet")).select("poly_id", "geometry_wkt")
        ctx.sink(back, "geoparquet_read")

    with tr.span("sources.geojson_write"):
        feats = ctx.read("standardized").select(
            F.col("poly_id").alias("feature_id"),
            "geometry_wkt",
            F.to_json(F.struct("zone")).alias("properties"),
        )
        with tr.span("sink"):
            write_geojson(feats, os.path.join(ctx.path("geojson"), "polygons.geojson"))
    with tr.span("sources.geojson_read"):
        ctx.sink(read_geojson_dir(spark, ctx.path("geojson")), "geojson_read")

    with tr.span("sources.kml_write"):
        docs = kml_strings(ctx.read("standardized"), id_col="zone")
        with tr.span("sink"):
            write_kml_dir(docs, ctx.path("kml"))
    with tr.span("sources.kml_read"):
        ctx.sink(read_kml_dir(spark, ctx.path("kml")), "kml_read")

    store = SnapshotStore(root=ctx.path("snapshots"))
    build = lambda s: s.read.parquet(ctx.path("measured"))  # noqa: E731
    with tr.span("plans.commit"):
        with tr.span("sink"):
            committed = store.run_stage(spark, "measured", build)
    with tr.span("plans.resume"):
        resumed = store.run_stage(spark, "measured", build)
        with tr.span("sink"):
            ctx.extra["snapshot"] = {
                "committed_rows": committed.manifest["row_count"],
                "resumed": resumed.resumed,
                "resumed_rows": resumed.df.count(),
            }


JOBS = {"points": points_job, "polygons": polygons_job}
