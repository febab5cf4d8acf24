"""North-rule correctness gate: identical join output rows and tile
assignments across partitionings (BASELINE.json), plus the
extract(html) == text per-url byte invariant.

Parallelism-independence is exercised by varying the input partitioning
and spark.sql.shuffle.partitions inside the session (the quantities that
change between cluster sizes); bench.py --scaling additionally runs the
flagship at local[2] and local[8] in separate processes and the driver's
oracle check runs everything at its own parallelism — three independent
partitionings of the same plans.
"""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _flagship_rows(spark, n_parts: int, shuffle_parts: int):
    from geokitten_spark.fixtures import web_documents, admin_rects_pdf, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, PolygonCover
    from geokitten_spark.functions.cells_udfs import grid_cell_col, s2_cell

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_parts))
    try:
        docs = (
            web_documents(spark, SF_SMOKE)
            .select("doc_id", "lon", "lat")
            .repartition(n_parts)
        )
        located = pip_join(
            docs, admin_rects_pdf(), id_col="n_nationkey", wkt_col="geometry_wkt"
        ).withColumn("cell_id", grid_cell_col(F.col("lon"), F.col("lat"), 7)) \
         .withColumn("s2_cell", s2_cell(9)(F.col("lon"), F.col("lat")))
        join_rows = frozenset(
            (r.doc_id, r.n_nationkey, r.cell_id, r.s2_cell) for r in located.collect()
        )
        cover = PolygonCover(
            spark, bench_boundaries_pdf(), id_col="region_key",
            wkt_col="geometry_wkt", res=9,
        )
        cover_rows = frozenset(
            (r.doc_id, r.region_key) for r in cover.join(docs).collect()
        )
        return join_rows, cover_rows
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_identical_results_across_partitionings(spark):
    """2-partition/4-shuffle vs 16-partition/32-shuffle: identical join
    rows and tile assignments from both PIP operators."""
    a_join, a_cover = _flagship_rows(spark, n_parts=2, shuffle_parts=4)
    b_join, b_cover = _flagship_rows(spark, n_parts=16, shuffle_parts=32)
    assert a_join == b_join and len(a_join) > 0
    assert a_cover == b_cover and len(a_cover) > 0


def test_repeat_run_identical(spark):
    a = _flagship_rows(spark, n_parts=8, shuffle_parts=8)
    b = _flagship_rows(spark, n_parts=8, shuffle_parts=8)
    assert a == b


def test_grid_cover_matches_brute_pip(spark):
    """PolygonCover.join (grid cover: JVM interior fast path + border
    refine) must return exactly the pip_join (broadcast R-tree) rows on the
    overlapping 24-gon boundary set, through both of its paths."""
    from geokitten_spark.fixtures import web_documents, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, PolygonCover

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    bnd = bench_boundaries_pdf()
    brute = pip_join(docs, bnd, id_col="region_key", wkt_col="geometry_wkt")
    cover = PolygonCover(
        spark, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9
    )
    b = sorted((r.doc_id, r.region_key) for r in brute.collect())
    c = sorted((r.doc_id, r.region_key) for r in cover.join(docs).collect())
    assert b == c and len(b) > 0
    assert cover.n_inside_cells > 0 and cover.n_border_cells > 0


def test_extract_invariant_per_url(spark):
    """input_hint gate: extract(html) == text, byte-identical per url."""
    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.functions.text import extract_text

    docs = web_documents(spark, SF_SMOKE)
    bad = docs.filter(extract_text(F.col("html")) != F.col("text"))
    assert bad.count() == 0
    assert docs.count() > 0


def test_new_query_results_shuffle_partition_independent(spark):
    """Round-2 queries with window/dedup/UDF stages return identical rows
    at shuffle.partitions 4 vs 32 (partition-dependence is the classic
    failure mode for window ranks, Arrow batch kernels, and argmin
    quantizers)."""
    import __spark_entry__ as entrymod

    Q = entrymod.queries()
    names = [
        "corpus_filter", "pii_redact", "geohash_rollup", "simplify_tiles",
        "hull_compactness", "ann_pq_topk", "window_lag_delta",
        "tpch_q17_scalar_subquery",
        # continuation-session additions: fold-based signals, df joins,
        # component labels, top-k windows, quadtree splits
        "quality_repetition", "dedup_span_coverage", "contamination_check",
        "grid_dbscan", "tfidf_top_terms", "adaptive_tiles",
        "web_pip_rect_part", "tpch_q10_returns",
    ]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("4", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                pdf = Q[n](spark, SF_SMOKE).toPandas()
                pdf = pdf[sorted(pdf.columns)].astype(str)
                key = frozenset(map(tuple, pdf.itertuples(index=False)))
                results.setdefault(n, []).append(key)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    for n, (a, b) in results.items():
        assert a == b and len(a) > 0, n


def test_partitioned_pip_matches_brute(spark):
    """partitioned_pip_join (no broadcast, distributed cover, co-located
    refine) must equal pip_join exactly — inner AND left — on the
    overlapping 24-gon fixture where docs hit 1-4 candidate polygons."""
    from geokitten_spark.fixtures import web_documents, bench_boundaries_pdf
    from geokitten_spark.operators.pip_join import pip_join, partitioned_pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    bnd_pdf = bench_boundaries_pdf()
    bnd = spark.createDataFrame(bnd_pdf[["region_key", "geometry_wkt"]])

    brute = pip_join(docs, bnd_pdf, id_col="region_key", wkt_col="geometry_wkt")
    part = partitioned_pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9
    )
    b = sorted((r.doc_id, r.region_key) for r in brute.collect())
    p = sorted((r.doc_id, r.region_key) for r in part.collect())
    assert b == p and len(b) > 0

    brute_l = pip_join(
        docs, bnd_pdf, id_col="region_key", wkt_col="geometry_wkt", how="left"
    )
    part_l = partitioned_pip_join(
        docs, bnd, id_col="region_key", wkt_col="geometry_wkt", res=9,
        how="left", doc_key_cols=["doc_id"],
    )
    bl = sorted((r.doc_id, r.region_key) for r in brute_l.collect())
    pl = sorted((r.doc_id, r.region_key) for r in part_l.collect())
    assert bl == pl
    assert any(k is None for _, k in pl)  # unmatched docs retained

    # partitioning-independence: same rows when the boundary table is
    # split across many partitions (cover build is per-polygon pure)
    part7 = partitioned_pip_join(
        docs, bnd.repartition(7), id_col="region_key", wkt_col="geometry_wkt", res=9
    )
    p7 = sorted((r.doc_id, r.region_key) for r in part7.collect())
    assert p7 == b


def test_h3_cover_refine_matches_brute_pip(spark):
    """H3PolygonCover (polyfill interior + dilated-border refine on true
    H3 cells) must produce EXACTLY the brute pip_join row set, on both
    the rectangle fixture and the irregular bench boundaries."""
    from geokitten_spark.fixtures import (
        admin_rects_pdf,
        bench_boundaries_pdf,
        web_documents,
    )
    from geokitten_spark.operators.pip_join import H3PolygonCover, pip_join

    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    for bnd, id_col, res in (
        (admin_rects_pdf(), "n_nationkey", 3),
        (bench_boundaries_pdf(), "region_key", 4),
    ):
        brute = frozenset(
            (r.doc_id, r[id_col])
            for r in pip_join(
                docs, bnd, id_col=id_col, wkt_col="geometry_wkt"
            ).collect()
        )
        cov = H3PolygonCover(
            spark, bnd, id_col=id_col, wkt_col="geometry_wkt", res=res
        )
        got = frozenset((r.doc_id, r[id_col]) for r in cov.join(docs).collect())
        assert got == brute and len(brute) > 0, id_col
        # the interior fast path must actually carry cells (not everything
        # falling through to refine)
        assert cov.n_inside_cells > 0, id_col


def test_h3_cover_refine_with_holes(spark):
    """Donut polygons: H3PolygonCover must match brute pip_join when the
    boundary set carries interior rings (holes) — the polyfill subtracts
    hole-covered centers and the refine ray-casts the full ring set."""
    import pandas as pd

    from geokitten_spark.fixtures import web_documents
    from geokitten_spark.operators.pip_join import H3PolygonCover, pip_join

    donut = (
        "POLYGON ((-40 -20, 40 -20, 40 35, -40 35, -40 -20), "
        "(-15 -5, 15 -5, 15 20, -15 20, -15 -5))"
    )
    square = "POLYGON ((60 -10, 110 -10, 110 30, 60 30, 60 -10))"
    bnd = pd.DataFrame(
        {"region": ["donut", "square"], "geometry_wkt": [donut, square]}
    )
    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    brute = frozenset(
        (r.doc_id, r.region)
        for r in pip_join(docs, bnd, id_col="region", wkt_col="geometry_wkt").collect()
    )
    cov = H3PolygonCover(spark, bnd, id_col="region", wkt_col="geometry_wkt", res=3)
    got = frozenset((r.doc_id, r.region) for r in cov.join(docs).collect())
    assert got == brute and len(brute) > 0
    # docs inside the hole must NOT match the donut
    hole_docs = {
        r.doc_id
        for r in docs.filter(
            "lon > -15 AND lon < 15 AND lat > -5 AND lat < 20"
        ).collect()
    }
    assert hole_docs and not any(
        d in hole_docs for d, reg in got if reg == "donut"
    )


def test_h3_cover_compaction_parity_and_shrink(spark):
    """Compacted interior covers (compact_cells down to min_res, probed
    via JVM digit-truncation ancestors) must return EXACTLY the same rows
    as the uncompacted cover and the brute pip_join, while broadcasting
    strictly fewer interior cells."""
    from geokitten_spark.fixtures import bench_boundaries_pdf, web_documents
    from geokitten_spark.operators.pip_join import H3PolygonCover, pip_join

    bnd = bench_boundaries_pdf()
    docs = web_documents(spark, SF_SMOKE).select("doc_id", "lon", "lat")
    brute = frozenset(
        (r.doc_id, r.region_key)
        for r in pip_join(
            docs, bnd, id_col="region_key", wkt_col="geometry_wkt"
        ).collect()
    )
    flat = H3PolygonCover(
        spark, bnd, id_col="region_key", wkt_col="geometry_wkt", res=5, min_res=5
    )
    comp = H3PolygonCover(
        spark, bnd, id_col="region_key", wkt_col="geometry_wkt", res=5, min_res=2
    )
    assert comp.n_inside_cells < flat.n_inside_cells
    for cov in (flat, comp):
        got = frozenset(
            (r.doc_id, r.region_key) for r in cov.join(docs).collect()
        )
        assert got == brute and len(brute) > 0
