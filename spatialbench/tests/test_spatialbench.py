"""Tests of the benchmark itself (generators, checks, result line, status
store reader). Run from the repository root:

    python -m pytest spatialbench/tests -q
"""

import json
import os

import numpy as np
import pytest

from spatialbench import checks, gen, run, trace

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------------------
# seeded generators
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("name,n", [("points_uniform", 3000), ("points_dense", 3000), ("polygons", 200), ("boundaries", 0)])
def test_same_seed_same_digest_other_seed_other_digest(name, n):
    make = gen.GENERATORS[name]
    a, b, c = make(7, n), make(7, n), make(8, n)
    assert gen.table_digest(a) == gen.table_digest(b)
    assert gen.table_digest(a) != gen.table_digest(c)


def test_cache_round_trips_the_generated_table(tmp_path):
    d = gen.cached(str(tmp_path), "polygons", 3, 120)
    import pyarrow.parquet as pq

    assert gen.table_digest(pq.read_table(d)) == gen.table_digest(gen.polygons(3, 120))
    assert len(os.listdir(d)) == 8


def test_dense_input_is_skewed_against_uniform():
    b = gen.boundaries(5)
    u = gen.point_properties(gen.points_uniform(5, 20000), b)
    d = gen.point_properties(gen.points_dense(5, 20000), b)
    assert d["busiest_res7_cell_share"] >= 10 * u["busiest_res7_cell_share"]
    assert d["border_share"] > u["border_share"]


def test_polygon_input_has_the_planted_features():
    t = gen.polygons(4, 200)
    w = t.column("geometry_wkt").to_pylist()
    assert w[0].startswith("MULTIPOLYGON Z")
    assert len(gen.parse_polygon_parts(w[7])[0]) == 2  # hole
    assert len(gen.parse_ring_coords(w[102])) == 1 and len(gen.parse_ring_coords(w[102])[0]) == 5  # bowtie
    props = gen.polygon_properties(t)
    assert props["vertex_count"]["max"] <= 200 + 8


def _subtractors_inside(t) -> list:
    w = t.column("geometry_wkt").to_pylist()
    out = []
    for a, b in gen.overlap_pairs(t.num_rows):
        vb = np.vstack(gen.parse_ring_coords(w[b]))
        out.append(bool(checks.in_polygon(vb[:, 0], vb[:, 1], gen.parse_polygon_parts(w[a])).all()))
    return out


def test_planted_subtractors_straddle_their_target_unless_nested():
    assert not any(_subtractors_inside(gen.polygons(4, 500)))
    assert any(_subtractors_inside(gen.polygons(4, 500, nested=True)))


# ---------------------------------------------------------------------------
# planted wrong answers fail the checks
# ---------------------------------------------------------------------------


def _pip_truth(ids, lon, lat, bounds):
    out = set()
    for key, wkt in zip(bounds.column("region_key").to_pylist(), bounds.column("geometry_wkt").to_pylist()):
        hit = checks.in_polygon(lon, lat, gen.parse_polygon_parts(wkt))
        out.update((int(i), int(key)) for i in ids[hit])
    return out


def test_flipped_region_id_fails_pip_check():
    b = gen.boundaries(1)
    p = gen.points_dense(1, 500)
    ids, lon, lat = (p.column(c).to_numpy() for c in ("doc_id", "lon", "lat"))
    truth = _pip_truth(ids, lon, lat, b)
    args = (ids, lon, lat, b.column("region_key").to_pylist(), b.column("geometry_wkt").to_pylist())
    assert checks.check_pip(*args, truth) == []
    doc, region = sorted(truth)[0]
    flipped = (truth - {(doc, region)}) | {(doc, (region + 1) % 200)}
    assert checks.check_pip(*args, flipped)


def _rollup(lon, lat, resolutions):
    res, cells, counts = [], [], []
    for r in resolutions:
        c, n = np.unique(checks.grid_cell_id(lon, lat, r), return_counts=True)
        res += [r] * len(c)
        cells += c.tolist()
        counts += n.tolist()
    return np.array(res), np.array(cells), np.array(counts)


def test_dropped_tile_fails_rollup_and_level_checks():
    p = gen.points_uniform(2, 3000)
    lon, lat = p.column("lon").to_numpy(), p.column("lat").to_numpy()
    res, cells, counts = _rollup(lon, lat, [7, 5, 3])
    assert checks.check_rollup(lon, lat, res, cells, counts, [7, 5, 3]) == []
    keep = np.ones(len(res), dtype=bool)
    keep[np.flatnonzero(res == 5)[0]] = False
    assert checks.check_rollup(lon, lat, res[keep], cells[keep], counts[keep], [7, 5, 3])
    keep = np.ones(len(res), dtype=bool)
    keep[0] = False  # a finest-level tile
    assert checks.check_rollup(lon, lat, res[keep], cells[keep], counts[keep], [7, 5, 3])
    assert checks.check_level_totals("raster", res[keep], counts[keep], [7, 5, 3], len(lon))


def test_altered_wkt_byte_fails_roundtrip_checks():
    t = gen.polygons(3, 60)
    std = dict(zip(t.column("poly_id").to_pylist(), t.column("geometry_wkt").to_pylist()))
    ids, wkts = list(std), list(std.values())
    assert checks.check_roundtrip("geojson", std, ids, wkts) == []
    bad = list(wkts)
    bad[3] = bad[3].replace("1", "2", 1)
    assert checks.check_roundtrip("geojson", std, ids, bad)
    assert checks.check_roundtrip_groups("kml", {"a": wkts}, {"a": bad})


def test_knn_reference_and_wrong_neighbour():
    p = gen.points_dense(3, 2000)
    ids, lon, lat = (p.column(c).to_numpy() for c in ("doc_id", "lon", "lat"))
    q = np.arange(0, 2000, 50)
    truth = checks.knn_reference(ids, lon, lat, q, 3, 9, 1)
    assert checks.check_knn(ids, lon, lat, q, truth, 3, 9, 1) == []
    some = next(k for k, v in truth.items() if len(v) >= 2)
    wrong = dict(truth)
    wrong[some] = truth[some][::-1]
    assert checks.check_knn(ids, lon, lat, q, wrong, 3, 9, 1)


def test_overlap_brute_force_on_squares():
    sq = lambda x, y, s: [[np.array([[x, y], [x + s, y], [x + s, y + s], [x, y + s], [x, y]], float)]]  # noqa: E731
    assert checks.polygons_overlap(sq(0, 0, 2), sq(1, 1, 2))  # edges cross
    assert checks.polygons_overlap(sq(0, 0, 4), sq(1, 1, 1))  # containment
    assert not checks.polygons_overlap(sq(0, 0, 1), sq(3, 3, 1))


def test_snapshot_check_needs_resume_and_matching_rows():
    ok = {"committed_rows": 10, "resumed": True, "resumed_rows": 10}
    assert checks.check_snapshot(ok, 10) == []
    assert checks.check_snapshot({**ok, "resumed_rows": 9}, 10)
    assert checks.check_snapshot({**ok, "resumed": False}, 10)


# ---------------------------------------------------------------------------
# result line and BENCHMARK.json
# ---------------------------------------------------------------------------


def test_result_line_carries_every_metric_with_its_unit():
    spec = run.load_spec(ROOT)
    for tr, listed in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
        line = run.result_line(spec, {}, tr, failed=0, attempted=3)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert list(line["metrics"]) == [m["name"] for m in listed]
        assert all(line["metrics"][m["name"]]["unit"] == m["unit"] for m in listed)
        json.dumps(line)
    assert run.result_line(spec, {}, False, failed=1, attempted=3)["correct"] is False


def test_a_job_that_raises_is_flagged_and_its_output_removed(tmp_path, monkeypatch):
    # the run loop leaves a job flagged RAISED out of the timed walls
    w = object.__new__(run.Workload)
    w.name, w.kind, w.rows, w.inputs, w.extra = "boom", "boom", 1, {}, {}
    w.out_root = str(tmp_path)

    def job(ctx):
        os.makedirs(ctx.path("partial"))
        raise RuntimeError("planted")

    monkeypatch.setitem(run.jobs.JOBS, "boom", job)
    wall, fails = w.run_job(None, "t")
    assert fails == [run.RAISED] and wall >= 0
    assert not os.path.exists(os.path.join(str(tmp_path), "t"))


def test_benchmark_json_matches_the_runner():
    spec = run.load_spec(ROOT)
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
    mapped = {n for row in spec["layer_map"] for n in row["layer"]}
    assert mapped == {m["name"] for m in spec["per_layer"]}


def test_parse_metric_forms():
    assert trace.parse_metric("192 ms") == pytest.approx(0.192)
    assert trace.parse_metric("199,737") == 199737
    assert trace.parse_metric("total (min, med, max (stageId: taskId))\n4.5 s (1.1 s, 1.1 s, 1.2 s (stage 0.0: task 1))") == 4.5
    assert trace.parse_metric("1.5 MiB") == 1.5 * 1024**2


def test_span_self_time_subtracts_children():
    tr = trace.Tracer()
    with tr.span("job") as root:
        with tr.span("stage") as st:
            with tr.span("sink"):
                pass
    assert tr.children(root) == [st]
    assert 0 <= tr.self_seconds(st) <= st.seconds
    assert tr.innermost(st.start_ms) in (root, st)


# ---------------------------------------------------------------------------
# status store reader (starts a small Spark session)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    work = str(tmp_path_factory.mktemp("sb"))
    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", work)
        .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_store_reader_returns_python_and_shuffle_metrics(spark):
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(v: pd.Series) -> pd.Series:
        return v + 1

    reader = trace.StatusStoreReader(spark)
    reader.wait_finished()
    before = set(reader.execution_ids())
    df = spark.range(0, 5000, 1, 4).select(plus_one(F.col("id") % 17).alias("k"))
    df.groupBy("k").count().write.mode("overwrite").format("noop").save()
    reader.wait_finished()
    new = [i for i in reader.execution_ids() if i not in before]
    assert new
    execs = [reader.read(i) for i in new]
    s = trace.summarize(execs, reader)
    names = {n for e in execs for _, _, m in e.nodes for n in m}
    assert {"time to run Python workers", "data sent to Python workers", "shuffle bytes written"} <= names
    assert s["functions.arrow_sent_mb"] > 0 and s["functions.arrow_returned_mb"] > 0
    assert s["operators.shuffle_records"] > 0 and s["operators.exchanges"] >= 1
    assert s["operators.failed_tasks"] == 0 and s["operators.jobs"] == len(new)
    assert sum(e.python_input_rows() for e in execs) == 5000
