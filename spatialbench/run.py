"""Host-fit spatial benchmark for geokitten_spark.

Run from the repository root:

    python3 spatialbench/run.py --workload points_dense --seed 1 --seconds 10 --trace 0
    python3 spatialbench/run.py --workload all --seed 1      # every workload, one line each

Each run builds its seeded input (cached under ``.spatialbench/cache``),
starts one Spark session at ``local[nproc]`` with a heap fit to the host,
runs one warm-up job (part of set-up) and then repeats the workload's job
for ``--seconds``; each job reads the input parquet and commits every
result to parquet. Every job's output is checked outside the timed region.

``--trace 0`` prints the end-to-end metrics (``rows_per_s``, ``setup_s``,
``peak_rss_mb``). ``--trace 1`` runs untraced jobs for the reference wall
and then one traced job, and prints the per-layer metrics. Spans, Spark SQL
metrics, input properties and the host fingerprint go to a sidecar file
``.spatialbench/results/<workload>-s<seed>-t<trace>.json``; the last stdout
line is one JSON object ``{correct, attempted, failed, metrics}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spatialbench import checks, gen, hostfit, jobs  # noqa: E402
from spatialbench.trace import NullTracer, StatusStoreReader, Tracer, summarize  # noqa: E402

WORKLOADS = {
    # name: (job kind, input generator, rows)
    "points_uniform": ("points", "points_uniform", 100_000),
    "points_dense": ("points", "points_dense", 100_000),
    "polygons_convert": ("polygons", "polygons", 500),
    "polygons_nested": ("polygons", "polygons_nested", 500),
}
MIN_TIMED_JOBS = 2
RAISED = "job raised"
TRACE_REFERENCE_JOBS = 1
KERNEL_SAMPLE = 32_768

# ---------------------------------------------------------------------------
# environment (must precede any pyspark / package import)
# ---------------------------------------------------------------------------


def prepare_env(work: str) -> dict:
    sizing = hostfit.spark_sizing()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the heap starts small and grows on demand, so the program's heap use
    # shows in peak_rss_mb
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xlog:disable"
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(sizing["nproc"]),
            "SPARK_GRAFT_DRIVER_MEM": sizing["driver_memory"],
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": java_opts,
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    sizing["confs"] = {
        "spark.driver.memory": sizing["driver_memory"],
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return sizing


def start_spark(sizing: dict):
    from geokitten_spark.session import get_spark

    return get_spark(
        app_name="spatialbench", master=sizing["master"], extra_confs=sizing["confs"]
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------


class Workload:
    def __init__(self, name: str, seed: int, work: str):
        self.name, self.seed = name, seed
        self.kind, table, self.rows = WORKLOADS[name]
        cache = os.path.join(work, "cache")
        key = "points" if self.kind == "points" else "polygons"
        self.inputs = {
            "boundaries": gen.cached(cache, "boundaries", seed, 0),
            key: gen.cached(cache, table, seed, self.rows),
        }
        self.bounds = pq.read_table(self.inputs["boundaries"])
        self.table = pq.read_table(self.inputs[key])
        if self.kind == "points":
            self.properties = gen.point_properties(self.table, self.bounds)
        else:
            self.properties = gen.polygon_properties(self.table)
        self.properties["digest"] = gen.table_digest(self.table)
        self.extra = {"overlap_pairs": gen.overlap_pairs(self.rows)} if self.kind == "polygons" else {}
        self.out_root = os.path.join(work, "out", f"{name}-s{seed}")

    def run_job(self, spark, tag: str, tracer=None, inspect=None):
        """Run one job under a ``job`` span, then check its output outside
        the timed region; ``inspect(ctx)`` sees the output before it is
        removed. Returns (wall seconds, failures); failures is ``[RAISED]``
        when the job raised."""
        out = os.path.join(self.out_root, tag)
        shutil.rmtree(out, ignore_errors=True)
        ctx = jobs.JobContext(spark, tracer or NullTracer(), out, self.inputs, self.rows, dict(self.extra))
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("job"):
                jobs.JOBS[self.kind](ctx)
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            shutil.rmtree(out, ignore_errors=True)
            return time.perf_counter() - t0, [RAISED]
        wall = time.perf_counter() - t0
        try:
            fails = checks.CHECKS[self.kind](out, self.table, self.bounds, ctx.extra, self.seed, jobs)
            if inspect is not None:
                inspect(ctx)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            fails = ["check raised"]
        for f in fails:
            print(f"[{self.name}] check failed in job {tag}: {f}", file=sys.stderr)
        shutil.rmtree(out, ignore_errors=True)
        return wall, fails


# ---------------------------------------------------------------------------
# traced run: layer metrics
# ---------------------------------------------------------------------------


def _timed_call(fn, repeats: int = 3) -> float:
    best = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best.append(time.perf_counter() - t0)
    return statistics.median(best)


def kernel_metrics(w: Workload) -> dict:
    """Direct calls into the cell and geometry kernels on one Arrow batch."""
    out = {
        "cells.h3_encode_ns_per_pt": 0.0,
        "cells.s2_encode_ns_per_pt": 0.0,
        "geom.pip_ns_per_pt": 0.0,
        "geom.pip_candidates_per_hit": 0.0,
        "geom.standardize_us_per_poly": 0.0,
    }
    if w.kind == "points":
        from geokitten_spark.cells import h3core, s2
        from geokitten_spark.operators.pip_join import BoundaryIndex

        t0 = time.perf_counter()
        b = w.bounds.to_pandas()
        index = BoundaryIndex(b["region_key"].tolist(), b["geometry_wkt"].tolist())
        out["geom.boundary_index_build_s"] = time.perf_counter() - t0
        n = min(KERNEL_SAMPLE, w.table.num_rows)
        lon = w.table.column("lon").to_numpy()[:n]
        lat = w.table.column("lat").to_numpy()[:n]
        out["cells.h3_encode_ns_per_pt"] = _timed_call(lambda: h3core.latlng_to_cell(lat, lon, jobs.CELL_RES)) / n * 1e9
        out["cells.s2_encode_ns_per_pt"] = _timed_call(lambda: s2.lat_lng_to_cell(lat, lon, jobs.S2_LEVEL)) / n * 1e9
        out["geom.pip_ns_per_pt"] = _timed_call(lambda: index.locate(lon, lat)) / n * 1e9
        cand = len(index.tree.query_points(lon, lat)[0])
        hits = len(index.locate(lon, lat)[0])
        out["geom.pip_candidates_per_hit"] = cand / max(1, hits)
    else:
        from geokitten_spark.geom import parse_wkt, repair_bowtie, standardize_geometry, to_wkt

        wkts = w.table.column("geometry_wkt").to_pylist()[:500]
        sec = _timed_call(lambda: [to_wkt(standardize_geometry(repair_bowtie(parse_wkt(x)))) for x in wkts])
        out["geom.standardize_us_per_poly"] = sec / len(wkts) * 1e6
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def traced_job(spark, w: Workload, reference_wall: float) -> tuple:
    """One traced job: spans, plus status-store metrics per stage.
    Returns (layer metrics, spans, traced wall, failures)."""
    reader = StatusStoreReader(spark)
    reader.wait_finished()
    before = set(reader.execution_ids())
    tracer = Tracer()
    m: dict = {}

    def inspect(ctx):
        if w.kind == "points":
            m["operators.salt_factor"] = float(ctx.extra["salt_factor"])
        else:
            m["overlaps_written"] = pq.read_table(ctx.path("overlaps"), columns=["id_a"]).num_rows
            m["sources.bytes_written_mb"] = sum(
                _dir_bytes(ctx.path(d)) for d in ("geoparquet", "geojson", "kml")
            ) / 1e6

    wall, fails = w.run_job(spark, "traced", tracer=tracer, inspect=inspect)
    reader.wait_finished()
    root = tracer.spans[0]
    new_ids = [i for i in reader.execution_ids() if i not in before]
    execs = {i: reader.read(i) for i in new_ids}
    stage_of = {}
    for i in new_ids:
        s = tracer.innermost(reader.submission_ms(i))
        while s is not None and s.parent not in (None, root.sid):
            s = tracer.spans[s.parent]
        stage_of[i] = s.name if s is not None else "job"

    m.update(summarize(list(execs.values()), reader))
    stages = tracer.children(root)
    for s in stages:
        m[s.name + "_s"] = s.seconds
        s.attrs["executions"] = [i for i in new_ids if stage_of[i] == s.name]
        s.attrs["self_s"] = tracer.self_seconds(s)
        s.attrs["metrics"] = summarize([execs[i] for i in s.attrs["executions"]], reader)
    m["operators.plan_s"] = sum(
        s.seconds - sum(c.seconds for c in tracer.children(s) if c.name == "sink") for s in stages
    )

    def stage_execs(name):
        return [execs[i] for i in new_ids if stage_of[i] == name]

    if w.kind == "points":
        m["operators.pip_refine_ratio"] = sum(e.python_input_rows() for e in stage_execs("operators.pip_join")) / w.rows
        knn_rows = sum(
            mm.get("number of output rows", 0.0)
            for e in stage_execs("operators.knn_join")
            for _, name, mm in e.nodes
            if name.endswith("Join")
        )
        m["operators.knn_candidates_per_point"] = knn_rows / (w.rows // jobs.KNN_EVERY)
    elif "overlaps_written" in m:
        # the refine UDF sees ordered candidate pairs, self pairs included
        refine_in = max((e.python_input_rows() for e in stage_execs("operators.overlap_join")), default=0.0)
        m["operators.overlap_hit_ratio"] = (2 * m.pop("overlaps_written") + w.rows) / max(1.0, refine_in)
    if reference_wall:  # None when every reference job raised
        m["trace.coverage"] = sum(s.seconds for s in stages) / reference_wall
        m["trace.overhead"] = wall / reference_wall - 1.0
    return m, [s.to_dict() for s in tracer.spans], wall, fails


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def load_spec(root: str) -> dict:
    """Metric names and units from BENCHMARK.json, plus the layer map."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        spec.update(json.load(f))
    return spec


def run(args) -> int:
    root = os.getcwd()
    work = os.path.join(root, ".spatialbench")
    if not os.path.isdir(os.path.join(root, "geokitten_spark")):
        print("spatialbench: run from a checkout holding geokitten_spark/", file=sys.stderr)
        return 2
    sizing = prepare_env(work)
    import pyspark

    spec = load_spec(root)

    w = Workload(args.workload, args.seed, work)
    walls, job_peaks, failures, attempted = [], [], 0, 0
    sidecar: dict = {"workload": w.name, "seed": w.seed, "trace": args.trace, "input": w.properties}

    with hostfit.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_spark(sizing)
        start_s = time.perf_counter() - t0
        try:
            warm_wall, fails = w.run_job(spark, "warmup")
            attempted, failures = 1, int(bool(fails))
            setup_s = start_s + warm_wall
            spent = 0.0  # job time of the timed phase, raised jobs included

            def more() -> bool:
                if args.trace:  # reference walls for coverage and overhead
                    return attempted - 1 < TRACE_REFERENCE_JOBS
                return spent < args.seconds or attempted - 1 < MIN_TIMED_JOBS

            while more():
                rss.start_window()
                wall, fails = w.run_job(spark, f"job-{attempted}")
                peak = rss.end_window()
                spent += wall
                attempted += 1
                failures += int(bool(fails))
                if RAISED not in fails:
                    walls.append(wall)
                    job_peaks.append(peak)

            layer = {}
            if args.trace:
                reference = statistics.median(walls) if walls else None
                layer, spans, traced_wall, fails = traced_job(spark, w, reference)
                attempted += 1
                failures += int(bool(fails))
                layer.update(kernel_metrics(w))
                layer["session.start_s"] = start_s
                layer["input.busiest_cell_share"] = w.properties.get("busiest_res7_cell_share", 0.0)
                layer["input.border_share"] = w.properties.get("border_share", 0.0)
                sidecar["spans"] = spans
                sidecar["traced_job_s"] = traced_wall
            fp = hostfit.fingerprint(root, pyspark.__version__)
        finally:
            stop_spark(spark)

    # a run in which every timed job raised reports 0 throughput and is
    # marked not correct by its failed count
    e2e = {
        "rows_per_s": w.rows / statistics.median(walls) if walls else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(job_peaks) / 1e6 if job_peaks else rss.peak / 1e6,
    }
    line = result_line(spec, layer if args.trace else e2e, bool(args.trace), failures, attempted)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}

    sidecar.update(
        {
            "fingerprint": fp,
            "sizing": {k: v for k, v in sizing.items() if k != "confs"},
            "setup": {"start_s": start_s, "warmup_job_s": warm_wall},
            "job_walls_s": walls,
            "job_peak_rss_mb": [p / 1e6 for p in job_peaks],
            "run_peak_rss_mb": rss.peak / 1e6,
            "failed_ops": {"failed": failures, "attempted": attempted},
            "end_to_end": e2e,
            "per_layer": layer,
            "layer_map": spec["layer_map"],
            "not_covered": spec["not_covered"],
        }
    )
    sidecar["not_comparable_with_previous"] = _record(work, sidecar)
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    side_path = os.path.join(res_dir, f"{w.name}-s{w.seed}-t{args.trace}.json")
    with open(side_path, "w") as f:
        json.dump(sidecar, f, indent=1, default=str)

    print(f"workload {w.name} seed {w.seed}: input {json.dumps(w.properties)}")
    for n, v in e2e.items():
        print(f"  {n} = {v:.6g} {units[n]}")
    print(f"  failed_ops = {failures}/{attempted} jobs")
    print(f"  sidecar: {os.path.relpath(side_path, root)}")
    print(json.dumps(line), flush=True)
    return 0


def result_line(spec: dict, values: dict, trace: bool, failed: int, attempted: int) -> dict:
    """The result object: every per-layer metric when tracing, else every
    end-to-end metric, each with its unit (a layer a workload bypasses
    reads 0)."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in listed}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def _record(work: str, sidecar: dict) -> list:
    """Append to the record log; return the host keys on which the last
    record of the same workload differs (those two are not comparable)."""
    log = os.path.join(work, "records.jsonl")
    prev = None
    if os.path.exists(log):
        with open(log) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == sidecar["workload"]:
                    prev = r
    with open(log, "a") as f:
        f.write(json.dumps({"workload": sidecar["workload"], "fingerprint": sidecar["fingerprint"]}) + "\n")
    return hostfit.not_comparable(prev["fingerprint"], sidecar["fingerprint"]) if prev else []


def run_all(args) -> int:
    """Every workload in its own process, one after another."""
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(r.stdout)
        code = code or r.returncode
    return code


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    return run_all(args) if args.workload == "all" else run(args)


if __name__ == "__main__":
    sys.exit(main())
