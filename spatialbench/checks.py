"""Output checks, written independently of the code under test.

Every check takes plain arrays/tables (what the job wrote, read back with
pyarrow) and returns a list of failure messages; an empty list is a pass.
The reference answers come from brute force in numpy here: ray casting,
grid arithmetic, all-pairs distances, edge crossings and string digests.
Nothing here imports the package under test.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from .gen import grid_cell_id, grid_ixy, parse_polygon_parts

# ---------------------------------------------------------------------------
# geometry brute force
# ---------------------------------------------------------------------------


def ray_cast(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd point-in-polygon of points against one part's rings."""
    inside = np.zeros(len(px), dtype=bool)
    for ring in rings:
        xi, yi, xj, yj = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
        crosses = (yi[None] > py[:, None]) != (yj[None] > py[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xc = xi[None] + (py[:, None] - yi[None]) * (xj - xi)[None] / (yj - yi)[None]
        inside ^= (np.count_nonzero(crosses & (px[:, None] < xc), axis=1) % 2) == 1
    return inside


def in_polygon(px, py, parts: list) -> np.ndarray:
    out = np.zeros(len(px), dtype=bool)
    for rings in parts:
        out |= ray_cast(px, py, rings)
    return out


def _bbox(parts: list) -> tuple:
    pts = np.vstack([r for rings in parts for r in rings])
    return pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max()


def _edges(parts: list) -> np.ndarray:
    return np.vstack([np.hstack([r[:-1], r[1:]]) for rings in parts for r in rings])


def _orient(ax, ay, bx, by, cx, cy):
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def polygons_overlap(a: list, b: list) -> bool:
    """Positive-area overlap of two polygonal geometries (parts of rings):
    an edge of one properly crosses an edge of the other, or a vertex of
    one lies strictly inside the other."""
    ea, eb = _edges(a), _edges(b)
    p1x, p1y, p2x, p2y = (ea[:, i, None] for i in range(4))
    q1x, q1y, q2x, q2y = (eb[None, :, i] for i in range(4))
    d1 = _orient(p1x, p1y, p2x, p2y, q1x, q1y)
    d2 = _orient(p1x, p1y, p2x, p2y, q2x, q2y)
    d3 = _orient(q1x, q1y, q2x, q2y, p1x, p1y)
    d4 = _orient(q1x, q1y, q2x, q2y, p2x, p2y)
    if np.any((d1 * d2 < 0) & (d3 * d4 < 0)):
        return True
    va = np.vstack([r[:-1] for rings in a for r in rings])
    vb = np.vstack([r[:-1] for rings in b for r in rings])
    return bool(in_polygon(va[:, 0], va[:, 1], b).any() or in_polygon(vb[:, 0], vb[:, 1], a).any())


def shoelace_area(parts: list) -> float:
    total = 0.0
    for rings in parts:
        for k, r in enumerate(rings):
            a = 0.5 * abs(np.dot(r[:-1, 0], r[1:, 1]) - np.dot(r[1:, 0], r[:-1, 1]))
            total += a if k == 0 else -a
    return total


def wkt_digest(wkt: str) -> str:
    return hashlib.sha1(wkt.encode()).hexdigest()


# ---------------------------------------------------------------------------
# point workload checks
# ---------------------------------------------------------------------------


def check_pip(doc_id, lon, lat, boundary_keys, boundary_wkts, located_pairs) -> list:
    """``located_pairs``: set of (doc_id, region_key) the join wrote for the
    sampled docs; the reference is a ray cast against every boundary."""
    expected = set()
    for key, wkt in zip(boundary_keys, boundary_wkts):
        parts = parse_polygon_parts(wkt)
        x0, y0, x1, y1 = _bbox(parts)
        sel = np.flatnonzero((lon >= x0) & (lon <= x1) & (lat >= y0) & (lat <= y1))
        if len(sel):
            hit = sel[in_polygon(lon[sel], lat[sel], parts)]
            expected.update((int(doc_id[i]), int(key)) for i in hit)
    missing, extra = expected - located_pairs, located_pairs - expected
    if missing or extra:
        return [f"pip: {len(missing)} missing and {len(extra)} extra (doc, region) pairs, e.g. {sorted(missing | extra)[:3]}"]
    return []


def check_rollup(lon, lat, res_col, cell_col, n_col, resolutions) -> list:
    """Finest-level counts equal a numpy histogram of the located points;
    every level's counts sum to the number of located points."""
    fails = []
    res_col, cell_col, n_col = map(np.asarray, (res_col, cell_col, n_col))
    for r in resolutions:
        m = res_col == r
        if int(n_col[m].sum()) != len(lon):
            fails.append(f"rollup: res {r} holds {int(n_col[m].sum())} docs, expected {len(lon)}")
    finest = max(resolutions)
    cells, counts = np.unique(grid_cell_id(lon, lat, finest), return_counts=True)
    m = res_col == finest
    got = dict(zip(cell_col[m].tolist(), n_col[m].tolist()))
    if got != dict(zip(cells.tolist(), counts.tolist())):
        fails.append(f"rollup: res {finest} tiles differ from the brute-force histogram ({len(got)} vs {len(cells)} tiles)")
    return fails


def check_adaptive(res_col, n_col, n_points, threshold, max_res) -> list:
    res_col, n_col = np.asarray(res_col), np.asarray(n_col)
    fails = []
    if int(n_col.sum()) != n_points:
        fails.append(f"adaptive: leaves hold {int(n_col.sum())} docs, expected {n_points}")
    if np.any((n_col > threshold) & (res_col < max_res)):
        fails.append("adaptive: a leaf above the split threshold was not split")
    return fails


def check_salted(cell_id, n_docs, n_rows, sample, lon, lat, truth: dict, res) -> list:
    """One output row per located row; sampled rows carry their own
    res-``res`` cell (from their lon/lat) and the brute-force count of it."""
    if len(cell_id) != n_rows:
        return [f"salted_join: {len(cell_id)} rows for {n_rows} located rows"]
    want = grid_cell_id(lon[sample], lat[sample], res)
    bad = [
        i for i, w in zip(sample, want.tolist())
        if int(cell_id[i]) != w or truth.get(w) != int(n_docs[i])
    ]
    return [f"salted_join: {len(bad)} sampled rows carry a wrong tile or count"] if bad else []


def knn_reference(ids, lon, lat, query_idx, k, res, ring_k) -> dict:
    """Top-k by (dist2, neighbor id) among points within Chebyshev cell
    distance ``ring_k`` (lon wraps, lat clamps), self excluded."""
    n = 1 << res
    ix, iy = grid_ixy(lon, lat, res)
    out = {}
    for q in query_idx:
        dx = np.abs(ix - ix[q])
        dx = np.minimum(dx, n - dx)
        cand = np.flatnonzero((dx <= ring_k) & (np.abs(iy - iy[q]) <= ring_k) & (ids != ids[q]))
        dlon, dlat = lon[q] - lon[cand], lat[q] - lat[cand]
        d2 = dlon * dlon + dlat * dlat
        order = np.lexsort((ids[cand], d2))[:k]
        out[int(ids[q])] = [int(ids[cand][o]) for o in order]
    return out


def check_knn(ids, lon, lat, query_idx, got: dict, k, res, ring_k) -> list:
    want = knn_reference(np.asarray(ids), np.asarray(lon), np.asarray(lat), query_idx, k, res, ring_k)
    bad = [q for q, nb in want.items() if got.get(q, []) != nb]
    return [f"knn: {len(bad)} of {len(want)} sampled points have wrong neighbours, e.g. id {bad[0]}"] if bad else []


def check_level_totals(name, level_col, count_col, levels, total) -> list:
    level_col, count_col = np.asarray(level_col), np.asarray(count_col)
    return [
        f"{name}: level {z} totals {int(count_col[level_col == z].sum())}, expected {total}"
        for z in levels
        if int(count_col[level_col == z].sum()) != total
    ]


# ---------------------------------------------------------------------------
# polygon workload checks
# ---------------------------------------------------------------------------


def check_standardized(ids, wkts, n_input) -> list:
    if len(wkts) != n_input:
        return [f"standardize: {len(wkts)} rows for {n_input} inputs"]
    bad = [
        i for i, w in zip(ids, wkts)
        if w is None or " Z" in w or any(len(rings) != 1 for rings in parse_polygon_parts(w))
    ]
    return [f"standardize: {len(bad)} geometries keep Z or holes, e.g. id {bad[0]}"] if bad else []


def check_measured(std: dict, ids, areas, interiors, sample) -> list:
    fails = []
    area = dict(zip(ids, areas))
    ipt = dict(zip(ids, interiors))
    for i in sample:
        parts = parse_polygon_parts(std[i])
        if not area.get(i) or area[i] <= 0:
            fails.append(f"measure: id {i} has area {area.get(i)}")
        x, y = (float(v) for v in ipt[i][ipt[i].index("(") + 1 : -1].split()[:2])
        if not in_polygon(np.array([x]), np.array([y]), parts)[0]:
            fails.append(f"measure: interior point of id {i} is outside it")
    return fails[:5]


def check_subtracted(std: dict, out_ids, out_wkts, pairs) -> list:
    """Targets that overlap their subtractor lose area; the others, and
    every non-target row, come back unchanged."""
    got = dict(zip(out_ids, out_wkts))
    fails = []
    if set(got) != set(std):
        fails.append("subtract: row set changed")
    for a, b in pairs:
        pa, pb = parse_polygon_parts(std[a]), parse_polygon_parts(std[b])
        before = shoelace_area(pa)
        after = shoelace_area(parse_polygon_parts(got[a]))
        if polygons_overlap(pa, pb):
            if not 0 <= after < before:
                fails.append(f"subtract: target {a} area {before:.5f} -> {after:.5f}")
        elif abs(after - before) > 1e-9 * max(1.0, before):
            fails.append(f"subtract: target {a} does not overlap {b} but its area moved {before:.5f} -> {after:.5f}")
    targets = {a for a, _ in pairs}
    changed = [i for i in std if i not in targets and got.get(i) != std[i]]
    if changed:
        fails.append(f"subtract: {len(changed)} non-target rows changed")
    return fails[:5]


def check_overlaps(std: dict, got_pairs: set, planted, sample) -> list:
    parts = {i: parse_polygon_parts(w) for i, w in std.items()}
    ids = np.array(sorted(parts))
    boxes = np.array([_bbox(parts[i]) for i in ids])
    fails = [
        f"overlap_join: planted pair {p} missing"
        for p in planted
        if tuple(p) not in got_pairs and polygons_overlap(parts[p[0]], parts[p[1]])
    ]
    for s in sample:
        b = boxes[np.searchsorted(ids, s)]
        near = ids[
            (boxes[:, 0] <= b[2]) & (boxes[:, 2] >= b[0]) & (boxes[:, 1] <= b[3]) & (boxes[:, 3] >= b[1]) & (ids != s)
        ]
        want = {tuple(sorted((s, int(o)))) for o in near if polygons_overlap(parts[s], parts[int(o)])}
        have = {p for p in got_pairs if s in p}
        if want != have:
            fails.append(f"overlap_join: id {s} pairs differ: missing {sorted(want - have)[:3]}, extra {sorted(have - want)[:3]}")
    return fails[:5]


def check_roundtrip(name, std: dict, back_ids, back_wkts) -> list:
    """Written WKT and read-back WKT have identical digests per id."""
    want = {i: wkt_digest(w) for i, w in std.items()}
    got = {int(i): wkt_digest(w) for i, w in zip(back_ids, back_wkts)}
    if got != want:
        diff = [i for i in want if got.get(i) != want[i]]
        return [f"{name}: {len(diff)} of {len(want)} geometries differ after write->read, e.g. id {diff[:1]}"]
    return []


def check_roundtrip_groups(name, std_groups: dict, back_groups: dict) -> list:
    """Multisets of WKT digests per group (KML keeps no per-row id)."""
    want = {g: Counter(map(wkt_digest, ws)) for g, ws in std_groups.items()}
    got = {g: Counter(map(wkt_digest, ws)) for g, ws in back_groups.items()}
    if got != want:
        diff = [g for g in want if got.get(g) != want[g]]
        return [f"{name}: {len(diff)} of {len(want)} groups differ after write->read"]
    return []


def check_snapshot(snap: dict, n_rows) -> list:
    if not snap["resumed"] or snap["resumed_rows"] != snap["committed_rows"] or snap["committed_rows"] != n_rows:
        return [f"snapshot: {snap} for {n_rows} rows"]
    return []


# ---------------------------------------------------------------------------
# reading a job's outputs and running the checks
# ---------------------------------------------------------------------------


def _read(out_dir, name, columns=None):
    return pq.read_table(os.path.join(out_dir, name), columns=columns)


def points_outputs(out_dir: str, points, bounds, extra: dict, seed: int, params) -> list:
    rng = np.random.default_rng([seed, 99])
    loc = _read(out_dir, "located", ["doc_id", "region_key"])
    enc = _read(out_dir, "encoded", ["doc_id", "lon", "lat", "cell_id"])
    fails = []

    n_pts = points.num_rows
    sample = rng.choice(n_pts, size=min(2000, n_pts), replace=False)
    s_ids = points.column("doc_id").to_numpy()[sample]
    loc_ids = loc.column("doc_id").to_numpy()
    m = np.isin(loc_ids, s_ids)
    got = set(zip(loc_ids[m].tolist(), loc.column("region_key").to_numpy()[m].tolist()))
    fails += check_pip(
        s_ids,
        points.column("lon").to_numpy()[sample],
        points.column("lat").to_numpy()[sample],
        bounds.column("region_key").to_pylist(),
        bounds.column("geometry_wkt").to_pylist(),
        got,
    )

    lon, lat = enc.column("lon").to_numpy(), enc.column("lat").to_numpy()
    n_loc = enc.num_rows
    if n_loc != loc.num_rows:
        fails.append(f"encode: {n_loc} rows for {loc.num_rows} located")
    roll = _read(out_dir, "rollup")
    fails += check_rollup(lon, lat, roll.column("res"), roll.column("cell_id"), roll.column("n_docs"), params.ROLLUP_RES)

    ad = _read(out_dir, "adaptive")
    fails += check_adaptive(ad.column("res"), ad.column("n_docs"), n_loc, extra["adaptive_threshold"], params.ADAPTIVE_MAX)

    pt_ids = points.column("doc_id").to_numpy()
    pt_lon, pt_lat = points.column("lon").to_numpy(), points.column("lat").to_numpy()
    sj = _read(out_dir, "salted", ["doc_id", "cell_id", "n_docs"])
    at = np.searchsorted(pt_ids, sj.column("doc_id").to_numpy())
    cells, counts = np.unique(grid_cell_id(lon, lat, params.CELL_RES), return_counts=True)
    fails += check_salted(
        sj.column("cell_id").to_numpy(),
        sj.column("n_docs").to_numpy(),
        n_loc,
        rng.choice(sj.num_rows, size=min(2000, sj.num_rows), replace=False),
        pt_lon[at],
        pt_lat[at],
        dict(zip(cells.tolist(), counts.tolist())),
        params.CELL_RES,
    )

    sub = np.flatnonzero(pt_ids % params.KNN_EVERY == 0)
    knn = _read(out_dir, "knn").sort_by([("id", "ascending"), ("rank", "ascending")])
    got_knn: dict = {}
    for i, nb in zip(knn.column("id").to_pylist(), knn.column("neighbor_id").to_pylist()):
        got_knn.setdefault(i, []).append(nb)
    q = rng.choice(len(sub), size=min(200, len(sub)), replace=False)
    fails += check_knn(pt_ids[sub], pt_lon[sub], pt_lat[sub], q, got_knn, params.KNN_K, params.KNN_RES, 1)

    ras = _read(out_dir, "raster", ["z", "n_points"])
    fails += check_level_totals("raster", ras.column("z"), ras.column("n_points"), params.RASTER_ZOOMS, n_loc)
    mvt = _read(out_dir, "mvt", ["z", "n_features"])
    n_tiles = int(np.count_nonzero(np.asarray(roll.column("res")) == params.MVT_RES))
    fails += check_level_totals("mvt", mvt.column("z"), mvt.column("n_features"), params.MVT_ZOOMS, n_tiles)
    return fails


def polygons_outputs(out_dir: str, polys, bounds, extra: dict, seed: int, params) -> list:
    rng = np.random.default_rng([seed, 98])
    std_t = _read(out_dir, "standardized")
    std_ids = std_t.column("poly_id").to_pylist()
    std = dict(zip(std_ids, std_t.column("geometry_wkt").to_pylist()))
    fails = check_standardized(std_ids, list(std.values()), polys.num_rows)
    if fails:
        return fails
    sample = [int(i) for i in rng.choice(std_ids, size=min(200, len(std_ids)), replace=False)]

    me = _read(out_dir, "measured")
    fails += check_measured(std, me.column("poly_id").to_pylist(), me.column("area_km2").to_pylist(), me.column("interior_wkt").to_pylist(), sample)

    sb = _read(out_dir, "subtracted")
    fails += check_subtracted(std, sb.column("poly_id").to_pylist(), sb.column("geometry_wkt").to_pylist(), extra["overlap_pairs"])

    ov = _read(out_dir, "overlaps", ["id_a", "id_b"])
    got = set(zip(ov.column("id_a").to_pylist(), ov.column("id_b").to_pylist()))
    fails += check_overlaps(std, got, extra["overlap_pairs"], sample[:100])

    gp = _read(out_dir, "geoparquet_read")
    fails += check_roundtrip("geoparquet", std, gp.column("poly_id").to_pylist(), gp.column("geometry_wkt").to_pylist())
    gj = _read(out_dir, "geojson_read")
    fails += check_roundtrip("geojson", std, gj.column("feature_id").to_pylist(), gj.column("geometry_wkt").to_pylist())

    zones = dict(zip(std_ids, std_t.column("zone").to_pylist()))
    std_groups: dict = {}
    for i, w in std.items():
        std_groups.setdefault(zones[i] + ".kml", []).append(w)
    km = _read(out_dir, "kml_read")
    back_groups: dict = {}
    for f, w in zip(km.column("file_name").to_pylist(), km.column("geometry_wkt").to_pylist()):
        back_groups.setdefault(f, []).append(w)
    fails += check_roundtrip_groups("kml", std_groups, back_groups)

    fails += check_snapshot(extra["snapshot"], me.num_rows)
    return fails


CHECKS = {"points": points_outputs, "polygons": polygons_outputs}
