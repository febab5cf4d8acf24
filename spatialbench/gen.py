"""Seeded input generators for the spatial benchmark.

Every table is a pure function of ``(seed, size)``: the same pair gives
byte-identical parquet, a different seed gives different rows. Tables are
generated with numpy only (nothing from the package under test) and cached
on disk under ``<cache>/<name>-s<seed>-n<size>-g<source digest>/`` so a later
run with the same seed skips generation. Generation never runs inside a
timed region.

Tables:

* ``boundaries`` - about 200 overlapping ~24-vertex polygons tiling the
  domain (lon -180..180, lat -60..70), the shape of the package's bench
  boundary fixture, jittered from the seed.
* ``points_uniform`` - web-page rows (doc_id, url, lang, text, lon, lat)
  with lon/lat uniform over the domain.
* ``points_dense`` - the same columns; about 80 % of the points come from a
  Zipf mixture of ~100 tight "city" clusters centred on boundary edges.
* ``polygons`` - admin-like polygons with 6..200 vertices, a hole on every
  7th, a second part on every 10th, Z coordinates on every 3rd, planted
  bowties and planted overlap pairs whose subtractor straddles the
  target's border.
* ``polygons_nested`` - the same, but small subtractors lie wholly inside
  their target, so subtracting them cuts a hole.
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LON0, LON1 = -180.0, 180.0
LAT0, LAT1 = -60.0, 70.0
LANGS = np.array(["en", "es", "de", "fr", "pt"])
_WORDS = np.array(
    "map tile city river road border street park harbor valley market school "
    "station bridge museum county region village coast island hill lake".split()
)
N_CLUSTERS = 100
DENSE_SHARE = 0.8
CLUSTER_SIGMA_DEG = 0.15
BOWTIE_EVERY = 97

# ---------------------------------------------------------------------------
# WKT writing (own formatter: the benchmark does not use the package's)
# ---------------------------------------------------------------------------


def _ring_txt(xy: np.ndarray, z: np.ndarray | None = None) -> str:
    if z is None:
        return "(" + ", ".join(f"{x:.6f} {y:.6f}" for x, y in xy) + ")"
    return "(" + ", ".join(f"{x:.6f} {y:.6f} {h:.1f}" for (x, y), h in zip(xy, z)) + ")"


def _closed(xy: np.ndarray) -> np.ndarray:
    return np.vstack([xy, xy[:1]])


def _star_ring(rng, cx, cy, r, n, yscale=1.0, jitter=(0.8, 1.2)) -> np.ndarray:
    """Counter-clockwise star-shaped ring: strictly increasing angles, so the
    ring is simple for any radial jitter."""
    a = 2.0 * math.pi * np.arange(n) / n
    rr = r * rng.uniform(jitter[0], jitter[1], size=n)
    return np.column_stack([cx + rr * np.cos(a), cy + yscale * rr * np.sin(a)])


# ---------------------------------------------------------------------------
# generators (pure functions of seed and size)
# ---------------------------------------------------------------------------


def boundaries(seed: int, n_cols: int = 20, n_rows: int = 10, n_vertices: int = 24) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    keys, wkts = [], []
    cw, ch = (LON1 - LON0) / n_cols, (LAT1 - LAT0) / n_rows
    for i in range(n_cols * n_rows):
        cx = LON0 + (i % n_cols + 0.5) * cw + rng.uniform(-0.1, 0.1) * cw
        cy = LAT0 + (i // n_cols + 0.5) * ch + rng.uniform(-0.1, 0.1) * ch
        ring = _star_ring(rng, cx, cy, 0.65 * cw, n_vertices, yscale=0.72)
        keys.append(i)
        wkts.append("POLYGON (" + _ring_txt(_closed(ring)) + ")")
    return pa.table({"region_key": pa.array(keys, pa.int64()), "geometry_wkt": wkts})


def _doc_columns(rng, n: int, lon: np.ndarray, lat: np.ndarray) -> dict:
    doc_id = np.arange(n, dtype=np.int64)
    lang = LANGS[rng.integers(0, len(LANGS), size=n)]
    host = rng.integers(0, 997, size=n)
    words = _WORDS[rng.integers(0, len(_WORDS), size=(n, 8))]
    text = [f"Doc {i}\n" + " ".join(w) for i, w in zip(doc_id.tolist(), words.tolist())]
    url = [
        f"https://host{h}.example/{lg}/page-{i:07d}"
        for i, h, lg in zip(doc_id.tolist(), host.tolist(), lang.tolist())
    ]
    return {
        "doc_id": doc_id,
        "url": url,
        "lang": lang.tolist(),
        "text": text,
        "lon": np.round(lon, 6),
        "lat": np.round(lat, 6),
    }


def points_uniform(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    lon = rng.uniform(LON0, LON1, size=n)
    lat = rng.uniform(LAT0, LAT1, size=n)
    return pa.table(_doc_columns(rng, n, lon, lat))


def _border_points(bounds: pa.Table, rng, k: int) -> np.ndarray:
    """``k`` points on boundary edges (random polygon, edge, position)."""
    out = np.empty((k, 2))
    wkts = bounds.column("geometry_wkt").to_pylist()
    for j in range(k):
        ring = parse_ring_coords(wkts[rng.integers(0, len(wkts))])[0]
        e = rng.integers(0, len(ring) - 1)
        t = rng.uniform()
        out[j] = ring[e] + t * (ring[e + 1] - ring[e])
    return out


def points_dense(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    centres = _border_points(boundaries(seed), rng, N_CLUSTERS)
    weights = 1.0 / np.arange(1, N_CLUSTERS + 1)
    weights /= weights.sum()
    n_dense = int(round(DENSE_SHARE * n))
    sizes = np.floor(weights * n_dense).astype(int)
    sizes[0] += n_dense - sizes.sum()
    pts = np.repeat(centres, sizes, axis=0) + rng.normal(0.0, CLUSTER_SIGMA_DEG, size=(n_dense, 2))
    lon = np.concatenate([pts[:, 0], rng.uniform(LON0, LON1, size=n - n_dense)])
    lat = np.concatenate([pts[:, 1], rng.uniform(LAT0, LAT1, size=n - n_dense)])
    perm = rng.permutation(n)
    lon = np.clip(lon[perm], LON0, LON1 - 1e-6)
    lat = np.clip(lat[perm], LAT0, LAT1 - 1e-6)
    return pa.table(_doc_columns(rng, n, lon, lat))


def overlap_pairs(n: int) -> list:
    """Planted overlapping (target, subtractor) id pairs (2k, 2k+1): one
    pair per 20 polygons, the density of the package's admin fixture."""
    return [(2 * k, 2 * k + 1) for k in range(max(1, n // 20))]


def polygons(seed: int, n: int, nested: bool = False) -> pa.Table:
    """Admin-like polygons. Each planted subtractor is centred on a vertex of
    its target's exterior, so it straddles the target's border. With
    ``nested`` it is centred near the target's centre instead, and a small
    one lies wholly inside its target (a subtraction that cuts a hole)."""
    rng = np.random.default_rng([seed, 4])
    pairs = dict(overlap_pairs(n))
    centres = np.column_stack(
        [rng.uniform(LON0 + 2, LON1 - 2, size=n), rng.uniform(LAT0 + 2, LAT1 - 2, size=n)]
    )
    # radii and vertex counts are stratified (the same multiset for every
    # seed, shuffled): the per-geometry kernels cost O(vertices^2) on the
    # largest rings, so free draws would make total work vary by seed
    strata = (np.arange(n) + 0.5) / n
    radii = rng.permutation(0.05 + 0.45 * strata)
    if nested:
        for a, b in pairs.items():
            off = 0.6 * min(radii[a], radii[b])
            centres[b] = centres[a] + (off, 0.5 * off)
    # vertex counts 6..200, log-uniform (many small rings, a long tail)
    nverts = rng.permutation(np.exp(math.log(6) + math.log(200 / 6) * strata).astype(int))
    target_of = {b: a for a, b in pairs.items()}
    outlines = {}
    wkts = []
    for i in range(n):
        cx, cy = centres[i]
        if i in target_of and not nested:
            outline = outlines[target_of[i]]
            cx, cy = outline[rng.integers(0, len(outline) - 1)]
        r = radii[i]
        has_z = i % 3 == 0
        # never a subtractor: subtract_overlapping repairs bowtie targets only
        if i % BOWTIE_EVERY == 5 and i not in target_of:
            xy = np.array([[cx - r, cy - r], [cx + r, cy + r], [cx - r, cy + r], [cx + r, cy - r]])
            rings = [_closed(xy)]
        else:
            rings = [_closed(_star_ring(rng, cx, cy, r, nverts[i]))]
            if i % 7 == 0:
                hole = _star_ring(rng, cx, cy, 0.3 * r, 8, jitter=(0.9, 1.1))[::-1]
                rings.append(_closed(hole))
        outlines[i] = rings[0]
        zs = [np.full(len(rg), float(i % 50)) if has_z else None for rg in rings]
        body = "(" + ", ".join(_ring_txt(rg, z) for rg, z in zip(rings, zs)) + ")"
        tag = " Z" if has_z else ""
        if i % 10 == 0:
            part2 = _closed(_star_ring(rng, cx + 2.5 * r, cy + 2.5 * r, 0.4 * r, 8))
            z2 = np.full(len(part2), float(i % 50)) if has_z else None
            wkts.append(f"MULTIPOLYGON{tag} ({body}, ({_ring_txt(part2, z2)}))")
        else:
            wkts.append(f"POLYGON{tag} {body}")
    return pa.table(
        {
            "poly_id": np.arange(n, dtype=np.int64),
            "zone": [f"zone-{i % 16:02d}" for i in range(n)],
            "geometry_wkt": wkts,
        }
    )


# ---------------------------------------------------------------------------
# WKT reading for checks and input properties (own parser)
# ---------------------------------------------------------------------------


def parse_ring_coords(wkt: str) -> list:
    """All rings of a (MULTI)POLYGON WKT as (n, 2) float arrays, in order."""
    return [ring for part in parse_polygon_parts(wkt) for ring in part]


def parse_polygon_parts(wkt: str) -> list:
    """(MULTI)POLYGON WKT -> list of parts, each a list of (n, 2) rings."""
    parts, cur = [], None
    depth = 0
    start = None
    if "(" not in wkt:  # EMPTY
        return parts
    body = wkt[wkt.index("(") :]
    multi = wkt.lstrip().upper().startswith("MULTI")
    ring_depth = 3 if multi else 2
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == ring_depth - 1:
                cur = []
            if depth == ring_depth:
                start = i + 1
        elif ch == ")":
            if depth == ring_depth:
                nums = [p.split() for p in body[start:i].split(",")]
                cur.append(np.array([[float(v[0]), float(v[1])] for v in nums]))
            if depth == ring_depth - 1:
                parts.append(cur)
            depth -= 1
    return parts


# ---------------------------------------------------------------------------
# disk cache + input properties
# ---------------------------------------------------------------------------

# a cached table made by an earlier version of the generators is not reused
with open(__file__, "rb") as _f:
    _SOURCE_DIGEST = hashlib.sha1(_f.read()).hexdigest()[:8]

GENERATORS = {
    "boundaries": lambda seed, n: boundaries(seed),
    "points_uniform": points_uniform,
    "points_dense": points_dense,
    "polygons": polygons,
    "polygons_nested": lambda seed, n: polygons(seed, n, nested=True),
}


def cached(cache_dir: str, name: str, seed: int, n: int, n_files: int = 8) -> str:
    """Directory of ``n_files`` parquet parts for (name, seed, n), generated
    once per version of this module. Several files give the Spark scan one
    split per file even when the table is smaller than a split."""
    d = os.path.join(cache_dir, f"{name}-s{seed}-n{n}-g{_SOURCE_DIGEST}")
    if not os.path.isdir(d):
        table = GENERATORS[name](seed, n)
        tmp = d + f".tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        step = -(-table.num_rows // n_files)
        for k in range(n_files):
            part = table.slice(k * step, step)
            if part.num_rows:
                pq.write_table(part, os.path.join(tmp, f"part-{k:05d}.parquet"))
        os.replace(tmp, d)
    return d


def table_digest(table: pa.Table) -> str:
    """Digest of the table's column names and Arrow buffers."""
    h = hashlib.sha256()
    for name in table.column_names:
        h.update(name.encode())
        for buf in table.column(name).combine_chunks().buffers():
            if buf is not None:
                h.update(buf)
    return h.hexdigest()[:16]


def grid_ixy(lon: np.ndarray, lat: np.ndarray, res: int):
    """Column and row of the equirectangular 2^res x 2^res grid."""
    n = 1 << res
    ix = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    return ix, iy


def grid_cell_id(lon, lat, res: int) -> np.ndarray:
    """The packed grid id layout ``res<<58 | ix<<29 | iy``."""
    ix, iy = grid_ixy(lon, lat, res)
    return (np.int64(res) << 58) | (ix << 29) | iy


def _segment_distance(px, py, ax, ay, bx, by):
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / np.where(ll > 0, ll, 1.0), 0.0, 1.0)
    qx, qy = ax + t * dx - px, ay + t * dy - py
    return np.sqrt(qx * qx + qy * qy)


def point_properties(points: pa.Table, bounds: pa.Table, sample: int = 20000) -> dict:
    """Input properties that drive the point workloads' cost."""
    lon = points.column("lon").to_numpy()
    lat = points.column("lat").to_numpy()
    _, counts = np.unique(grid_cell_id(lon, lat, 7), return_counts=True)
    # share of points within one res-7 cell height of a boundary edge
    idx = np.random.default_rng(0).choice(len(lon), size=min(sample, len(lon)), replace=False)
    px, py = lon[idx], lat[idx]
    near = np.zeros(len(idx), dtype=bool)
    cell = 180.0 / (1 << 7)
    for w in bounds.column("geometry_wkt").to_pylist():
        for ring in parse_ring_coords(w):
            ax, ay, bx, by = ring[:-1, 0], ring[:-1, 1], ring[1:, 0], ring[1:, 1]
            box = (
                (px >= ring[:, 0].min() - cell)
                & (px <= ring[:, 0].max() + cell)
                & (py >= ring[:, 1].min() - cell)
                & (py <= ring[:, 1].max() + cell)
            )
            sel = np.flatnonzero(box & ~near)
            if len(sel) == 0:
                continue
            d = _segment_distance(
                px[sel, None], py[sel, None], ax[None], ay[None], bx[None], by[None]
            ).min(axis=1)
            near[sel[d <= cell]] = True
    return {
        "rows": points.num_rows,
        "bytes": int(points.nbytes),
        "busiest_res7_cell_share": float(counts.max() / len(lon)),
        "border_share": float(near.mean()),
    }


def polygon_properties(polys: pa.Table) -> dict:
    nv = np.array(
        [sum(len(r) - 1 for r in parse_ring_coords(w)) for w in polys.column("geometry_wkt").to_pylist()]
    )
    q = np.percentile(nv, [0, 25, 50, 75, 100])
    return {
        "rows": polys.num_rows,
        "bytes": int(polys.nbytes),
        "vertex_count": {k: int(v) for k, v in zip(("min", "p25", "p50", "p75", "max"), q)},
    }
