"""Seeded inputs and oracle answers for the benchmark (FIXTURES.md schema).

``make(seed, scale, root)`` writes three parquet tables — ``images``,
``zones``, ``points`` — plus the NumPy-oracle answers every workload is
checked against, and caches both per (scale, seed) under ``root``.

What the seed picks: the per-image pixel ramp coefficients, which images
use the lossy ``qnt`` codec (~10 %), the zone rings (rect or convex,
centre jitter, size, vertex angles) and the point positions.  What it
does not pick: image geometry.  ``operators.georegister`` derives the
geotransform from ``image_id`` alone, so the generator uses the same
arithmetic (``oracle.georegister``), including the 5 % of images planted
in three hot cells.
"""

from __future__ import annotations

import json
import math
import shutil
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from georaster_spark import oracle
from georaster_spark.constants import DEFAULT_RES, HOT_ANCHORS, RES_SHIFT

# scale -> (images, tile edge in pixels, zones, points, checkpoint unit res)
SCALES: dict[str, tuple[int, int, int, int, int]] = {
    "bench": (4_096, 64, 256, 4_096, 13),
    "tiny": (1_024, 64, 16, 1_024, 13),
}

IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)
ZONES_SCHEMA = pa.schema(
    [
        ("zone_id", pa.int64()),
        ("kind", pa.string()),
        ("ring", pa.list_(pa.struct([("x", pa.float64()), ("y", pa.float64())]))),
        ("xmin", pa.float64()),
        ("xmax", pa.float64()),
        ("ymin", pa.float64()),
        ("ymax", pa.float64()),
        ("cx", pa.float64()),
        ("cy", pa.float64()),
    ]
)
_VERSION = 1  # bump when the generator or the answers change (invalidates caches)


class Inputs:
    """Paths of one generated input set plus its oracle answers."""

    def __init__(self, root: Path, scale: str, seed: int):
        n, w, nz, npts, unit_res = SCALES[scale]
        self.dir = root / f"{scale}-{n}-s{seed}-v{_VERSION}"
        self.scale = scale
        self.seed = seed
        self.n_images, self.tile_w, self.n_zones, self.n_points = n, w, nz, npts
        self.unit_res = unit_res

    def path(self, table: str) -> str:
        return str(self.dir / f"{table}.parquet")

    def answers(self) -> dict:
        """Oracle answers: the count/hash scalars plus the row arrays."""
        a = dict(np.load(self.dir / "answers.npz"))
        a.update(json.loads((self.dir / "answers.json").read_text()))
        return a


def make(seed: int, scale: str, root: Path) -> Inputs:
    """Generate (or reuse the cached) inputs and answers for this seed."""
    inp = Inputs(root, scale, seed)
    if (inp.dir / "_SUCCESS").exists():
        return inp
    if inp.dir.exists():
        shutil.rmtree(inp.dir)  # torn by an earlier kill
    inp.dir.mkdir(parents=True)
    t0 = time.perf_counter()
    rng = np.random.default_rng(seed)
    geo, means = _images(inp, rng)
    zones = _zones(inp, rng)
    pts = _points(inp, rng, geo)
    _answers(inp, geo, means, zones, pts)
    (inp.dir / "_SUCCESS").write_text("ok\n")
    print(f"inputs: generated {inp.dir.name} in {time.perf_counter() - t0:.1f} s")
    return inp


def describe(inp: Inputs) -> list[str]:
    """One line per generated table: rows and on-disk MB."""
    out = []
    for t in ("images", "zones", "points"):
        p = Path(inp.path(t))
        rows = pq.ParquetFile(p).metadata.num_rows
        out.append(f"input {t}: {rows} rows, {p.stat().st_size / 1e6:.2f} MB")
    return out


def _tiles(idx: np.ndarray, w: int, coeffs) -> np.ndarray:
    a, b, c = coeffs
    i = np.arange(w, dtype=np.int64)[None, :, None]
    j = np.arange(w, dtype=np.int64)[None, None, :]
    return ((a[:, None, None] * i + b[:, None, None] * j + c[:, None, None]) % 256).astype(np.uint8)


def _images(inp: Inputs, rng) -> tuple[dict, np.ndarray]:
    n, w = inp.n_images, inp.tile_w
    idx = np.arange(n, dtype=np.int64)
    coeffs = (rng.integers(1, 14, n), rng.integers(1, 18, n), rng.integers(0, 251, n))
    is_qnt = rng.random(n) < 0.10
    pix = _tiles(idx, w, coeffs)
    pix[is_qnt] = oracle.quantize(pix[is_qnt])
    geo = oracle.georegister(idx, np.full(n, w))
    anchor = oracle.cell_encode(geo["gt_x0"], geo["gt_y0"], DEFAULT_RES)
    flat = pix.reshape(n, -1)
    tbl = pa.table(
        [
            pa.array([f"img{i:08d}" for i in idx]),
            pa.array([flat[k].tobytes() for k in range(n)], type=pa.binary()),
            pa.array(np.full(n, w, dtype=np.int32)),
            pa.array(np.full(n, w, dtype=np.int32)),
            pa.array(np.where(is_qnt, "qnt", "raw")),
            pa.array([f"synthetic tile {i} over cell {c}" for i, c in zip(idx, anchor)]),
            pa.array(rng.integers(0, 2**62, n, dtype=np.int64)),
        ],
        schema=IMAGES_SCHEMA,
    )
    # 512-row groups: a parquet split cannot divide a row group, so the
    # group count bounds scan parallelism (same layout as the repo fixtures).
    pq.write_table(tbl, inp.path("images"), compression="zstd", row_group_size=512)
    return geo, flat.mean(axis=1, dtype=np.float64)


def _domain(inp: Inputs) -> tuple[float, float]:
    rows_used = (inp.n_images + 511) // 512
    return 513 * 1000.0, (rows_used + 2) * 1000.0


def _zones(inp: Inputs, rng) -> list[dict]:
    nz = inp.n_zones
    dom_w, dom_h = _domain(inp)
    zq = math.ceil(math.sqrt(nz))
    recs = []
    for z in range(nz):
        if z >= nz - 3:  # the last 3 zones sit on the hot anchors (skew)
            ax, ay = HOT_ANCHORS[z - (nz - 3)]
            cx, cy, hx, hy, kind = ax + 550.0, ay - 450.0, 1500.0, 1500.0, "rect"
        else:
            cx = (z % zq + 0.5 + rng.uniform(-0.05, 0.05)) * dom_w / zq
            cy = (z // zq + 0.5 + rng.uniform(-0.05, 0.05)) * dom_h / zq
            hx = rng.uniform(0.35, 0.5) * dom_w / zq
            hy = rng.uniform(0.35, 0.5) * dom_h / zq
            kind = "rect" if rng.random() < 0.5 else "convex"
        if kind == "rect":
            pts = [(cx - hx, cy - hy), (cx + hx, cy - hy), (cx + hx, cy + hy), (cx - hx, cy + hy)]
        else:
            # points on an ellipse in increasing angle order: convex and CCW
            nv = int(rng.integers(5, 9))
            ang = np.sort(2.0 * math.pi * (np.arange(nv) + rng.uniform(0.0, 0.3, nv)) / nv)
            pts = list(zip(cx + hx * np.cos(ang), cy + hy * np.sin(ang)))
        pts.append(pts[0])
        xs = [float(p[0]) for p in pts]
        ys = [float(p[1]) for p in pts]
        recs.append(
            {
                "zone_id": z,
                "kind": kind,
                "ring": [{"x": x, "y": y} for x, y in zip(xs, ys)],
                "xmin": min(xs),
                "xmax": max(xs),
                "ymin": min(ys),
                "ymax": max(ys),
                "cx": sum(xs[:-1]) / (len(xs) - 1),
                "cy": sum(ys[:-1]) / (len(ys) - 1),
            }
        )
    pq.write_table(pa.Table.from_pylist(recs, schema=ZONES_SCHEMA), inp.path("zones"), compression="zstd")
    return recs


def _points(inp: Inputs, rng, geo: dict) -> dict:
    """80 % uniform over the domain, 15 % inside tile interiors, 5 % exactly
    on pixel centres or corners (FIXTURES.md §7)."""
    n, w = inp.n_points, inp.tile_w
    dom_w, dom_h = _domain(inp)
    n_uni, n_int = int(n * 0.8), int(n * 0.15)
    n_edge = n - n_uni - n_int
    xs = [rng.uniform(0, dom_w, n_uni)]
    ys = [rng.uniform(0, dom_h, n_uni)]
    t = rng.integers(0, inp.n_images, n_int)
    xs.append(geo["gt_x0"][t] + (0.05 + 0.9 * rng.random(n_int)) * 1000.0)
    ys.append(geo["gt_y0"][t] - (0.05 + 0.9 * rng.random(n_int)) * 1000.0)
    t = rng.integers(0, inp.n_images, n_edge)
    off = np.where(rng.random(n_edge) < 0.5, 0.0, 0.5)
    xs.append(geo["gt_x0"][t] + (rng.integers(0, w, n_edge) + off) * geo["gt_xres"][t])
    ys.append(geo["gt_y0"][t] - (rng.integers(0, w, n_edge) + off) * geo["gt_yres"][t])
    pts = {"point_id": np.arange(n, dtype=np.int64), "x": np.concatenate(xs), "y": np.concatenate(ys)}
    pq.write_table(pa.table(pts), inp.path("points"), compression="zstd")
    return pts


def row_hash(*cols) -> int:
    """Order-independent hash of a row set: sum of per-row FNV-style
    mixes over int64 columns, wrapped to 64 bits."""
    h = np.full(len(cols[0]), 0xCBF29CE484222325, dtype=np.uint64)
    for c in cols:
        h ^= np.asarray(c).astype(np.int64).view(np.uint64)
        h *= np.uint64(0x100000001B3)
        h ^= h >> np.uint64(29)
    return int(h.sum(dtype=np.uint64))


def assignments(geo: dict, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Tile assignments as (image idx, cover cell) rows."""
    ext = oracle.extent(geo["gt_x0"], geo["gt_y0"], geo["gt_xres"], geo["gt_yres"], w, w)
    covers = oracle.cell_cover(*ext, DEFAULT_RES)
    a_img = np.repeat(np.arange(len(covers), dtype=np.int64), [len(c) for c in covers])
    return a_img, np.concatenate(covers)


def pip_pairs(geo: dict, w: int, zones: list[dict]) -> tuple[np.ndarray, np.ndarray]:
    """Broadcast PIP pairs on image centroids as (image idx, zone_id) rows,
    sorted by zone then image: a candidate iff the centroid's cell is in the
    zone bbox cover, then the half-plane refine."""
    r = DEFAULT_RES
    cx = geo["gt_x0"] + w * geo["gt_xres"] / 2.0
    cy = geo["gt_y0"] - w * geo["gt_yres"] / 2.0
    ccell = oracle.cell_encode(cx, cy, r)
    p_img, p_zone = [], []
    for z in zones:
        zcells = oracle.cell_cover(z["xmin"], z["xmax"], z["ymin"], z["ymax"], r)[0]
        cand = np.nonzero(np.isin(ccell, zcells))[0]
        rx = np.array([p["x"] for p in z["ring"]])
        ry = np.array([p["y"] for p in z["ring"]])
        hit = cand[oracle.pip_halfplane(rx, ry, cx[cand], cy[cand])]
        p_img.append(hit)
        p_zone.append(np.full(len(hit), z["zone_id"], dtype=np.int64))
    p_img = np.concatenate(p_img)
    p_zone = np.concatenate(p_zone)
    order = np.lexsort((p_img, p_zone))
    return p_img[order], p_zone[order]


def _answers(inp: Inputs, geo: dict, means: np.ndarray, zones: list[dict], pts: dict) -> None:
    w, r = inp.tile_w, DEFAULT_RES
    xmin, xmax, ymin, ymax = oracle.extent(geo["gt_x0"], geo["gt_y0"], geo["gt_xres"], geo["gt_yres"], w, w)
    a_img, a_cell = assignments(geo, w)
    p_img, p_zone = pip_pairs(geo, w, zones)

    # per-zone stats over the pairs
    zs_zone, zs_n = np.unique(p_zone, return_counts=True)
    zs_avg = np.array([np.round(means[p_img[p_zone == z]].mean(), 6) for z in zs_zone])

    # point samples: lowest image_id whose extent [xmin,xmax) x (ymin,ymax]
    # holds the point (candidates via the point's cell, as the engine does)
    by_cell: dict[int, list[int]] = {}
    for k, c in zip(a_img.tolist(), a_cell.tolist()):
        by_cell.setdefault(c, []).append(k)
    px, py = pts["x"], pts["y"]
    pcell = oracle.cell_encode(px, py, r).tolist()
    s_pt, s_img = [], []
    for p, c in enumerate(pcell):
        best = -1
        for k in by_cell.get(c, ()):
            if (best < 0 or k < best) and xmin[k] <= px[p] < xmax[k] and ymin[k] < py[p] <= ymax[k]:
                best = k
        if best >= 0:
            s_pt.append(p)
            s_img.append(best)
    s_pt = np.array(s_pt, dtype=np.int64)
    s_img = np.array(s_img, dtype=np.int64)
    pix = _pixels(inp)
    s_val = np.empty(len(s_pt))
    s_interp = np.empty(len(s_pt))
    for t, (p, k) in enumerate(zip(s_pt, s_img)):
        g = (geo["gt_x0"][k], geo["gt_y0"][k], geo["gt_xres"][k], geo["gt_yres"][k])
        s_val[t] = oracle.value_at(pix[k], px[p], py[p], *g)
        s_interp[t] = oracle.interp_bilinear(pix[k], px[p], py[p], *g)

    # checkpoint work units: parent cell of each paired image's anchor cell
    anchor = oracle.cell_encode(geo["gt_x0"], geo["gt_y0"], r)
    units = _parent(anchor[p_img], r, inp.unit_res)

    np.savez(
        inp.dir / "answers.npz",
        assign_img=a_img, assign_cell=a_cell,
        pair_img=p_img, pair_zone=p_zone, pair_mean=means[p_img], pair_unit=units,
        zone_id=zs_zone, zone_n=zs_n, zone_avg=zs_avg,
        sample_point=s_pt, sample_img=s_img, sample_val=s_val, sample_interp=s_interp,
    )
    if len(np.unique(units)) < 64:  # a quarter-kill must remove at least 16 units
        raise ValueError(f"only {len(np.unique(units))} checkpoint units at res {inp.unit_res}")
    scal = {
        "n_assign": int(len(a_img)),
        "assign_hash": row_hash(a_img, a_cell),
        "n_pairs": int(len(p_img)),
        "pair_hash": row_hash(p_img, p_zone),
        "n_units": int(len(np.unique(units))),
        "n_samples": int(len(s_pt)),
    }
    (inp.dir / "answers.json").write_text(json.dumps(scal, indent=1))


def _pixels(inp: Inputs) -> np.ndarray:
    """Decoded (n, h, w) pixels read back from the written images table."""
    t = pq.read_table(inp.path("images"), columns=["bytes"])
    buf = b"".join(t.column("bytes").to_pylist())
    return np.frombuffer(buf, dtype=np.uint8).reshape(inp.n_images, inp.tile_w, inp.tile_w)


def _parent(cell: np.ndarray, r_from: int, r_to: int) -> np.ndarray:
    _, ix, iy = oracle.cell_decode(cell)
    shift = r_from - r_to
    return (np.int64(r_to) << np.int64(RES_SHIFT)) + ((iy >> shift) << r_to) + (ix >> shift)
