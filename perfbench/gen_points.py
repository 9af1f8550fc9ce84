"""Seeded clustered points and district polygons for the spatial workloads.

Districts: a 16 x 16 grid (256 polygons) over the city bbox, inset from its
edge. Interior grid vertices are jittered and shared by neighbouring
districts, so the polygons tile their area without overlap and are not
axis-aligned rectangles. Every tenth district has a square hole (a lake).

Points: 80 % are drawn around a few dozen Gaussian hot spots, 20 % uniformly
over the whole bbox; points in the margin or in a lake fall outside every
polygon. Coordinates are clipped to the bbox.

``brute_force_pip`` is the ground truth the benchmark checks the engine's
polygon counts against: an even-odd ray cast of every point against every
ring of every polygon whose bbox holds it, NumPy only.
"""

from __future__ import annotations

import numpy as np

from gen_osm import BBOX

GRID = 16


def district_polygons(seed: int) -> list[dict]:
    """[{key, polygons: [[outer ring, (hole)]]}] in the engine's polygon-row
    layout (rings are closed lists of (lon, lat))."""
    rng = np.random.Generator(np.random.PCG64(seed))
    lon0, lat0, lon1, lat1 = BBOX
    m = 0.02
    xs = np.linspace(lon0 + m, lon1 - m, GRID + 1)
    ys = np.linspace(lat0 + m, lat1 - m, GRID + 1)
    vx, vy = np.meshgrid(xs, ys, indexing="ij")
    jx = rng.uniform(-0.2, 0.2, vx.shape) * (xs[1] - xs[0])
    jy = rng.uniform(-0.2, 0.2, vy.shape) * (ys[1] - ys[0])
    jx[[0, -1], :] = 0.0  # keep the outer frame straight
    jy[:, [0, -1]] = 0.0
    vx, vy = vx + jx, vy + jy
    rows = []
    for i in range(GRID):
        for j in range(GRID):
            ring = [
                (float(vx[i, j]), float(vy[i, j])),
                (float(vx[i + 1, j]), float(vy[i + 1, j])),
                (float(vx[i + 1, j + 1]), float(vy[i + 1, j + 1])),
                (float(vx[i, j + 1]), float(vy[i, j + 1])),
            ]
            ring.append(ring[0])
            rings = [ring]
            if (i * GRID + j) % 10 == 0:
                cx = float(np.mean([p[0] for p in ring[:4]]))
                cy = float(np.mean([p[1] for p in ring[:4]]))
                hx, hy = 0.15 * (xs[1] - xs[0]), 0.15 * (ys[1] - ys[0])
                rings.append([(cx - hx, cy - hy), (cx - hx, cy + hy),
                              (cx + hx, cy + hy), (cx + hx, cy - hy), (cx - hx, cy - hy)])
            rows.append({"key": f"D{i:02d}{j:02d}", "polygons": [rings]})
    return rows


def clustered_points(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed + 1))
    lon0, lat0, lon1, lat1 = BBOX
    n_hot = int(n * 0.8)
    centers = rng.uniform((lon0, lat0), (lon1, lat1), (40, 2))
    which = rng.integers(0, len(centers), n_hot)
    spread = rng.uniform(0.005, 0.04, len(centers))[which]
    hot = centers[which] + rng.normal(0.0, 1.0, (n_hot, 2)) * spread[:, None]
    uni = rng.uniform((lon0, lat0), (lon1, lat1), (n - n_hot, 2))
    pts = np.vstack([hot, uni])
    pts = pts[rng.permutation(n)]
    lon = np.clip(pts[:, 0], lon0, lon1)
    lat = np.clip(pts[:, 1], lat0, lat1)
    return lon, lat


def _in_ring(px: np.ndarray, py: np.ndarray, ring) -> np.ndarray:
    r = np.asarray(ring, dtype=np.float64)
    inside = np.zeros(len(px), dtype=bool)
    for (x0, y0), (x1, y1) in zip(r[:-1], r[1:]):
        crosses = (y0 > py) != (y1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
        inside ^= crosses & (px < xi)
    return inside


def brute_force_pip(lon: np.ndarray, lat: np.ndarray, polygons: list[dict]) -> np.ndarray:
    """Index of the polygon holding each point (first in list order), -1 if
    none."""
    out = np.full(len(lon), -1, dtype=np.int64)
    order = np.argsort(lon, kind="stable")
    slon = lon[order]
    for idx, row in enumerate(polygons):
        for rings in row["polygons"]:
            outer = np.asarray(rings[0])
            a = np.searchsorted(slon, outer[:, 0].min(), side="left")
            b = np.searchsorted(slon, outer[:, 0].max(), side="right")
            cand = order[a:b]
            cand = cand[(lat[cand] >= outer[:, 1].min()) & (lat[cand] <= outer[:, 1].max())]
            cand = cand[out[cand] < 0]
            hit = _in_ring(lon[cand], lat[cand], rings[0])
            for hole in rings[1:]:
                hit &= ~_in_ring(lon[cand], lat[cand], hole)
            out[cand[hit]] = idx
    return out
