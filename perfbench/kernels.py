"""Kernel micro-timings: fixed seeded inputs through public kernels.

Inputs never depend on the workload seed, so the figures compare across
runs and commits. Each kernel runs several times in this (driver) process
and the median is reported, in ms per batch or ns per point, not as a
speed-up:

- ``sources.decode_pbf`` on a fixed small PBF -> decoded entities per second
- ``spatial.BroadcastPolygonIndex`` build over the 256 districts -> ms
- ``BroadcastPolygonIndex.lookup`` on fixed batches of 65,536 clustered
  points -> ms per batch, and the share of points that hit a polygon
- ``tiles.hex_cell`` (res 9) on the same batches -> ns per point
- ``geometry.stitch_rings`` once per ring over 200 fixed rings cut into
  shuffled, partly reversed pieces -> ms for the whole set
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

import gen_osm
import gen_points
import pbf_writer

BATCH = 65_536
N_BATCHES = 8
REPEATS = 5
FIXED_SEED = 0


def _median_time(fn, repeats: int = REPEATS) -> float:
    ts = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def stitch_inputs(seed: int = FIXED_SEED, n_rings: int = 200):
    """Per ring, its member ways: the ring cut into 3-8 pieces, shuffled,
    about a third reversed — what one boundary relation hands to ring
    stitching."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rings = []
    nid = 1
    for _ in range(n_rings):
        n = int(rng.integers(12, 40))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        cx, cy = rng.uniform(13.0, 13.8), rng.uniform(52.3, 52.7)
        xy = np.column_stack([cx + 0.01 * np.cos(ang), cy + 0.01 * np.sin(ang)])
        ring_ids = list(range(nid, nid + n))
        nid += n
        cuts = np.sort(rng.choice(np.arange(1, n), int(rng.integers(2, 8)), replace=False))
        bounds = [0, *cuts.tolist(), n]
        pieces = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            idx = [i % n for i in range(a, b + 1)]
            p_ids = [ring_ids[i] for i in idx]
            p_xy = xy[idx]
            if rng.random() < 0.33:
                p_ids, p_xy = p_ids[::-1], p_xy[::-1]
            pieces.append((p_ids, p_xy))
        order = rng.permutation(len(pieces)).tolist()
        rings.append(([pieces[k][0] for k in order], [pieces[k][1] for k in order]))
    return rings


def run_kernels(work_dir: str, tracer) -> dict:
    from osm_pbf2json_spark.functions import tiles
    from osm_pbf2json_spark.functions.geometry import stitch_rings
    from osm_pbf2json_spark.operators.spatial import BroadcastPolygonIndex
    from osm_pbf2json_spark.sources.pbf import decode_pbf

    out: dict = {}
    osm = gen_osm.generate_osm(FIXED_SEED, n_nodes=20_000, n_ways=2_400, districts=(5, 4))
    pbf = os.path.join(work_dir, "kernel_fixed.osm.pbf")
    pbf_writer.write_pbf(pbf, osm.nodes_table(), osm.ways, osm.relations)
    with tracer.span("sources", "decode_pbf") as sp:
        dt = _median_time(lambda: decode_pbf(pbf), repeats=3)
        sp.rows_out = osm.n_entities
    out["sources.decode_entities_per_s"] = osm.n_entities / dt

    polys = gen_points.district_polygons(FIXED_SEED)
    lon, lat = gen_points.clustered_points(FIXED_SEED, BATCH * N_BATCHES)
    with tracer.span("spatial", "BroadcastPolygonIndex") as sp:
        out["spatial.index_build_ms"] = 1e3 * _median_time(lambda: BroadcastPolygonIndex(polys))
        index = BroadcastPolygonIndex(polys)
        sp.rows_out = len(polys)
    with tracer.span("spatial", "BroadcastPolygonIndex.lookup") as sp:
        per_batch, hits = [], 0
        for b in range(N_BATCHES):
            x, y = lon[b * BATCH : (b + 1) * BATCH], lat[b * BATCH : (b + 1) * BATCH]
            t0 = time.perf_counter()
            h = index.lookup(x, y)
            per_batch.append(time.perf_counter() - t0)
            hits += int((h >= 0).sum())
        sp.rows_out = len(lon)
    out["spatial.lookup_ms_per_batch"] = 1e3 * statistics.median(per_batch)
    out["spatial.hit_frac"] = hits / len(lon)
    with tracer.span("tiles", "hex_cell") as sp:
        dt = _median_time(lambda: tiles.hex_cell(lon, lat, 9))
        sp.rows_out = len(lon)
    out["tiles.hex_cell_ns_per_pt"] = 1e9 * dt / len(lon)

    rings = stitch_inputs()
    with tracer.span("geometry", "stitch_rings") as sp:
        dt = _median_time(lambda: [stitch_rings(i, c) for i, c in rings])
        sp.rows_out = sum(len(stitch_rings(i, c)) for i, c in rings)
    if sp.rows_out != len(rings):
        raise AssertionError(f"stitch_rings closed {sp.rows_out} of {len(rings)} rings")
    out["geometry.stitch_rings_ms"] = 1e3 * dt
    return out
