"""Checks of the benchmark's own input generators, trace arithmetic and
host-speed canary.

    python3 -m pytest perfbench/tests -q

No Spark session is started: the PBF round trip goes through the engine's
single-process decoder and the blob index the distributed decode uses.
"""

import hashlib
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.dirname(HERE))

import gen_osm  # noqa: E402
import gen_points  # noqa: E402
import pbf_writer  # noqa: E402
from hostspeed import NOMINAL_S, Canary  # noqa: E402
from kernels import stitch_inputs  # noqa: E402
from run import tail_percentile  # noqa: E402
from tracing import Tracer  # noqa: E402

from osm_pbf2json_spark.sources import pbf  # noqa: E402

SMALL = dict(n_nodes=9_000, n_ways=1_500, districts=(4, 3))


def _write(tmp_path, seed, name="x.osm.pbf"):
    osm = gen_osm.generate_osm(seed, **SMALL)
    path = str(tmp_path / name)
    pbf_writer.write_pbf(path, osm.nodes_table(), osm.ways, osm.relations)
    return osm, path


def _expected(osm):
    nodes = [
        (i, la * 1e-7, lo * 1e-7, t)
        for i, la, lo, t in zip(osm.node_ids.tolist(), osm.lat_dm.tolist(),
                                osm.lon_dm.tolist(), osm.node_tags)
    ]
    ways = [(w, list(refs), tags) for w, refs, tags in osm.ways]
    rels = [(r, [tuple(m) for m in mem], tags) for r, mem, tags in osm.relations]
    return nodes, ways, rels


def test_decode_pbf_round_trip(tmp_path):
    osm, path = _write(tmp_path, 3)
    got = pbf.decode_pbf(path)
    nodes, ways, rels = _expected(osm)
    assert got.nodes == nodes
    assert got.ways == ways
    assert got.relations == rels


def test_blob_index_round_trip(tmp_path):
    """Decoding blob by blob from scan_blob_index, as the executors of the
    distributed decode do, gives back every entity."""
    osm, path = _write(tmp_path, 4)
    idx = pbf.scan_blob_index(path)
    per_block = pbf_writer.ENTITIES_PER_BLOCK
    n_blobs = sum(-(-n // per_block) for n in
                  (len(osm.node_ids), len(osm.ways), len(osm.relations)))
    assert len(idx) == n_blobs
    out = pbf.PbfData()
    with open(path, "rb") as f:
        for off, size in idx:
            f.seek(off)
            pbf._decode_primitive_block(pbf._blob_payload(f.read(size)), out)
    nodes, ways, rels = _expected(osm)
    assert (out.nodes, out.ways, out.relations) == (nodes, ways, rels)


def test_same_seed_same_bytes(tmp_path):
    digests = []
    for name, seed in (("a.pbf", 5), ("b.pbf", 5), ("c.pbf", 6)):
        _, path = _write(tmp_path, seed, name)
        with open(path, "rb") as f:
            digests.append(hashlib.sha256(f.read()).hexdigest())
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_osm_ground_truth_shape():
    osm = gen_osm.generate_osm(7, **SMALL)
    assert len(osm.districts) == 12
    assert osm.cafes and osm.street_names
    ways = {w: (refs, tags) for w, refs, tags in osm.ways}
    closed = [refs[0] == refs[-1] for refs, tags in ways.values() if "boundary" not in tags]
    assert 0.10 < np.mean(closed) < 0.20
    for rid, name, sw, ne in osm.districts:
        rel = next(r for r in osm.relations if r[0] == rid)
        assert rel[2]["name"] == name and rel[2]["admin_level"] == "8"
        assert len(rel[1]) == 4 and sw < ne


def test_varints_match_the_decoder():
    vals = np.array([0, 1, 127, 128, 300, 2**35 + 7, 2**63 - 1], dtype=np.uint64)
    buf, offs = pbf_writer.encode_varints(vals)
    assert pbf._packed_varints(buf) == [int(v) for v in vals]
    assert offs[-1] == len(buf)
    signed = np.array([0, -1, 1, -300, 2**40, -(2**40)], dtype=np.int64)
    assert pbf._packed_sints(pbf_writer._packed(pbf_writer._zigzag(signed))) == signed.tolist()


def test_points_reproducible_and_polygons_disjoint():
    a = gen_points.clustered_points(9, 20_000)
    b = gen_points.clustered_points(9, 20_000)
    assert all(np.array_equal(x, y) for x, y in zip(a, b))
    polys = gen_points.district_polygons(9)
    assert len(polys) == 256
    lon, lat = a
    hits = np.zeros(len(lon), dtype=np.int64)
    for rings in (p["polygons"][0] for p in polys):
        inside = gen_points._in_ring(lon, lat, rings[0])
        for hole in rings[1:]:
            inside &= ~gen_points._in_ring(lon, lat, hole)
        hits += inside
    assert hits.max() == 1
    assert 0.05 < (hits == 0).mean() < 0.30


def test_brute_force_pip_agrees_with_engine_index():
    from osm_pbf2json_spark.operators.spatial import BroadcastPolygonIndex

    polys = gen_points.district_polygons(2)
    lon, lat = gen_points.clustered_points(2, 50_000)
    truth = gen_points.brute_force_pip(lon, lat, polys)
    assert np.array_equal(BroadcastPolygonIndex(polys).lookup(lon, lat), truth)


def test_stitch_inputs_close_every_ring():
    from osm_pbf2json_spark.functions.geometry import stitch_rings

    rings = stitch_inputs(n_rings=20)
    assert [len(stitch_rings(i, c)) for i, c in rings] == [1] * 20


@pytest.mark.parametrize("n,expect", [(10, None), (11, (100 / 11, 1.0)), (20, (50.0, 10.0))])
def test_tail_percentile(n, expect):
    times = [float(i) for i in range(1, n + 1)]
    assert tail_percentile(times) == expect


def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.span("job", "walk") as root:
        with tr.span("sources", "a") as a:
            pass
        with tr.span("closure", "b") as b:
            pass
    selfs = tr.self_times()
    dur = lambda s: s.end - s.start  # noqa: E731
    assert selfs[root.span_id] == pytest.approx(dur(root) - dur(a) - dur(b))
    assert selfs[a.span_id] == pytest.approx(dur(a))
    m = tr.layer_metrics()
    assert set(m) >= {"sources.s", "closure.self_s", "sources.jobs"}
    assert "job.s" not in m


def test_canary_factor_uses_samples_inside_windows():
    c = Canary("unused")
    c.samples = [(1.0, 0.010), (2.0, 0.020), (3.0, 0.030), (4.0, 0.040), (9.0, 0.080)]
    assert c.median_s([(1.5, 3.5)]) == pytest.approx(0.025)
    assert c.median_s([(0.5, 1.5), (3.5, 4.5)]) == pytest.approx(0.025)
    assert c.factor([(8.5, 9.5)]) == pytest.approx(NOMINAL_S / 0.080)
    # a window between two samples falls back to the nearest one
    assert c.median_s([(8.0, 8.2)]) == pytest.approx(0.080)


def test_canary_process_samples_and_stops(tmp_path):
    import time

    with Canary(str(tmp_path / "canary.txt")) as c:
        time.sleep(1.5)
    assert c.proc.poll() is not None
    assert len(c.samples) >= 2
    assert all(dt > 0 for _, dt in c.samples)
