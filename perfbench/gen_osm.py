"""Seeded synthetic OSM extract (FIXTURES.md §1 generator rules).

A Berlin-like bbox (lon 13.0-13.8, lat 52.3-52.7) holds a jittered grid of
DenseNodes whose ids run row by row, so consecutive ids are neighbours on
the map. Ways take 2-30 consecutive refs along a row; about 15 % are closed
(first ref repeated). Tags come from a fixed pool weighted like the
alexanderplatz fixture: highway, name, amenity, addr:*, surface, building.
Street names cluster in space: a name belongs to one coarse region, so ways
sharing a name lie near each other.

Relations:
- a grid of square level-8 admin districts, each a ring of four side ways
  over its own corner and mid-side nodes, one side way stored reversed, so
  ring stitching has to flip it;
- one level-6 relation around the whole district grid (filtered out by
  ``-l 8`` / ``-b 8``);
- cafe multipolygons (closed member ways) and bus routes over street ways
  and stop nodes, grouped under route masters, so the dependency closure
  runs its nested-relation rounds.

Everything is drawn from ``numpy.random.Generator(PCG64(seed))``; the
returned ``OsmExtract`` also carries the ground truth the benchmark checks
program output against.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

BBOX = (13.0, 52.3, 13.8, 52.7)  # lon0, lat0, lon1, lat1

#: values of STREET_HIGHWAY_VALUES, the ones street extraction keeps
STREET_HIGHWAYS = (
    "primary", "secondary", "tertiary", "residential",
    "service", "living_street", "pedestrian",
)
_OTHER_HIGHWAYS = ("footway", "track", "cycleway")
_AMENITIES = ("cafe", "restaurant", "bench", "bicycle_parking", "fountain",
              "pharmacy", "school", "bank")
_SURFACES = ("asphalt", "cobblestone", "paving_stones", "sett")
_STREET_WORDS = ("Haupt", "Linden", "Garten", "Kirch", "Schul", "Berg",
                 "Bahnhof", "Mühlen", "Wald", "Park", "Friedrich", "Rosen")


@dataclass
class OsmExtract:
    node_ids: np.ndarray           # int64, ascending
    lat_dm: np.ndarray             # int64 decimicro degrees
    lon_dm: np.ndarray
    node_tags: list                # list[dict], one per node
    ways: list                     # (id, refs, tags)
    relations: list                # (id, [(mtype, mid, role)], tags)
    # ground truth
    cafes: set = field(default_factory=set)          # {(type, id)}
    street_names: set = field(default_factory=set)   # named street highways
    districts: list = field(default_factory=list)    # (rel id, name, sw, ne)

    @property
    def n_entities(self) -> int:
        return len(self.node_ids) + len(self.ways) + len(self.relations)

    def nodes_table(self):
        return self.node_ids, self.lat_dm, self.lon_dm, self.node_tags


def generate_osm(
    seed: int,
    n_nodes: int = 100_000,
    n_ways: int = 12_000,
    districts: tuple[int, int] = (15, 10),
) -> OsmExtract:
    rng = np.random.Generator(np.random.PCG64(seed))
    lon0, lat0, lon1, lat1 = BBOX

    # --- grid nodes: rows of `gx` nodes, ids row-major -----------------------
    gx = int(np.sqrt(n_nodes * 2))  # bbox is twice as wide as tall
    gy = -(-n_nodes // gx)
    k = np.arange(n_nodes)
    col, row = k % gx, k // gx
    dx, dy = (lon1 - lon0) / gx, (lat1 - lat0) / gy
    lon = lon0 + (col + 0.5 + rng.uniform(-0.3, 0.3, n_nodes)) * dx
    lat = lat0 + (row + 0.5 + rng.uniform(-0.3, 0.3, n_nodes)) * dy
    node_ids = k.astype(np.int64) + 1
    lat_dm = np.round(lat * 1e7).astype(np.int64)
    lon_dm = np.round(lon * 1e7).astype(np.int64)

    node_tags: list = [{} for _ in range(n_nodes)]
    cafes: set = set()
    tagged = np.flatnonzero(rng.random(n_nodes) < 0.05)
    kinds = rng.random(len(tagged))
    amen = rng.integers(0, len(_AMENITIES), len(tagged))
    for i, u, a in zip(tagged.tolist(), kinds.tolist(), amen.tolist()):
        if u < 0.5:
            node_tags[i] = {"amenity": _AMENITIES[a], "name": f"POI {i}"}
            if a == 0:
                cafes.add(("node", int(node_ids[i])))
        else:
            node_tags[i] = {"addr:postcode": str(10115 + i % 90),
                            "addr:housenumber": str(1 + i % 120)}

    # --- ways: consecutive refs along one grid row ---------------------------
    ways: list = []
    street_names: set = set()
    street_ways: list = []  # ids of named street ways, for routes
    region_nx, region_ny = 8, 4
    lens = rng.integers(2, 31, n_ways)
    closed = rng.random(n_ways) < 0.15
    starts = rng.integers(0, n_nodes, n_ways)
    kind = rng.random(n_ways)
    pick = rng.integers(0, 1 << 30, (n_ways, 3))
    for w in range(n_ways):
        s = int(starts[w])
        r, c = divmod(s, gx)
        ln = min(int(lens[w]), gx - c, n_nodes - s)
        if closed[w]:
            ln = max(ln, 3)
            s = min(s, r * gx + gx - ln, n_nodes - ln)  # keep the ring on its row
        refs = list(range(s + 1, s + ln + 1))
        if len(refs) < 2:
            refs = [s, s + 1] if s > 0 else [1, 2]
        if closed[w]:
            refs.append(refs[0])
        p0, p1, p2 = (int(x) for x in pick[w])
        wid = 1_000_000 + w
        u = kind[w]
        if u < 0.58:
            if u < 0.50:
                hw = STREET_HIGHWAYS[p0 % len(STREET_HIGHWAYS)]
            else:
                hw = _OTHER_HIGHWAYS[p0 % len(_OTHER_HIGHWAYS)]
            tags = {"highway": hw}
            if p1 % 100 < 85:
                reg = (min(int(c * region_nx / gx), region_nx - 1)
                       + region_nx * min(int(r * region_ny / gy), region_ny - 1))
                name = f"{_STREET_WORDS[p2 % len(_STREET_WORDS)]}straße {reg}"
                tags["name"] = name
                if hw in STREET_HIGHWAYS:
                    street_names.add(name)
                    street_ways.append(wid)
            if p2 % 10 < 4:
                tags["surface"] = _SURFACES[p2 % len(_SURFACES)]
        elif closed[w] and u < 0.70:
            tags = {"amenity": "cafe", "name": f"Café {w}"}
            cafes.add(("way", wid))
        elif u < 0.90:
            tags = {"building": "yes", "addr:housenumber": str(1 + p1 % 200),
                    "addr:postcode": str(10115 + p2 % 90)}
        else:
            tags = {"landuse": ("grass", "residential", "forest")[p0 % 3]}
        ways.append((wid, refs, tags))

    # --- admin districts: squares of 4 side ways over their own nodes ---------
    extra_lat: list = []
    extra_lon: list = []
    next_node = n_nodes + 1
    next_way = 1_000_000 + n_ways
    relations: list = []
    district_truth: list = []
    nx, ny = districts
    m = 0.02  # grid inset from the bbox edge
    sx = (lon1 - lon0 - 2 * m) / nx
    sy = (lat1 - lat0 - 2 * m) / ny

    def new_node(x_dm: int, y_dm: int) -> int:
        nonlocal next_node
        extra_lon.append(x_dm)
        extra_lat.append(y_dm)
        next_node += 1
        return next_node - 1

    def ring_ways(x0, y0, x1, y1, rev_side, level) -> list:
        nonlocal next_way
        corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
        cids = [new_node(*p) for p in corners]
        side_ids = []
        for side in range(4):
            a, b = corners[side], corners[(side + 1) % 4]
            mid = new_node((a[0] + b[0]) // 2, (a[1] + b[1]) // 2)
            refs = [cids[side], mid, cids[(side + 1) % 4]]
            if side == rev_side:
                refs = refs[::-1]
            ways.append((next_way, refs, {"boundary": "administrative",
                                          "admin_level": level}))
            side_ids.append(next_way)
            next_way += 1
        return side_ids

    rel_id = 1
    rev = rng.integers(0, 4, nx * ny + 1)
    for j in range(ny):
        for i in range(nx):
            x0 = int(round((lon0 + m + i * sx) * 1e7))
            x1 = int(round((lon0 + m + (i + 1) * sx) * 1e7))
            y0 = int(round((lat0 + m + j * sy) * 1e7))
            y1 = int(round((lat0 + m + (j + 1) * sy) * 1e7))
            sides = ring_ways(x0, y0, x1, y1, int(rev[j * nx + i]), "8")
            name = f"District {j:02d}-{i:02d}"
            relations.append((rel_id, [("way", w, "outer") for w in sides],
                              {"type": "boundary", "boundary": "administrative",
                               "admin_level": "8", "name": name}))
            district_truth.append((rel_id, name, (x0, y0), (x1, y1)))
            rel_id += 1
    outer = ring_ways(int(round((lon0 + m / 2) * 1e7)), int(round((lat0 + m / 2) * 1e7)),
                      int(round((lon1 - m / 2) * 1e7)), int(round((lat1 - m / 2) * 1e7)),
                      int(rev[-1]), "6")
    relations.append((rel_id, [("way", w, "outer") for w in outer],
                      {"type": "boundary", "boundary": "administrative",
                       "admin_level": "6", "name": "Bezirk"}))
    rel_id += 1

    # --- cafe multipolygons and bus routes -----------------------------------
    closed_ways = [w for w in ways if w[1][0] == w[1][-1] and "boundary" not in w[2]]
    for w in rng.choice(len(closed_ways), min(len(closed_ways), n_ways // 200),
                        replace=False).tolist():
        relations.append((rel_id, [("way", closed_ways[w][0], "outer")],
                          {"type": "multipolygon", "amenity": "cafe",
                           "name": f"Café Hof {rel_id}"}))
        cafes.add(("relation", rel_id))
        rel_id += 1
    n_routes = max(2, n_ways // 400)
    route_ids = []
    for _ in range(n_routes):
        nw = int(rng.integers(3, 12))
        members = [("way", int(w), "") for w in rng.choice(street_ways, nw)]
        members += [("node", int(x), "stop") for x in rng.integers(1, n_nodes + 1, 3)]
        relations.append((rel_id, members, {"type": "route", "route": "bus",
                                            "ref": str(100 + rel_id % 300)}))
        route_ids.append(rel_id)
        rel_id += 1
    for s in range(0, len(route_ids), 4):
        relations.append((rel_id, [("relation", r, "") for r in route_ids[s : s + 4]],
                          {"type": "route_master", "route_master": "bus"}))
        rel_id += 1

    return OsmExtract(
        node_ids=np.concatenate([node_ids, np.arange(n_nodes + 1, next_node, dtype=np.int64)]),
        lat_dm=np.concatenate([lat_dm, np.asarray(extra_lat, dtype=np.int64)]),
        lon_dm=np.concatenate([lon_dm, np.asarray(extra_lon, dtype=np.int64)]),
        node_tags=node_tags + [{} for _ in extra_lat],
        ways=ways,
        relations=relations,
        cafes=cafes,
        street_names=street_names,
        districts=district_truth,
    )
