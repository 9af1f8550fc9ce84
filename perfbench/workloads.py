"""The three benchmark workloads.

Each workload generates its inputs from the seed (``generate``, not timed
as set-up), materializes what the program itself would cache (``materialize``,
part of set-up), runs one complete job (``job``), checks that job's output
against the generator's ground truth (``check``) and, for the traced run,
walks the same pipeline layer by layer (``traced_walk``), calling each
layer's public functions and materializing the result between calls.
"""

from __future__ import annotations

import collections
import json
import os
import shutil

import numpy as np

import gen_osm
import gen_points
import pbf_writer

# Input sizes. Chosen so one run of every workload, with set-up, fits the
# benchmark's time budget on a 4-core machine (see README.md).
OSM_NODES = 40_000
OSM_WAYS = 4_800
OSM_DISTRICTS = (15, 10)        # 150 level-8 admin squares
PIP_POINTS = 1_000_000
TILE_POINTS = 400_000
HEX_RES = 9                     # tile resolution of both spatial workloads
PREFIX_RES, PREFIX_PARENT = 12, 11  # quad prefix for tile_ingest partitioning

OSM_COMMANDS = (
    ("objects", ["objects", "-t", "amenity~cafe"]),
    ("streets", ["streets", "-b", "8"]),
    ("boundaries", ["boundaries", "--geojson", "-l", "8"]),
)


def _persist_count(df):
    df = df.persist()
    return df, df.count()


def _persist_tables(tables):
    from osm_pbf2json_spark.operators.closure import EntityTables

    n = 0
    out = []
    for df in (tables.nodes, tables.ways, tables.relations):
        df, c = _persist_count(df)
        out.append(df)
        n += c
    return EntityTables(*out), n


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class OsmExtract:
    """The reference's own use: three CLI commands on one .osm.pbf."""

    name = "osm_extract"

    def __init__(self, n_nodes=OSM_NODES, n_ways=OSM_WAYS, districts=OSM_DISTRICTS):
        self.sizes = (n_nodes, n_ways, districts)

    def generate(self, seed: int, work: str) -> dict:
        self.osm = gen_osm.generate_osm(seed, *self.sizes)
        self.pbf = os.path.join(work, "input.osm.pbf")
        size = pbf_writer.write_pbf(self.pbf, self.osm.nodes_table(), self.osm.ways,
                                    self.osm.relations)
        self.input_rows = self.osm.n_entities
        return {"nodes": len(self.osm.node_ids), "ways": len(self.osm.ways),
                "relations": len(self.osm.relations), "pbf_bytes": size,
                "admin_level8": len(self.osm.districts)}

    def materialize(self, spark):
        """Nothing to cache: every CLI command decodes the PBF itself."""

    def warm_up(self, spark, out_dir: str):
        """The first decode/closure/resolve in a JVM pays most of the
        one-off JIT and codegen cost; one objects command absorbs it. (A
        full job would absorb the rest, about a fifth of the next job, but
        costs as much as the timed job itself.)"""
        from osm_pbf2json_spark import cli

        with open(os.path.join(out_dir, "warm.jsonl"), "w") as f:
            cli.main([self.pbf, *OSM_COMMANDS[0][1]], spark=spark, out=f)

    def job(self, spark, out_dir: str):
        from osm_pbf2json_spark import cli

        paths = {}
        for name, argv in OSM_COMMANDS:
            paths[name] = os.path.join(out_dir, f"{name}.out")
            with open(paths[name], "w") as f:
                cli.main([self.pbf, *argv], spark=spark, out=f)
        return paths

    def check(self, paths) -> list[str]:
        errs = []
        with open(paths["objects"]) as f:
            got = {(o["type"], o["id"]) for o in map(json.loads, f)}
        if got != self.osm.cafes:
            errs.append(f"objects: {len(got ^ self.osm.cafes)} ids differ")
        with open(paths["streets"]) as f:
            streets = [json.loads(line) for line in f]
        names = {s["name"] for s in streets}
        if names != self.osm.street_names:
            errs.append(f"streets: {len(names ^ self.osm.street_names)} names differ")
        districts = {d[1] for d in self.osm.districts}
        bad = sum(1 for s in streets if s.get("boundary") not in districts | {None})
        if bad:
            errs.append(f"streets: {bad} rows name an unknown boundary")
        with open(paths["boundaries"]) as f:
            feats = json.load(f)["features"]
        want = {d[1]: (d[2], d[3]) for d in self.osm.districts}
        got_b = {}
        for ft in feats:
            pts = np.array([p for poly in ft["geometry"]["coordinates"]
                            for ring in poly for p in ring])
            got_b[ft["properties"]["name"]] = (pts.min(axis=0), pts.max(axis=0),
                                               ft["properties"]["admin_level"])
        if set(got_b) != set(want):
            errs.append(f"boundaries: {len(set(got_b) ^ set(want))} relations differ")
        else:
            for name, (sw, ne) in want.items():
                lo, hi, level = got_b[name]
                exp = np.array([sw, ne], dtype=np.float64) * 1e-7
                if level != "8" or not np.allclose([lo, hi], exp, rtol=0, atol=1e-9):
                    errs.append(f"boundaries: {name} has the wrong bbox or level")
                    break
        return errs

    def traced_walk(self, spark, tracer, out_dir: str) -> dict:
        from osm_pbf2json_spark.functions.filter_dsl import (
            build_admin_groups, build_street_groups, compile_groups, compile_selector)
        from osm_pbf2json_spark.operators.boundaries import boundaries_from_closure
        from osm_pbf2json_spark.operators.closure import closure
        from osm_pbf2json_spark.operators.objects import objects
        from osm_pbf2json_spark.operators.resolve import (
            resolve_relation_coords, resolve_way_coords)
        from osm_pbf2json_spark.operators.streets import (
            extract_streets, split_streets_broadcast)
        from osm_pbf2json_spark import sinks
        from osm_pbf2json_spark.sources.pbf import load_pbf_distributed, scan_blob_index

        extra = {"sinks.bytes_out": 0}

        def sink(call, lines_fn, fname):
            """Run one sink and write its lines to a file, as the CLI does."""
            with tracer.span("sinks", call) as sp:
                lines = lines_fn()
                path = os.path.join(out_dir, fname)
                with open(path, "w") as f:
                    f.writelines(line + "\n" for line in lines)
                sp.rows_out = len(lines)
                extra["sinks.bytes_out"] += os.path.getsize(path)

        with tracer.span("sources", "scan_blob_index") as sp:
            sp.rows_out = len(scan_blob_index(self.pbf))
        with tracer.span("sources", "load_pbf_distributed") as sp:
            tables, sp.rows_out = _persist_tables(load_pbf_distributed(spark, self.pbf))

        pred = compile_selector("amenity~cafe")
        with tracer.span("closure", "closure[amenity~cafe]") as sp:
            closed, sp.rows_out = _persist_tables(closure(tables, pred))
        with tracer.span("resolve", "resolve_way_coords") as sp:
            way_coords, sp.rows_out = _persist_count(
                resolve_way_coords(closed.ways, closed.nodes))
        with tracer.span("resolve", "resolve_relation_coords") as sp:
            _, sp.rows_out = _persist_count(
                resolve_relation_coords(closed.relations, way_coords, closed.nodes))
        with tracer.span("objects", "objects") as sp:
            obj, sp.rows_out = _persist_count(objects(tables, "amenity~cafe"))
        sink("objects_json_lines",
             lambda: [r["value"] for r in sinks.objects_json_lines(obj).collect()],
             "objects.jsonl")

        with tracer.span("closure", "closure[admin_level=8]") as sp:
            admin, sp.rows_out = _persist_tables(
                closure(tables, compile_groups(build_admin_groups([8]))))
        with tracer.span("boundaries", "boundaries_from_closure") as sp:
            bdf, sp.rows_out = _persist_count(boundaries_from_closure(admin))
        sink("boundaries_geojson", lambda: [sinks.boundaries_geojson(bdf.orderBy("relation_id"))],
             "boundaries.geojson")

        with tracer.span("closure", "closure[streets]") as sp:
            sclosed, sp.rows_out = _persist_tables(
                closure(tables, compile_groups(build_street_groups(None))))
        with tracer.span("streets", "extract_streets") as sp:
            ext, sp.rows_out = _persist_count(extract_streets(sclosed.ways, sclosed.nodes))
        with tracer.span("streets", "split_streets_broadcast") as sp:
            brows = [r.asDict(recursive=True) for r in bdf.collect()]
            split, sp.rows_out = _persist_count(split_streets_broadcast(ext, brows))
        extra["streets.split_s"] = sp.end - sp.start
        sink("streets_json_lines",
             lambda: [r["value"] for r in sinks.streets_json_lines(
                 split.orderBy("name", "boundary", "id")).collect()],
             "streets.jsonl")
        errs = self.check({"objects": os.path.join(out_dir, "objects.jsonl"),
                           "streets": os.path.join(out_dir, "streets.jsonl"),
                           "boundaries": os.path.join(out_dir, "boundaries.geojson")})
        if errs:
            raise AssertionError("; ".join(errs))
        return extra


class _Points:
    """Shared input of the two spatial workloads: clustered points written
    as parquet, read back and cached by the program's set-up."""

    def __init__(self, n_points: int):
        self.n_points = n_points

    def generate(self, seed: int, work: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.polys = gen_points.district_polygons(seed)
        self.lon, self.lat = gen_points.clustered_points(seed, self.n_points)
        self.truth_idx = gen_points.brute_force_pip(self.lon, self.lat, self.polys)
        keys = [p["key"] for p in self.polys]
        counts = np.bincount(self.truth_idx + 1, minlength=len(keys) + 1)
        self.truth_counts = {k: int(c) for k, c in zip([None, *keys], counts) if c}
        self.points_path = os.path.join(work, "points.parquet")
        pq.write_table(pa.table({"lon": self.lon, "lat": self.lat}), self.points_path)
        self.input_rows = self.n_points
        return {"points": self.n_points, "polygons": len(self.polys),
                "outside_frac": round(self.truth_counts.get(None, 0) / self.n_points, 4)}

    def materialize(self, spark):
        par = 2 * spark.sparkContext.defaultParallelism
        self.points, _ = _persist_count(spark.read.parquet(self.points_path).repartition(par))

    def warm_up(self, spark, out_dir: str):
        """One full job, which absorbs most of the JIT compilation of the
        Arrow and aggregation paths (the next job is still a few per cent
        slower than later ones; the median over the loop absorbs that)."""
        self.check(self.job(spark, out_dir))


class PipRollup(_Points):
    """Flagship: fused PIP + hex tile + map-side combine, small aggregate back."""

    name = "pip_rollup"

    def __init__(self, n_points: int = PIP_POINTS):
        super().__init__(n_points)

    def job(self, spark, out_dir: str):
        """The aggregate comes back through Arrow (``toPandas``), the way a
        client would fetch about 85k rows."""
        from osm_pbf2json_spark.operators.spatial import pip_tile_rollup

        return pip_tile_rollup(self.points, self.polys, res=HEX_RES).toPandas()

    def check(self, pdf) -> list[str]:
        sums = pdf.groupby("polygon_key", dropna=False)["n_points"].sum()
        got = {None if not isinstance(k, str) else k: int(v) for k, v in sums.items()}
        errs = []
        if sum(got.values()) != self.n_points:
            errs.append(f"total {sum(got.values())} != {self.n_points} points")
        diff = [k for k in set(got) | set(self.truth_counts)
                if got.get(k, 0) != self.truth_counts.get(k, 0)]
        if diff:
            errs.append(f"{len(diff)} polygons have the wrong point count")
        return errs

    def traced_walk(self, spark, tracer, out_dir: str) -> dict:
        from osm_pbf2json_spark.operators.spatial import pip_tile_rollup

        with tracer.span("spatial", "pip_tile_rollup") as sp:
            rows = pip_tile_rollup(self.points, self.polys, res=HEX_RES).toPandas()
            sp.rows_out = len(rows)
        errs = self.check(rows)
        if errs:
            raise AssertionError("; ".join(errs))
        return {"tiles.combine_ratio": self.n_points / len(rows)}


class TileIngest(_Points):
    """Spatial layer used for writes: annotate, tile, partition, write."""

    name = "tile_ingest"

    def __init__(self, n_points: int = TILE_POINTS):
        super().__init__(n_points)

    def generate(self, seed: int, work: str) -> dict:
        from osm_pbf2json_spark.functions import tiles

        info = super().generate(seed, work)
        prefix = tiles.quad_parent(tiles.quad_cell(self.lon, self.lat, PREFIX_RES), PREFIX_PARENT)
        u, c = np.unique(prefix, return_counts=True)
        self.truth_parts = {str(k): int(n) for k, n in zip(u.tolist(), c.tolist())}
        info["prefix_partitions"] = len(u)
        return info

    def _plan(self, spark):
        from osm_pbf2json_spark.operators.spatial import pip_join_broadcast, point_tile
        from osm_pbf2json_spark.plans.partitioning import repartition_by_tile_prefix

        ann = pip_join_broadcast(self.points, self.polys)
        tiled = point_tile(ann, HEX_RES)
        return repartition_by_tile_prefix(
            tiled, 4 * spark.sparkContext.defaultParallelism,
            res=PREFIX_RES, parent_res=PREFIX_PARENT)

    def job(self, spark, out_dir: str):
        from osm_pbf2json_spark.plans.lineage import run_partitioned

        dest = os.path.join(out_dir, "tiles")
        shutil.rmtree(dest, ignore_errors=True)
        recs = run_partitioned(self._plan(spark), "_prefix", dest)
        return spark, dest, recs

    def check(self, result) -> list[str]:
        import pyarrow.parquet as pq
        import pyspark.sql.functions as F

        spark, dest, recs = result
        errs = []
        rows = {r["part_id"]: r["rows"] for r in recs}
        if sum(rows.values()) != self.n_points:
            errs.append(f"manifest rows {sum(rows.values())} != {self.n_points}")
        if rows != self.truth_parts:
            errs.append("manifest rows per partition differ from the prefix truth")
        back = spark.read.parquet(dest)
        data_cols = [c for c in back.columns if c != "part"]
        sums = {
            str(r["part"]): int(r["c"])
            for r in back.groupBy("part").agg(F.coalesce(
                F.bit_xor(F.xxhash64(F.to_json(F.struct(*data_cols)))), F.lit(0)
            ).alias("c")).collect()
        }
        if sums != {r["part_id"]: r["checksum"] for r in recs}:
            errs.append("manifest checksums differ from the read-back")
        keys = pq.read_table(dest, columns=["polygon_key"]).column(0).to_pylist()
        if dict(collections.Counter(keys)) != self.truth_counts:
            errs.append("polygon annotation differs from brute-force PIP")
        return errs

    def traced_walk(self, spark, tracer, out_dir: str) -> dict:
        from osm_pbf2json_spark.operators.spatial import pip_join_broadcast, point_tile
        from osm_pbf2json_spark.plans.lineage import run_partitioned
        from osm_pbf2json_spark.plans.partitioning import repartition_by_tile_prefix

        with tracer.span("spatial", "pip_join_broadcast") as sp:
            ann, sp.rows_out = _persist_count(pip_join_broadcast(self.points, self.polys))
        with tracer.span("tiles", "point_tile") as sp:
            tiled, sp.rows_out = _persist_count(point_tile(ann, HEX_RES))
        with tracer.span("plans", "repartition_by_tile_prefix") as sp:
            parts, sp.rows_out = _persist_count(repartition_by_tile_prefix(
                tiled, 4 * spark.sparkContext.defaultParallelism,
                res=PREFIX_RES, parent_res=PREFIX_PARENT))
        dest = os.path.join(out_dir, "tiles_traced")
        with tracer.span("plans", "run_partitioned") as sp:
            recs = run_partitioned(parts, "_prefix", dest)
            sp.rows_out = sum(r["rows"] for r in recs)
        errs = self.check((spark, dest, recs))
        if errs:
            raise AssertionError("; ".join(errs))
        return {"plans.partitions_written": len(recs), "plans.bytes_written": _dir_bytes(dest)}


WORKLOADS = {w.name: w for w in (OsmExtract, PipRollup, TileIngest)}

#: Small fixed-seed walks a traced run adds for the layers its own workload
#: does not reach, so every traced run reports every layer with a measured
#: value: the OSM layers through a 20k-node extract, the spatial layers
#: through 100k points (rollup, then pip_join_broadcast/point_tile/plans).
PROBE_SEED = 0
PROBES = {
    "osm_extract": (lambda: PipRollup(100_000), lambda: TileIngest(100_000)),
    "pip_rollup": (lambda: OsmExtract(20_000, 2_400, (5, 4)), lambda: TileIngest(100_000)),
    "tile_ingest": (lambda: OsmExtract(20_000, 2_400, (5, 4)), lambda: PipRollup(100_000)),
}
