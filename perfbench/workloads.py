"""The benchmark workloads: four pipelines run as two workloads.

``tiles`` runs the point tileset build and the line/polygon feature
tiling, ``joins`` runs the spatial joins and the exact DBSCAN; the
pairing keeps every layer measured while paying one Spark start per
run for two pipelines.  Each pipeline generates its inputs from the
seed and writes them as parquet under the run's work directory
(``setup``).  ``run`` is one untraced pass: from the input scan
(``io_scan.read_sf``) until the output reaches its sink (a committed tile
snapshot, or rows collected on the driver).  ``traced`` is the same
pass with a span around each public call and each layer's output
materialized; it returns that pass's output and per-layer metrics.
``check`` compares an output with the independent computation in
``oracles``; ``digest`` condenses an output so that every later pass,
traced or not, can be compared with the checked one.
"""

from __future__ import annotations

import os
import shutil
import time
import zlib
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from zellige_spark import io_scan, synth
from zellige_spark.kernel import clip as kclip
from zellige_spark.kernel import mercator as kmerc
from zellige_spark.kernel import pipeline as kpipe
from zellige_spark.kernel import simplify as ksimp
from zellige_spark.operators import dbscan as D
from zellige_spark.operators import encode as E
from zellige_spark.operators import feature_tiles as FT
from zellige_spark.operators import knn as KNN
from zellige_spark.operators import pip as PIP
from zellige_spark.operators import tiles as T
from zellige_spark.plans.lineage import TileStore

import inputs
import oracles
from spark_trace import busy_share, duration


def _crc(rows) -> int:
    c = 0
    for row in rows:
        for v in (row if isinstance(row, tuple) else (row,)):
            c = zlib.crc32(v if isinstance(v, bytes) else repr(v).encode(), c)
    return c


def _n_points(parts) -> int:
    return sum(len(ring) for part in parts for ring in part)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.inputs = os.path.join(work, "inputs")

    def scan(self, table: str, spread: bool = True):
        return io_scan.read_sf(self.spark, self.inputs, table, spread=spread)

    def setup(self) -> None:
        """(Re)generate the inputs and write them as parquet."""
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.generate()

    def scan_s(self) -> float:
        """Seconds to scan every input table through ``io_scan``."""
        t = time.perf_counter()
        for table, spread in self.tables:
            self.scan(table, spread).count()
        return time.perf_counter() - t

    @property
    def items(self) -> int:
        """Input rows one pass processes (the record's ``items``)."""
        raise NotImplementedError


# --- point_tiles ------------------------------------------------------------

class PointTiles(Workload):
    name = "point_tiles"
    sizes = {"points": 5_000, "zooms": 15}
    layer = "images"
    tables = (("points", True),)

    def generate(self):
        self.pts = inputs.points(self.seed, self.sizes["points"])
        inputs.write_frame(os.path.join(self.inputs, "points.parquet"), self.pts)
        self.store = TileStore(os.path.join(self.work, "tilestore"))

    @property
    def items(self):
        return len(self.pts)

    def _commit(self, tiles):
        sid = self.store.commit_tiles(tiles, f"perfbench points seed={self.seed}",
                                      rows_in=len(self.pts))
        return sid, self.store.manifest(sid)["metrics"]

    def run(self):
        assigned = T.assign_tiles_buffered(self.scan("points"),
                                           zooms=range(self.sizes["zooms"]))
        return self._commit(E.assemble_point_tiles_streaming(
            assigned, layer_name=self.layer))

    def digest(self, out):
        """The snapshot's totals and a CRC over its (zoom, tile_x, tile_y,
        mvt) rows in key order, read from the snapshot's parquet files
        (what ``TileStore.read_tiles`` scans) without a Spark job."""
        sid, m = out
        t = pq.read_table(self.store._data_path(sid),
                          columns=["zoom", "tile_x", "tile_y", "mvt"])
        rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
        return (m["tiles_out"], m["features_out"], m["bytes_out"], _crc(rows))

    def traced(self, tr):
        with tr.span(self.name) as root:
            with tr.span("tiles") as s_tiles:
                assigned = T.assign_tiles_buffered(
                    self.scan("points"), zooms=range(self.sizes["zooms"])
                ).localCheckpoint(eager=True)
            with tr.span("encode") as s_enc:
                tiles = E.assemble_point_tiles_streaming(
                    assigned, layer_name=self.layer).localCheckpoint(eager=True)
            with tr.span("lineage") as s_lin:
                sid, m = self._commit(tiles)
        rows_out = assigned.count()
        max_tile = tiles.agg(F.max("bytes_len")).collect()[0][0]
        c = s_enc["counters"]
        written = (_dir_bytes(self.store._data_path(sid))
                   + _dir_bytes(self.store._lineage_path(sid)))
        return root, (sid, m), {
            "tiles.s": duration(s_tiles),
            "tiles.rows_out": rows_out,
            "tiles.fanout": rows_out / len(self.pts),
            "encode.s": duration(s_enc),
            "encode.task_s": c["task_s"],
            "encode.busy_share": busy_share(s_enc, self.cores),
            "encode.shuffle_bytes": c["shuffle_bytes"],
            "encode.spill_bytes": c["spill_bytes"],
            "encode.max_task_s": c["max_task_s"],
            "encode.mvt_bytes": m["bytes_out"],
            "encode.max_tile_bytes": max_tile,
            "lineage.s": duration(s_lin),
            "lineage.bytes_written": written,
        }

    def check(self, out):
        """Totals of the snapshot read back against the numpy
        assignment, then the 10 largest tiles and a seeded sample
        decoded and compared id by id and pixel by pixel."""
        sid, m = out
        oracle = oracles.PointTiles(self.pts["image_id"], self.pts["lon"],
                                    self.pts["lat"], range(self.sizes["zooms"]))
        want_tiles, want_feats = oracle.totals()
        back = self.store.read_tiles(self.spark, sid).select(
            "zoom", "tile_x", "tile_y", "feature_count", "bytes_len",
            "mvt").toPandas()
        got = (len(back), int(back.feature_count.sum()),
               int(back.bytes_len.sum()), int(back.mvt.map(len).sum()))
        wrong = int(got != (want_tiles, want_feats, m["bytes_out"],
                            m["bytes_out"]))
        wrong += int((m["tiles_out"], m["features_out"]) != (want_tiles, want_feats))
        largest = back.nlargest(10, "bytes_len")
        rest = back.drop(largest.index)
        rng = np.random.default_rng([self.seed, 11])
        sample = rest.iloc[rng.choice(len(rest), min(40, len(rest)), replace=False)]
        picked = pd.concat([largest, sample])
        checked = 2 + len(picked)
        for r in picked.itertuples(index=False):
            wrong += not oracle.check_tile(r.zoom, r.tile_x, r.tile_y,
                                           bytes(r.mvt), self.layer)
        return checked, wrong


# --- feature_tiles ----------------------------------------------------------

class FeatureTiles(Workload):
    name = "feature_tiles"
    sizes = {"polygons": 30, "lines": 2, "zoom": 9}
    layer = "features"
    simplify = ksimp.DOUGLAS_PEUCKER
    tables = (("features", True),)

    def generate(self):
        polys = synth.gen_coverage_polygons(self.sizes["polygons"], self.seed)
        lines = inputs.random_walk_lines(self.seed, self.sizes["lines"])
        self.rows = inputs.feature_rows(polys, lines)
        inputs.write_features(os.path.join(self.inputs, "features.parquet"),
                              self.rows)
        self._oracle = None

    @property
    def items(self):
        return len(self.rows)

    def _assemble(self, assigned):
        return FT.assemble_feature_tiles(assigned, layer_name=self.layer,
                                         simplify=self.simplify)

    def run(self):
        assigned = FT.assign_feature_tiles(self.scan("features"), self.sizes["zoom"])
        return self._assemble(assigned).select(
            "zoom", "tile_x", "tile_y", "mvt", "feature_count").collect()

    def digest(self, out):
        return _crc(sorted((r.zoom, r.tile_x, r.tile_y, bytes(r.mvt)) for r in out))

    def oracle(self):
        if self._oracle is None:
            self._oracle = oracles.FeatureTiles(self.rows, simplify=self.simplify)
        return self._oracle

    def traced(self, tr):
        with tr.span(self.name) as root:
            with tr.span("feature_tiles.assign") as s_as:
                assigned = FT.assign_feature_tiles(
                    self.scan("features"), self.sizes["zoom"]
                ).localCheckpoint(eager=True)
            with tr.span("feature_tiles.encode") as s_enc:
                out = self._assemble(assigned).select(
                    "zoom", "tile_x", "tile_y", "mvt", "feature_count").collect()
        keys = assigned.select("fid", "tile_x", "tile_y").toPandas()
        c = s_enc["counters"]
        metrics = {
            "feature_tiles.assign_s": duration(s_as),
            "feature_tiles.assigned_rows": len(keys),
            "feature_tiles.encode_s": duration(s_enc),
            "feature_tiles.task_s": c["task_s"],
            "feature_tiles.encode_tasks": c["last_stage_tasks"],
            "feature_tiles.busy_share": busy_share(s_enc, self.cores),
            "feature_tiles.useful_share":
                sum(r.feature_count for r in out) / max(len(keys), 1),
            "feature_tiles.mvt_bytes": sum(len(r.mvt) for r in out),
            "feature_tiles.max_tile_bytes": max(len(r.mvt) for r in out),
        }
        metrics.update(self._kernel_replay(keys))
        return root, out, metrics

    def _kernel_replay(self, keys):
        """Single-threaded replay of every tile's kernel work in this
        process: ``pipeline.encode_features`` per tile for ``tile_s``,
        then the same features through the pipeline's own stage
        functions (which call the public clip, simplify and mvt
        functions), one stage at a time."""
        feats = {f["fid"]: f for f in self.oracle().feats}
        spent = dict.fromkeys(("tile", "project", "clip", "simplify", "mvt"), 0.0)
        pts_in = pts_out = 0
        clock = time.perf_counter
        for (tx, ty), grp in keys.groupby(["tile_x", "tile_y"]):
            tile = [feats[f] for f in sorted(grp["fid"])]
            cfg = kpipe.TileConfig(name=self.layer, z=self.sizes["zoom"],
                                   x=int(tx), y=int(ty), **self.oracle().cfg)
            t = clock()
            kpipe.encode_features(tile, cfg)
            spent["tile"] += clock() - t
            bbox = kmerc.tile_bbox(cfg.z, cfg.x, cfg.y)
            window = kclip.buffered_bbox(cfg.buffer, cfg.extent)
            staged = []
            for f in tile:
                gt = f["geom_type"]
                t0 = clock()
                parts = kpipe._project_parts(f["parts"], cfg.extent,
                                             cfg.quantize, bbox)
                t1 = clock()
                parts = kpipe._clip_feature(gt, parts, window)
                t2 = clock()
                spent["project"] += t1 - t0
                spent["clip"] += t2 - t1
                pts_in += _n_points(f["parts"])
                if parts is None:
                    continue
                parts = kpipe._simplify_feature(gt, parts, cfg.simplify)
                spent["simplify"] += clock() - t2
                if parts is None:
                    continue
                pts_out += _n_points(parts)
                staged.append((gt, f.get("fid"), f.get("props") or {}, parts))
            t = clock()
            kpipe._encode_staged(staged, cfg)
            spent["mvt"] += clock() - t
        out = {f"kernel.{k}_s": v for k, v in spent.items()}
        out.update({"kernel.points_in": pts_in, "kernel.points_out": pts_out})
        return out

    def check(self, out):
        """The 5 largest tiles and 10 seeded others re-encoded in this
        process must match the Spark bytes exactly."""
        out = sorted(out, key=lambda r: (r.tile_x, r.tile_y))
        largest = sorted(range(len(out)), key=lambda i: -len(out[i].mvt))[:5]
        rng = np.random.default_rng([self.seed, 12])
        rest = sorted(set(range(len(out))) - set(largest))
        pick = largest + list(rng.choice(rest, min(10, len(rest)), replace=False))
        oracle = self.oracle()
        wrong = sum(oracle.encode(self.layer, out[i].zoom, out[i].tile_x,
                                  out[i].tile_y) != bytes(out[i].mvt)
                    for i in pick)
        return len(pick), wrong


# --- spatial_join -----------------------------------------------------------

class SpatialJoin(Workload):
    name = "spatial_join"
    sizes = {"points": 20_000, "polygons": 200, "queries": 40, "k": 10,
             "index_zoom": 4}
    tables = (("points", True), ("polygons", False), ("queries", False))

    def generate(self):
        self.pts = inputs.points(self.seed, self.sizes["points"])
        self.polys = synth.gen_coverage_polygons(self.sizes["polygons"], self.seed)
        self.queries = inputs.knn_queries(self.seed, self.sizes["queries"])
        inputs.write_frame(os.path.join(self.inputs, "points.parquet"), self.pts)
        inputs.write_polygons(os.path.join(self.inputs, "polygons.parquet"),
                              self.polys)
        inputs.write_frame(os.path.join(self.inputs, "queries.parquet"),
                           self.queries)

    @property
    def items(self):
        return len(self.pts)

    def _pip(self):
        return (PIP.pip_join_broadcast(self.scan("points"),
                                       self.scan("polygons", False))
                .select("image_id", "polygon_id").toPandas())

    def _knn(self):
        # the kNN data side is Column math only; a spread exchange would
        # add a shuffle to every ring round
        return KNN.knn_kring_adaptive(
            self.scan("queries", False), self.scan("points", False),
            k=self.sizes["k"], index_zoom=self.sizes["index_zoom"],
            data_id="image_id").toPandas()

    def run(self):
        return self._pip(), self._knn()

    def digest(self, out):
        pip, knn = out
        return (len(pip), _crc(sorted(zip(pip.image_id, pip.polygon_id))),
                _crc(sorted(zip(knn.query_id, knn["rank"], knn.neighbor_id))))

    def traced(self, tr):
        with tr.span(self.name) as root:
            with tr.span("pip") as s_pip:
                pip = self._pip()
            with tr.span("knn") as s_knn:
                knn = self._knn()
        c = s_knn["counters"]
        return root, (pip, knn), {
            "pip.s": duration(s_pip),
            "pip.task_s": s_pip["counters"]["task_s"],
            "pip.busy_share": busy_share(s_pip, self.cores),
            "pip.matches": len(pip),
            "knn.s": duration(s_knn),
            "knn.jobs": c["jobs"],
            "knn.tasks": c["tasks"],
            "knn.busy_share": busy_share(s_knn, self.cores),
            "knn.shuffle_bytes": c["shuffle_bytes"],
        }

    def check(self, out):
        """Every PIP pair against a numpy ray cast over all points, and
        every kNN query against brute-force haversine."""
        pip, knn = out
        lon = self.pts["lon"].to_numpy()
        lat = self.pts["lat"].to_numpy()
        pos = {v: i for i, v in enumerate(self.pts["image_id"])}
        ppos = {p["polygon_id"]: j for j, p in enumerate(self.polys)}
        got = {(pos[a], ppos[b]) for a, b in zip(pip.image_id, pip.polygon_id)}
        want = oracles.pip_pairs(lon, lat, self.polys)
        wrong = len(got ^ want) + (len(pip) - len(got))
        checked = len(want | got)
        by_q = {q: g.sort_values("rank") for q, g in knn.groupby("query_id")}
        for q in self.queries.itertuples(index=False):
            g = by_q.get(q.query_id)
            ok = g is not None and oracles.knn_ok(
                q.lon, q.lat, lon, lat,
                np.array([pos[n] for n in g.neighbor_id]),
                g.dist_km.to_numpy(), self.sizes["k"])
            wrong += not ok
        return checked + len(self.queries), wrong


# --- cluster_components -----------------------------------------------------

class ClusterComponents(Workload):
    name = "cluster_components"
    sizes = {"points": 1_000, "grid_per_deg": 10_000, "eps": 500, "min_pts": 20}
    tables = (("grid", True),)

    def generate(self):
        pts = inputs.points(self.seed, self.sizes["points"])
        self.grid = inputs.grid_points(pts, self.sizes["grid_per_deg"])
        inputs.write_frame(os.path.join(self.inputs, "grid.parquet"), self.grid)
        self._oracle = None

    @property
    def items(self):
        return len(self.grid)

    def oracle(self):
        if self._oracle is None:
            self._oracle = oracles.dbscan(self.grid.x.to_numpy(),
                                          self.grid.y.to_numpy(),
                                          self.sizes["eps"], self.sizes["min_pts"])
        return self._oracle

    def run(self):
        return D.dbscan(self.scan("grid"), self.sizes["eps"],
                        self.sizes["min_pts"]).toPandas()

    def digest(self, out):
        out = out.sort_values("point_id")
        return _crc(zip(out.point_id, out.n_nbr, out.role, out.cluster))

    @contextmanager
    def _spans(self, tr, seen):
        """Spans around the two public calls ``dbscan`` makes, found
        through its module globals and restored afterwards."""
        eps_pairs, cc = D.eps_pairs, D.connected_components

        def traced_pairs(*a, **kw):
            with tr.span("dbscan.pairs") as s:
                seen["pairs"] = eps_pairs(*a, **kw).localCheckpoint(eager=True)
            seen["pairs_span"] = s
            return seen["pairs"]

        def traced_cc(*a, **kw):
            with tr.span("dedup.cc") as s:
                out = cc(*a, **kw).localCheckpoint(eager=True)
            seen["cc_span"] = s
            return out

        D.eps_pairs, D.connected_components = traced_pairs, traced_cc
        try:
            yield
        finally:
            D.eps_pairs, D.connected_components = eps_pairs, cc

    def traced(self, tr):
        seen = {}
        with self._spans(tr, seen), tr.span(self.name) as root:
            out = self.run()
        pairs = seen["pairs"].count()
        o = self.oracle()
        cc = seen["cc_span"]["counters"]
        return root, out, {
            "dbscan.pairs_s": duration(seen["pairs_span"]),
            "dbscan.pairs": pairs,
            "dbscan.candidates": o["candidates"],
            "dbscan.pair_share": pairs / o["candidates"],
            "dedup.cc_s": duration(seen["cc_span"]),
            "dedup.cc_jobs": cc["jobs"],
            "dedup.cc_shuffle_bytes": cc["shuffle_bytes"],
        }

    def check(self, out):
        """Neighbour counts, roles and cluster ids of every point against
        a single-process grid hash and union-find."""
        o = self.oracle()
        out = out.sort_values("point_id")
        ids = out.point_id.to_numpy()
        if not np.array_equal(ids, np.arange(len(self.grid))):
            return len(self.grid), len(self.grid)
        bad = ((out.n_nbr.to_numpy() != o["n_nbr"])
               | (out.role.to_numpy() != o["role"])
               | (out.cluster.to_numpy() != o["cluster"]))
        return len(ids), int(bad.sum())


class Composite:
    """A benchmark workload: pipelines run one after another in each
    pass, sharing one session (and so one JVM start and warm-up)."""

    def __init__(self, name, parts, spark, work, seed, cores):
        self.name = name
        self.parts = [p(spark, os.path.join(work, p.name), seed, cores)
                      for p in parts]
        self.sizes = {p.name: dict(p.sizes) for p in self.parts}
        self.part_walls = {p.name: [] for p in self.parts}

    @property
    def items(self):
        return sum(p.items for p in self.parts)

    def setup(self):
        for p in self.parts:
            p.setup()

    def scan_s(self):
        return sum(p.scan_s() for p in self.parts)

    def run(self):
        out = []
        for p in self.parts:
            t = time.perf_counter()
            out.append(p.run())
            self.part_walls[p.name].append(time.perf_counter() - t)
        return out

    def digest(self, out):
        return tuple(p.digest(o) for p, o in zip(self.parts, out))

    def check(self, out):
        got = [p.check(o) for p, o in zip(self.parts, out)]
        return sum(g[0] for g in got), sum(g[1] for g in got)

    def traced(self, tr):
        """(traced pass seconds, outputs, per-layer metrics): the pass
        time is the sum of the parts' root spans, which exclude the
        bookkeeping each part does after its calls."""
        wall, outs, metrics = 0.0, [], {}
        for p in self.parts:
            root, out, m = p.traced(tr)
            wall += duration(root)
            outs.append(out)
            metrics.update(m)
        return wall, outs, metrics


WORKLOADS = {
    "tiles": (PointTiles, FeatureTiles),
    "joins": (SpatialJoin, ClusterComponents),
}


def make(name, spark, work, seed, cores) -> Composite:
    return Composite(name, WORKLOADS[name], spark, work, seed, cores)
