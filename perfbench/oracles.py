"""Independent single-process checks of each workload's output.

Each check recomputes what the Spark path must produce from the raw
generated inputs, in numpy and with the package's public kernels; the
workloads count the items that disagree.
"""

from __future__ import annotations

import json

import numpy as np

from zellige_spark.kernel import mvt as kmvt
from zellige_spark.kernel import pipeline as kpipe
from zellige_spark.operators import pip as PIP

R = 6378137.0
MAX = 20037508.342789244


def mercator(lon: np.ndarray, lat: np.ndarray):
    x = np.minimum(R * np.radians(lon), MAX)
    y = np.maximum(R * np.log(np.tan(0.25 * np.pi + 0.5 * np.radians(lat))), -MAX)
    return x, y


# --- point tiles ------------------------------------------------------------

class PointTiles:
    """Buffered point-to-tile assignment: a point belongs to every tile
    whose window widened by ``buffer/extent`` of a tile contains it."""

    def __init__(self, ids, lon, lat, zooms, extent=4096, buffer=128):
        self.ids = np.asarray(ids)
        self.x, self.y = mercator(np.asarray(lon), np.asarray(lat))
        self.zooms = list(zooms)
        self.extent = extent
        self.pad = buffer / extent

    def _frac(self, z):
        res = 2.0 * MAX / 2.0 ** z
        return (self.x + MAX) / res, (MAX - self.y) / res, res

    def totals(self):
        """(tile count, point-in-tile count) over every zoom."""
        tiles = feats = 0
        for z in self.zooms:
            n = 2 ** z
            fx, fy, _ = self._frac(z)
            bx = np.minimum(np.floor(fx), n - 1)
            by = np.minimum(np.floor(fy), n - 1)
            keys = []
            for dx in (-1, 0, 1):
                tx = bx + dx
                okx = ((tx >= 0) & (tx < n) & (fx >= tx - self.pad)
                       & (fx <= tx + 1 + self.pad))
                for dy in (-1, 0, 1):
                    ty = by + dy
                    ok = okx & ((ty >= 0) & (ty < n) & (fy >= ty - self.pad)
                                & (fy <= ty + 1 + self.pad))
                    keys.append((tx[ok] * n + ty[ok]).astype(np.int64))
            k = np.concatenate(keys)
            feats += len(k)
            tiles += len(np.unique(k))
        return tiles, feats

    def expected(self, z, tx, ty):
        """Sorted ids and integer pixel coordinates of one tile."""
        fx, fy, res = self._frac(z)
        m = ((fx >= tx - self.pad) & (fx <= tx + 1 + self.pad)
             & (fy >= ty - self.pad) & (fy <= ty + 1 + self.pad))
        idx = np.nonzero(m)[0]
        idx = idx[np.argsort(self.ids[idx], kind="stable")]
        px = (self.x[idx] - (-MAX + tx * res)) * self.extent / res
        py = (self.y[idx] - (MAX - ty * res)) * self.extent / (-res)
        return (self.ids[idx].tolist(), np.rint(px).astype(np.int64),
                np.rint(py).astype(np.int64))

    def check_tile(self, z, tx, ty, mvt: bytes, layer: str) -> bool:
        feats = kmvt.decode_tile(mvt)[layer]["features"]
        ids, px, py = self.expected(z, tx, ty)
        got_ids = [f["metadata"]["image_id"][1] for f in feats]
        if got_ids != ids:
            return False
        g = np.array([f["geometry_ints"] for f in feats], dtype=np.int64)
        if g.shape != (len(ids), 3):
            return False
        gx = (g[:, 1] >> 1) ^ -(g[:, 1] & 1)
        gy = (g[:, 2] >> 1) ^ -(g[:, 2] & 1)
        return bool(np.array_equal(gx, px) and np.array_equal(gy, py))


# --- feature tiles -----------------------------------------------------------

class FeatureTiles:
    """Re-encodes a tile from every feature near it, in fid order, with
    the per-tile kernel pipeline.  Features that miss the tile's
    buffered window clip away, so extra candidates cannot change the
    bytes; a feature the Spark assignment dropped would."""

    def __init__(self, rows, extent=4096, buffer=128, quantize=1,
                 simplify="none"):
        rows = rows.sort_values("fid", kind="stable")
        self.feats = [{"fid": int(r.fid), "geom_type": r.geom_type,
                       "parts": r.parts, "props": json.loads(r.props_json)}
                      for r in rows.itertuples(index=False)]
        bb = []
        for f in self.feats:
            pts = np.concatenate([np.asarray(r) for part in f["parts"]
                                  for r in part])
            x, y = mercator(pts[:, 0], pts[:, 1])
            bb.append((x.min(), y.min(), x.max(), y.max()))
        self.bbox = np.array(bb)
        self.cfg = dict(buffer=buffer, extent=extent, quantize=quantize,
                        simplify=simplify)

    def near(self, z, tx, ty, margin=0.25):
        res = 2.0 * MAX / 2.0 ** z
        x0 = -MAX + (tx - margin) * res
        x1 = -MAX + (tx + 1 + margin) * res
        y1 = MAX - (ty - margin) * res
        y0 = MAX - (ty + 1 + margin) * res
        b = self.bbox
        m = (b[:, 2] >= x0) & (b[:, 0] <= x1) & (b[:, 3] >= y0) & (b[:, 1] <= y1)
        return [self.feats[i] for i in np.nonzero(m)[0]]

    def encode(self, layer, z, tx, ty) -> bytes:
        cfg = kpipe.TileConfig(name=layer, z=z, x=tx, y=ty, **self.cfg)
        return kpipe.encode_features(self.near(z, tx, ty), cfg)


# --- spatial join -------------------------------------------------------------

def pip_pairs(lon, lat, polys) -> set:
    """Every (point index, polygon index) with the point inside the
    polygon: bbox prefilter, then ``pip.ray_cast_mask``."""
    out = set()
    for j, p in enumerate(polys):
        m = ((lon >= p["min_lon"]) & (lon <= p["max_lon"])
             & (lat >= p["min_lat"]) & (lat <= p["max_lat"]))
        idx = np.nonzero(m)[0]
        if len(idx) == 0:
            continue
        rings = [np.asarray(r, dtype=np.float64) for r in p["rings"]]
        inside = PIP.ray_cast_mask(lon[idx], lat[idx], rings)
        out.update((int(i), j) for i in idx[inside])
    return out


def haversine_km(lon1, lat1, lon2, lat2):
    r1, r2 = np.radians(lat1), np.radians(lat2)
    dlat = r2 - r1
    dlon = np.radians(lon2) - np.radians(lon1)
    a = np.sin(dlat / 2) ** 2 + np.cos(r1) * np.cos(r2) * np.sin(dlon / 2) ** 2
    return 2.0 * 6371.0 * np.arcsin(np.sqrt(a))


def knn_ok(qlon, qlat, lon, lat, got_idx, got_dist, k, tol=1e-9) -> bool:
    """One query's k neighbours against brute force.  Ranks may differ
    only between points at the same distance (within ``tol`` km)."""
    d = haversine_km(qlon, qlat, lon, lat)
    order = np.lexsort((np.arange(len(d)), d))[:k]
    if len(got_idx) != len(order):
        return False
    if not np.allclose(np.sort(got_dist), d[order], rtol=0, atol=tol):
        return False
    if np.array_equal(np.asarray(got_idx), order):
        return True
    kth = d[order[-1]]
    sure = set(order[d[order] < kth - tol].tolist())
    return sure <= set(got_idx) and bool(np.all(d[got_idx] <= kth + tol))


# --- DBSCAN -------------------------------------------------------------------

def grid_neighbours(x: np.ndarray, y: np.ndarray, eps: int):
    """Ordered pairs (i, j), i != j, within ``eps`` using a grid hash of
    cell side ``eps``; also the candidate count the 3x3 cell probe sees
    (self pairs included), computed from the per-cell counts."""
    cx, cy = x // eps, y // eps
    span = int(cy.max() - cy.min()) + 3
    key = (cx - cx.min() + 1) * span + (cy - cy.min() + 1)
    order = np.argsort(key, kind="stable")
    skey = key[order]
    cells, start, count = np.unique(skey, return_index=True, return_counts=True)
    ia, ib = [], []
    candidates = 0
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            probe = key + dx * span + dy
            pos = np.searchsorted(cells, probe)
            pos = np.minimum(pos, len(cells) - 1)
            hit = cells[pos] == probe
            src = np.nonzero(hit)[0]
            cnt = count[pos[hit]]
            candidates += int(cnt.sum())
            a = np.repeat(src, cnt)
            offs = np.arange(len(a)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
            b = order[np.repeat(start[pos[hit]], cnt) + offs]
            keep = (a != b) & ((x[a] - x[b]) ** 2 + (y[a] - y[b]) ** 2 <= eps * eps)
            ia.append(a[keep])
            ib.append(b[keep])
    return np.concatenate(ia), np.concatenate(ib), candidates


def dbscan(x: np.ndarray, y: np.ndarray, eps: int, min_pts: int) -> dict:
    """n_nbr, role and cluster per point (ids are array positions), plus
    the pair, candidate and core-edge arrays the trace reuses.
    Clusters are core components by union-find (min-label propagation
    with pointer jumping); a border point takes its smallest
    neighbouring core cluster."""
    n = len(x)
    ia, ib, candidates = grid_neighbours(x, y, eps)
    n_nbr = np.bincount(ia, minlength=n)
    core = n_nbr + 1 >= min_pts
    ce = core[ia] & core[ib]
    a, b = ia[ce], ib[ce]
    lab = np.arange(n)
    while True:
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        new = new[new]
        if np.array_equal(new, lab):
            break
        lab = new
    cluster = np.full(n, -1, dtype=np.int64)
    cluster[core] = lab[core]
    role = np.where(core, 2, 0)
    be = core[ib] & ~core[ia]
    if be.any():
        best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(best, ia[be], lab[ib[be]])
        border = best < np.iinfo(np.int64).max
        role = np.where(border & ~core, 1, role)
        cluster = np.where(border & ~core, best, cluster)
    return {"n_nbr": n_nbr, "role": role, "cluster": cluster,
            "pairs": len(ia), "candidates": candidates,
            "core_edges": (a[a < b], b[a < b])}
