"""Seeded benchmark inputs.

Everything here is a pure function of ``seed``; the package under test
only ever receives the arrays and parquet files built from these
values.  The point generator reproduces the distribution of
``zellige_spark.synth.images_df`` (80% of points in 20 gaussian
clusters, the rest uniform) without generating the image payloads,
which the measured layers never read.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from zellige_spark import synth


def points(seed: int, n: int) -> pd.DataFrame:
    """(image_id, lon, lat): clustered image points."""
    centers = synth.cluster_centers(seed)
    rng = np.random.default_rng([seed, 1])
    urban = rng.random(n) < synth.URBAN_FRACTION
    c = centers[rng.integers(0, len(centers), n)]
    lon = np.where(urban, c[:, 0] + rng.normal(0, synth.CLUSTER_SIGMA_DEG, n),
                   rng.uniform(-180.0, 180.0, n))
    lat = np.where(urban, c[:, 1] + rng.normal(0, synth.CLUSTER_SIGMA_DEG, n),
                   rng.uniform(-synth.LAT_LIMIT, synth.LAT_LIMIT, n))
    return pd.DataFrame({
        "image_id": [f"img{i:012d}" for i in range(n)],
        "lon": np.clip(lon, -180.0, 179.999999),
        "lat": np.clip(lat, -synth.LAT_LIMIT, synth.LAT_LIMIT),
    })


def knn_queries(seed: int, n: int) -> pd.DataFrame:
    """Half the queries sit inside the point clusters, half are uniform
    between 60°S and 60°N, where the sparse points make the adaptive
    kNN run more ring-doubling rounds."""
    centers = synth.cluster_centers(seed)
    rng = np.random.default_rng([seed, 2])
    half = n // 2
    c = centers[rng.integers(0, len(centers), half)]
    lon = np.concatenate([c[:, 0] + rng.normal(0, 0.02, half),
                          rng.uniform(-179.0, 179.0, n - half)])
    lat = np.concatenate([c[:, 1] + rng.normal(0, 0.02, half),
                          rng.uniform(-60.0, 60.0, n - half)])
    return pd.DataFrame({"query_id": [f"q{i:05d}" for i in range(n)],
                         "lon": lon, "lat": lat})


def grid_points(pts: pd.DataFrame, scale: float) -> pd.DataFrame:
    """The points quantized to a non-negative integer grid
    (``scale`` cells per degree) for the exact DBSCAN."""
    return pd.DataFrame({
        "point_id": np.arange(len(pts), dtype=np.int64),
        "x": np.floor((pts["lon"].to_numpy() + 180.0) * scale).astype(np.int64),
        "y": np.floor((pts["lat"].to_numpy() + 90.0) * scale).astype(np.int64),
    })


def random_walk_lines(seed: int, n: int, min_pts: int = 1000,
                      max_pts: int = 10000, step_deg: float = 0.002) -> list:
    """Seeded random-walk linestrings starting near the cluster centres,
    so they share tiles with the coverage polygons.  Vertex counts are
    spread evenly over ``min_pts``..``max_pts`` and the latitude steps
    shrink with cos(latitude), so every seed gives the same total
    vertex count and about the same number of tiles per line."""
    centers = synth.cluster_centers(seed)
    rng = np.random.default_rng([seed, 3])
    out = []
    for i, k in enumerate(np.linspace(min_pts, max_pts, n).astype(int)):
        start = centers[i % len(centers)] + rng.uniform(-0.2, 0.2, 2)
        steps = rng.normal(0.0, step_deg, (k, 2))
        steps[:, 1] *= np.cos(np.radians(start[1]))
        steps[0] = 0.0
        out.append(start + np.cumsum(steps, axis=0))
    return out


def feature_rows(polys: list, lines: list) -> pd.DataFrame:
    """Normalized feature rows (``io_geojson.FEATURES_SCHEMA``):
    polygons first, then lines, with distinct explicit ids."""
    fids, kinds, parts, props = [], [], [], []
    for j, p in enumerate(polys):
        fids.append(j)
        kinds.append("Polygon")
        parts.append([[np.asarray(r, dtype=np.float64) for r in p["rings"]]])
        props.append(json.dumps({"kind": "coverage", "name": p["name"]},
                                sort_keys=True))
    for i, line in enumerate(lines):
        fids.append(1_000_000 + i)
        kinds.append("LineString")
        parts.append([[line]])
        props.append(json.dumps({"kind": "track", "vertices": len(line)},
                                sort_keys=True))
    return pd.DataFrame({"fid": np.asarray(fids, dtype=np.int64),
                         "geom_type": kinds, "parts": parts,
                         "props_json": props})


_PARTS_TYPE = pa.list_(pa.list_(pa.list_(pa.list_(pa.float64()))))
_RINGS_TYPE = pa.list_(pa.list_(pa.list_(pa.float64())))


def write_features(path: str, rows: pd.DataFrame) -> None:
    parts = [[[r.tolist() for r in part] for part in p] for p in rows["parts"]]
    table = pa.table({
        "fid": pa.array(rows["fid"], pa.int64()),
        "geom_type": pa.array(rows["geom_type"], pa.string()),
        "parts": pa.array(parts, _PARTS_TYPE),
        "props_json": pa.array(rows["props_json"], pa.string()),
    })
    _write(path, table)


def write_polygons(path: str, polys: list) -> None:
    cols = ("min_lon", "min_lat", "max_lon", "max_lat")
    table = pa.table({
        "polygon_id": pa.array([p["polygon_id"] for p in polys], pa.string()),
        "name": pa.array([p["name"] for p in polys], pa.string()),
        "rings": pa.array([p["rings"] for p in polys], _RINGS_TYPE),
        **{c: pa.array([p[c] for p in polys], pa.float64()) for c in cols},
    })
    _write(path, table)


def write_frame(path: str, df: pd.DataFrame) -> None:
    _write(path, pa.Table.from_pandas(df, preserve_index=False))


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
