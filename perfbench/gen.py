"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (workload, seed, size): numpy draws from
``default_rng(seed)``, written with pyarrow, and cached under
``perfbench/.work/data/<name>-s<seed>-n<n>/`` behind a ``_DONE`` marker.
Nothing here reads the repository's ``.fixtures/`` caches: the old
``bench_points_n*`` tables store ``decimal(31,9)`` coordinates, while every
point table generated here is DOUBLE (asserted by ``assert_double_points``
before anything is timed).

Each cached table carries a ``_meta.json`` with the seed's measured skew:
``hot_share`` (share of points in the most loaded cell at the workload's
join resolution) and, once the polygon index is known, ``partial_share``
(share of cell-join candidates that land in PARTIAL cells and therefore
go through the exact refine).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gis_shapefile_spark.functions import cells as C
from gis_shapefile_spark.operators import spatial_join as SJ
from gis_shapefile_spark.sources import fixtures as FX

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, ".work", "data")

CANVAS = FX.CANVAS                 # CONUS-ish (minx, miny, maxx, maxy)
URBAN_CENTER = FX.URBAN_CENTER     # centre of the batch workload's cluster
URBAN_SD = 0.05                    # degrees; the cluster spans a few res-10 cells
POINTS_SCHEMA = pa.schema(
    [("point_id", pa.int64()), ("lng", pa.float64()), ("lat", pa.float64())]
)
IMAGE_FORMATS = ("raw", "qz", "png", "jpeg")
IMAGE_POOL = 1024                  # distinct encoded payloads per seed


def _cached(name: str, seed: int, n: int, build) -> str:
    """Return the directory of a cached table, building it once."""
    path = os.path.join(DATA_DIR, f"{name}-s{seed}-n{n}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def read_meta(path: str) -> dict:
    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


def hot_share(lng: np.ndarray, lat: np.ndarray, res: int) -> float:
    """Share of the points that fall in the single most loaded cell."""
    _, counts = np.unique(C.cell_of_numpy(lng, lat, res), return_counts=True)
    return float(counts.max() / len(lng))


def partial_share(lng: np.ndarray, lat: np.ndarray, cells_pdf, res: int) -> float:
    """Share of (point, polygon) cell-join candidates in PARTIAL cells of
    the ``res`` covering-cell dimension ``cells_pdf``."""
    pc = C.cell_of_numpy(lng, lat, res)
    dim_cells = cells_pdf["cell"].to_numpy()
    order = np.argsort(dim_cells, kind="stable")
    sc = dim_cells[order]
    partial = ~cells_pdf["is_full"].to_numpy()[order]
    lo = np.searchsorted(sc, pc, "left")
    hi = np.searchsorted(sc, pc, "right")
    n_cand = int((hi - lo).sum())
    if n_cand == 0:
        return 0.0
    cum = np.concatenate([[0], np.cumsum(partial)])
    return float((cum[hi] - cum[lo]).sum() / n_cand)


def _write_points(path: str, lng, lat, n_files: int) -> None:
    n = len(lng)
    ids = np.arange(n, dtype=np.int64)
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        a, b = bounds[i], bounds[i + 1]
        tbl = pa.table(
            [ids[a:b], np.asarray(lng[a:b], np.float64), np.asarray(lat[a:b], np.float64)],
            schema=POINTS_SCHEMA,
        )
        pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))


def _uniform(rng, n):
    x0, y0, x1, y1 = CANVAS
    return rng.uniform(x0, x1, n), rng.uniform(y0, y1, n)


def _mixed(rng, n: int, urban_share: float):
    """``1 - urban_share`` uniform over CONUS, the rest in one urban
    cluster; rows are shuffled so every file holds the same mix."""
    n_hot = int(n * urban_share)
    ux, uy = _uniform(rng, n - n_hot)
    hx = URBAN_CENTER[0] + rng.normal(0.0, URBAN_SD, n_hot)
    hy = URBAN_CENTER[1] + rng.normal(0.0, URBAN_SD, n_hot)
    perm = rng.permutation(n)
    return np.concatenate([ux, hx])[perm], np.concatenate([uy, hy])[perm]


def batch_points(seed: int, n: int, res: int, n_files: int = 8) -> str:
    """80% uniform over CONUS, 20% in one urban cluster."""

    def build(path):
        lng, lat = _mixed(np.random.default_rng(seed), n, 0.2)
        _write_points(path, lng, lat, n_files)
        return {"seed": seed, "n": n, "hot_share": hot_share(lng, lat, res)}

    return _cached(f"batch_points_r{res}", seed, n, build)


def stream_points(seed: int, n: int, n_files: int) -> str:
    """The batch mix, split into ``n_files`` files (one stream file each)."""

    def build(path):
        lng, lat = _mixed(np.random.default_rng(seed), n, 0.2)
        _write_points(path, lng, lat, n_files)
        return {"seed": seed, "n": n, "hot_share": hot_share(lng, lat, 10)}

    return _cached("stream_points", seed, n, build)


def straddling_cell(features_pdf, res: int) -> int:
    """A ``res`` cell that is PARTIAL for two polygons: New York's and its
    neighbour's. The fixture lays states out alphabetically on a grid, so
    there is no real NY/NJ border; the cell straddles the gap between New
    York and the state to its west (New Mexico)."""
    cells = SJ.prepare_polygon_cells(features_pdf, res)
    ny = int(features_pdf.loc[features_pdf["NAME_1"] == "New York", "record_number"].iloc[0])
    partial = cells[~cells["is_full"]]
    per_cell = partial.groupby("cell")["record_number"].agg(["nunique", "min", "max"])
    both = per_cell[(per_cell["nunique"] >= 2) & (per_cell["max"] == ny)]
    if both.empty:
        raise RuntimeError("no PARTIAL cell shared with New York at this res")
    return int(both.index.min())


def hotcell_points(seed: int, n: int, res: int, features_pdf, n_files: int = 8) -> str:
    """Half uniform over CONUS, half uniform inside one straddling cell."""

    def build(path):
        rng = np.random.default_rng(seed)
        cell = straddling_cell(features_pdf, res)
        x0, y0, x1, y1 = (float(v[0]) for v in C.cell_bounds(np.array([cell])))
        n_hot = n // 2
        ux, uy = _uniform(rng, n - n_hot)
        # stay a hair inside the cell so rounding never moves a point out
        hx = rng.uniform(x0 + 1e-9, x1 - 1e-9, n_hot)
        hy = rng.uniform(y0 + 1e-9, y1 - 1e-9, n_hot)
        perm = rng.permutation(n)
        lng = np.concatenate([ux, hx])[perm]
        lat = np.concatenate([uy, hy])[perm]
        _write_points(path, lng, lat, n_files)
        return {"seed": seed, "n": n, "hot_cell": cell,
                "hot_share": hot_share(lng, lat, res)}

    return _cached(f"hotcell_points_r{res}", seed, n, build)


def images(seed: int, n: int, w: int = 16, h: int = 16, n_files: int = 8) -> str:
    """The image+caption table (raw, qz, png and jpeg, ``w``×``h``).

    ``IMAGE_POOL`` distinct images are encoded with
    ``fixtures.encode_image`` and hashed from their decode with
    ``phash64``; the ``n`` rows draw their payload from that pool (every
    row is still decoded on its own), their codec mix matches
    ``fixtures.make_images`` and their points follow the batch mix.
    """

    def build(path):
        rng = np.random.default_rng(seed)
        r = rng.random(IMAGE_POOL)
        fmts = np.select([r < 0.35, r < 0.70, r < 0.85], ["raw", "qz", "png"], default="jpeg")
        pool_bytes, pool_phash = [], []
        for fmt in fmts:
            pix = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            data = FX.encode_image(pix, str(fmt))
            pool_bytes.append(data)
            pool_phash.append(FX.phash64(FX.decode_image(data, w, h, str(fmt))))
        pick = rng.integers(0, IMAGE_POOL, n)
        lng, lat = _mixed(rng, n, 0.2)
        ids = np.array([f"img_{i:09d}" for i in range(n)], dtype=object)
        bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
        for i in range(n_files):
            sl = slice(bounds[i], bounds[i + 1])
            p = pick[sl]
            tbl = pa.table({
                "image_id": pa.array(ids[sl], pa.string()),
                "bytes": pa.array([pool_bytes[k] for k in p], pa.binary()),
                "w": pa.array(np.full(len(p), w, np.int32)),
                "h": pa.array(np.full(len(p), h, np.int32)),
                "fmt": pa.array([str(fmts[k]) for k in p], pa.string()),
                "caption": pa.array(
                    [f"caption of {s}: a synthetic scene #{k % 97}" for s, k in zip(ids[sl], p)],
                    pa.string()),
                "phash": pa.array(np.array(pool_phash, np.int64)[p]),
                "lng": pa.array(lng[sl], pa.float64()),
                "lat": pa.array(lat[sl], pa.float64()),
            })
            pq.write_table(tbl, os.path.join(path, f"part-{i:05d}.parquet"))
        return {"seed": seed, "n": n, "hot_share": hot_share(lng, lat, 8),
                "n_bytes": int(sum(len(pool_bytes[k]) for k in pick))}

    return _cached(f"images_w{w}_h{h}", seed, n, build)


def assert_double_points(df) -> None:
    """Refuse to time a point table whose coordinates are not DOUBLE."""
    types = {f.name: f.dataType.typeName() for f in df.schema.fields}
    for col in ("lng", "lat"):
        if types.get(col) != "double":
            raise TypeError(f"{col} is {types.get(col)!r}, expected double")


def sample_points(path: str, k: int, seed: int):
    """A fixed sample of ``k`` (point_id, lng, lat) rows, seeded."""
    tbl = pq.read_table(path, columns=["point_id", "lng", "lat"]).to_pandas()
    rng = np.random.default_rng(seed + 7919)
    idx = rng.choice(len(tbl), size=min(k, len(tbl)), replace=False)
    return tbl.iloc[np.sort(idx)].reset_index(drop=True)
