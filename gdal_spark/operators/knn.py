"""k-nearest neighbours over points — bound-then-join, one Spark plan.

The reference has no layer-level kNN (nearest-entry logic appears only in
gdal/alg/gdalgrid.cpp:461 GDALGridNearestNeighbour); this generalizes
gdalgrid's search-radius scan, bounding each radius up front so the search
is a single join (as argued by Distributed Stream KNN Join, SIGMOD 2021).

Algorithm (exact, no radius cap):
1. One job collects a per-cell histogram: point and query counts and
   coordinate extremes (at most 4^zoom rows).
2. On the driver, a summed-area table gives each query cell the smallest
   Chebyshev box of cells holding >= k points, so no query in the cell has
   its k-th neighbour farther than D, the cell-corner-to-far-box-corner
   distance. The square [± D] around the cell, plus a one-cell margin for
   rounding, covers every candidate cell.
3. Each query joins the points of those cells once; a window keeps the
   top-k by (dist_sq, point id) — a deterministic tie-break.

Cells come from ``tiles.cell_key`` (clamped to the Mercator domain), so
points and queries at the poles or on lon = ±180 land in edge cells, whose
extent reaches the data's extreme coordinates. Distance: squared Euclidean
in degrees (reproducible in an external SQL oracle). ``knn_bruteforce`` is
the correctness oracle used in tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from gdal_spark.functions import tiles

# The summed-area table is (2^z + 1)^2 int64 on the driver (8.4 MB at z10).
# Above this zoom the bound is taken on the z10 grid: still exact, only a
# looser bound.
_BOUND_ZOOM_MAX = 10


def _dist_sq(qlon, qlat, plon, plat):
    return (qlon - plon) * (qlon - plon) + (qlat - plat) * (qlat - plat)


def knn_bruteforce(queries: DataFrame, points: DataFrame, k: int,
                   q_id: str = "qid", p_id: str = "pid") -> DataFrame:
    """Exact cross-join kNN (test oracle / tiny inputs only)."""
    q = queries.select(F.col(q_id), F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"))
    p = points.select(F.col(p_id), F.col("lon").alias("_plon"), F.col("lat").alias("_plat"))
    d = q.crossJoin(p).withColumn(
        "dist_sq", _dist_sq(F.col("_qlon"), F.col("_qlat"), F.col("_plon"), F.col("_plat")))
    w = Window.partitionBy(q_id).orderBy("dist_sq", p_id)
    return (d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, p_id, "dist_sq", "rank"))


def _np_cell(lon: np.ndarray, lat: np.ndarray, zoom: int, shift: int) -> list[np.ndarray]:
    """numpy twin of tiles.cell_key (to within rounding), moved by ``shift``
    cells and clamped to the grid again."""
    lat = np.clip(lat, -tiles.MAX_LAT, tiles.MAX_LAT)
    mx = lon * (tiles.ORIGIN_SHIFT / 180.0)
    my = np.log(np.tan((90.0 + lat) * (np.pi / 360.0))) * (tiles.ORIGIN_SHIFT / np.pi)
    span = tiles.TILE_SIZE * tiles.py_resolution(zoom)
    return [np.clip(np.ceil((m + tiles.ORIGIN_SHIFT) / span) - 1 + shift, 0, (1 << zoom) - 1)
            for m in (mx, my)]


def _frames(cells, k: int, zb: int, zoom: int):
    """Per query cell at the bound zoom ``zb``: the range of cells at the
    join zoom that holds every point that can be among the k nearest of any
    query in it. Returns (table, join zoom). ``cells`` is the collected
    histogram: per cell (cx, cy) its point count n, query count nq and the
    extremes of both."""
    c = {f: cells.column(f).to_numpy(zero_copy_only=False) for f in cells.column_names}
    side = 1 << zb
    sat = np.zeros((side + 1, side + 1), dtype=np.int64)
    sat[c["cy"] + 1, c["cx"] + 1] = c["n"]
    sat = sat.cumsum(0).cumsum(1)
    qx, qy, nq = (c[f][c["nq"] > 0].astype(np.int64) for f in ("cx", "cy", "nq"))

    def box(r):
        return (np.maximum(qx - r, 0), np.minimum(qx + r, side - 1) + 1,
                np.maximum(qy - r, 0), np.minimum(qy + r, side - 1) + 1)

    # smallest Chebyshev box of cells around each query cell that holds >= k
    # points (the whole grid when there are fewer), by vectorized bisection
    lo, hi = np.zeros_like(qx), np.full_like(qx, side)
    while np.any(lo < hi):
        mid = (lo + hi) // 2
        x0, x1, y0, y1 = box(mid)
        ok = sat[y1, x1] - sat[y0, x1] - sat[y1, x0] + sat[y0, x0] >= k
        hi, lo = np.where(ok, mid, hi), np.where(ok, lo, mid + 1)
    # cell edges; the outer ones reach the data extremes, since cell_key
    # clamps everything past the domain into the edge cells
    m = np.arange(side + 1) * (tiles.TILE_SIZE * tiles.py_resolution(zb)) - tiles.ORIGIN_SHIFT
    lat_e, lon_e = np.vectorize(tiles.py_meters_to_latlon)(m, m)
    for e, a, b in ((lon_e, "x0", "x1"), (lat_e, "y0", "y1")):
        e[0], e[-1] = c[a].min(initial=e[0]), c[b].max(initial=e[-1])
    x0, x1, y0, y1 = box(hi)
    # the box holds >= k points, so no query in the cell has its k-th
    # neighbour farther than D: from the cell's corner to the box's far one
    d = np.hypot(np.maximum(lon_e[qx + 1] - lon_e[x0], lon_e[x1] - lon_e[qx]),
                 np.maximum(lat_e[qy + 1] - lat_e[y0], lat_e[y1] - lat_e[qy]))
    # Join at ``zoom`` unless the squares span more cells there than there
    # are points (sparse data): then coarsen, since exploding the query
    # side would cost more than the point side. Zoom 0 always fits.
    for z in range(zoom, -1, -1):
        # one cell of margin: rounding may put a point in a neighbouring cell
        tx0, ty0 = _np_cell(lon_e[qx] - d, lat_e[qy] - d, z, -1)
        tx1, ty1 = _np_cell(lon_e[qx + 1] + d, lat_e[qy + 1] + d, z, 1)
        if (nq * (tx1 - tx0 + 1) * (ty1 - ty0 + 1)).sum() <= max(c["n"].sum(), 9 * nq.sum()):
            break
    cols = {"_cx": qx, "_cy": qy, "_tx0": tx0, "_tx1": tx1, "_ty0": ty0, "_ty1": ty1}
    return pa.table({n: pa.array(v, pa.int32()) for n, v in cols.items()}), z


def knn_cell_ring(queries: DataFrame, points: DataFrame, k: int,
                  q_id: str = "qid", p_id: str = "pid",
                  zoom: int = 6) -> DataFrame:
    """Exact kNN by bound-then-join. Output: (q_id, p_id, dist_sq, rank).

    ``zoom`` is the finest cell grid the join uses. Two Spark actions
    whatever the query radius: the histogram collect here and the caller's
    action on the returned single-join plan.
    """
    zb = min(zoom, _BOUND_ZOOM_MAX)
    # checkpointed lazily: the histogram job reads each input once, and the
    # join reuses those blocks (freed once the result is garbage-collected)
    points = points.select(p_id, "lon", "lat").localCheckpoint(eager=False)
    queries = queries.select(q_id, "lon", "lat").localCheckpoint(eager=False)
    lon, lat = F.col("lon"), F.col("lat")
    bx, by = tiles.cell_key(lon, lat, zb)
    # one job: per bound cell, the point and query counts and the extremes
    cells = (points.select("lon", "lat", F.lit(1).alias("_p"), F.lit(0).alias("_q"))
             .unionByName(queries.select("lon", "lat", F.lit(0).alias("_p"), F.lit(1).alias("_q")))
             .groupBy(bx.alias("cx"), by.alias("cy"))
             .agg(F.sum("_p").alias("n"), F.sum("_q").alias("nq"),
                  F.min("lon").alias("x0"), F.min("lat").alias("y0"),
                  F.max("lon").alias("x1"), F.max("lat").alias("y1"))
             .dropna(subset=["cx", "cy"]))
    frames, zj = _frames(cells.toArrow(), k, zb, zoom)
    # a local relation: one row per query cell
    frames = queries.sparkSession.createDataFrame(frames)
    frame = (queries.join(F.broadcast(frames), (bx == F.col("_cx")) & (by == F.col("_cy")))
             .select(q_id, lon.alias("_qlon"), lat.alias("_qlat"), "_ty0", "_ty1",
                     F.explode(F.sequence("_tx0", "_tx1")).alias("_tx"))
             .withColumn("_ty", F.explode(F.sequence("_ty0", "_ty1"))))
    tx, ty = (bx, by) if zj == zb else tiles.cell_key(lon, lat, zj)
    pts = points.select("*", tx.alias("_tx"), ty.alias("_ty"))
    w = Window.partitionBy(q_id).orderBy("dist_sq", p_id)
    return (frame.join(pts, on=["_tx", "_ty"])
            .withColumn("dist_sq", _dist_sq(F.col("_qlon"), F.col("_qlat"), lon, lat))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, p_id, "dist_sq", "rank"))
