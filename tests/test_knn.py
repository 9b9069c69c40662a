"""kNN: cell-ring expansion must equal brute force exactly (FIXTURES.md §7:
ties broken by (dist, id))."""

from __future__ import annotations

import pytest

from gdal_spark.operators import knn as K
from gdal_spark.sources import pages as P
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def pts_queries(spark):
    pts = (P.extract_points(P.pages(spark, 600, n_hosts=150))
           .withColumn("pid", F.xxhash64("url"))
           .select("pid", "lon", "lat").persist())
    qs = (P.extract_points(P.pages(spark, 4000, n_hosts=1000))
          .limit(25)
          .withColumn("qid", F.monotonically_increasing_id())
          .select("qid", "lon", "lat").persist())
    return pts, qs


@pytest.mark.parametrize("k", [1, 3, 5])
def test_cell_ring_equals_bruteforce(spark, pts_queries, k):
    pts, qs = pts_queries
    brute = {(r["qid"], r["rank"]): r["pid"]
             for r in K.knn_bruteforce(qs, pts, k).collect()}
    ring = {(r["qid"], r["rank"]): r["pid"]
            for r in K.knn_cell_ring(qs, pts, k, zoom=5).collect()}
    assert ring == brute


def test_cell_ring_dense_zoom(spark, pts_queries):
    """High zoom => many empty rings before settling; result must not change."""
    pts, qs = pts_queries
    brute = {(r["qid"], r["rank"]): r["pid"]
             for r in K.knn_bruteforce(qs, pts, 2).collect()}
    ring = {(r["qid"], r["rank"]): r["pid"]
            for r in K.knn_cell_ring(qs, pts, 2, zoom=8).collect()}
    assert ring == brute


def test_cell_ring_job_count_is_constant(spark):
    """Bound-then-join: one histogram job plus one join plan, so the job
    count stays a small constant however far the queries must search (this
    sparse zoom-8 fixture needs radii of tens of cells)."""
    import random
    rnd = random.Random(9)
    q = spark.createDataFrame(
        [(i, rnd.uniform(-60, 60), rnd.uniform(-50, 50)) for i in range(40)],
        "qid long, lon double, lat double")
    p = spark.createDataFrame(
        [(i, rnd.uniform(-60, 60), rnd.uniform(-50, 50)) for i in range(25)],
        "pid long, lon double, lat double")
    tracker = spark.sparkContext.statusTracker()
    brute = {(r["qid"], r["rank"]): r["pid"]
             for r in K.knn_bruteforce(q, p, 3).collect()}
    mid = len(tracker.getJobIdsForGroup(None) or [])
    ring = {(r["qid"], r["rank"]): r["pid"]
            for r in K.knn_cell_ring(q, p, 3, zoom=8).collect()}
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert ring == brute
    assert after - mid <= 8, f"job blowup: {after - mid} jobs"


def _edge_case(case: str):
    """Queries and points at the edges of the Mercator domain, with a
    background layer of ordinary points."""
    import random
    rnd = random.Random(11)
    pts = [(rnd.uniform(-170, 170), rnd.uniform(-80, 80)) for _ in range(60)]
    if case == "polar_queries":
        qs = [(rnd.uniform(-180, 180), rnd.uniform(87, 88)) for _ in range(12)]
    elif case == "polar_points":
        pts += [(rnd.uniform(-60, 60), rnd.uniform(85.06, 89.9)) for _ in range(15)]
        qs = [(rnd.uniform(-60, 60), rnd.uniform(80, 88)) for _ in range(12)]
    else:  # antimeridian: the nearest points sit on lon = -180 and 180
        pts += [(-180.0, lat) for lat in (-30.0, 0.0, 30.0)]
        pts += [(180.0, lat) for lat in (-20.0, 10.0)]
        qs = ([(rnd.uniform(-179.9, -179.0), rnd.uniform(-40, 40)) for _ in range(6)]
              + [(rnd.uniform(179.0, 179.9), rnd.uniform(-40, 40)) for _ in range(6)])
    return ([(i, lo, la) for i, (lo, la) in enumerate(qs)],
            [(i, lo, la) for i, (lo, la) in enumerate(pts)])


@pytest.mark.parametrize("zoom", [5, 8, 12])
@pytest.mark.parametrize("case", ["polar_queries", "polar_points", "antimeridian"])
def test_cell_ring_domain_edges_equal_bruteforce(spark, case, zoom):
    """Queries past 85.05° latitude, points past it, and points on
    lon = ±180 fall in the clamped edge cells and are found like any other."""
    qrows, prows = _edge_case(case)
    q = spark.createDataFrame(qrows, "qid long, lon double, lat double")
    p = spark.createDataFrame(prows, "pid long, lon double, lat double")
    brute = {(r["qid"], r["rank"]): (r["pid"], r["dist_sq"])
             for r in K.knn_bruteforce(q, p, 3).collect()}
    ring = {(r["qid"], r["rank"]): (r["pid"], r["dist_sq"])
            for r in K.knn_cell_ring(q, p, 3, zoom=zoom).collect()}
    assert ring == brute
