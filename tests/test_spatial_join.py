"""PIP join: broadcast vs shuffle paths vs a plain-Python oracle; OGR join
semantics (first-match left join); envelope derivation; cell cover."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.sources import pages as P
from gdal_spark.sources import polygons as PG


@pytest.fixture(scope="module")
def small_world(spark):
    pts = P.extract_points(P.pages(spark, 400, n_hosts=100)).persist()
    polys = PG.admin_grid(spark, nx=12, ny=6).persist()
    # plain-python oracle over collected rows
    prows = pts.collect()
    grows = polys.collect()
    prep = G.PreparedPolygons([r["cell_id"] for r in grows], [bytes(r["wkb"]) for r in grows])
    pi, gi = prep.contains_batch(
        np.array([r["lon"] for r in prows]), np.array([r["lat"] for r in prows]))
    expected = {(prows[int(a)]["url"], int(prep.ids[int(b)])) for a, b in zip(pi, gi)}
    return pts, polys, prows, expected


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_inner_matches_oracle(spark, small_world, strategy):
    pts, polys, prows, expected = small_world
    out = SJ.point_in_polygon_join(pts, polys, strategy=strategy, cell_zoom=4)
    got = {(r["url"], r["cell_id"]) for r in out.collect()}
    assert got == expected


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_left_emits_unmatched(spark, small_world, strategy):
    pts, polys, prows, expected = small_world
    # grid covering only the eastern hemisphere -> western points unmatched
    east = polys.filter(F.col("xmin") >= 0)
    out = SJ.point_in_polygon_join(pts, east, how="left", strategy=strategy, cell_zoom=4)
    rows = out.collect()
    assert len({r["url"] for r in rows}) == len(prows)
    matched = {r["url"] for r in rows if r["cell_id"] is not None}
    west = {r["url"] for r in prows if r["lon"] < 0}
    assert matched.isdisjoint(west)


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_left_first_match_semantics(spark, strategy):
    """OGR SQL LEFT JOIN returns only the first match
    (ogr_gensql.cpp:1283-1314) — determinized to lowest polygon id."""
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    polys = spark.createDataFrame(
        [(5, bytearray(G.encode_polygon([sq]))), (2, bytearray(G.encode_polygon([sq])))],
        "cell_id long, wkb binary")
    pts = spark.createDataFrame([("a", 5.0, 5.0), ("b", 50.0, 5.0)],
                                "url string, lon double, lat double")
    out = SJ.point_in_polygon_join(pts, polys, how="left_first", strategy=strategy, cell_zoom=3)
    got = {(r["url"], r["cell_id"]) for r in out.collect()}
    assert got == {("a", 2), ("b", None)}


@pytest.mark.parametrize("how", ["left", "left_first"])
def test_shuffle_left_duplicate_points_and_wide_payload(spark, how):
    """Regression: the shuffle path's left modes previously keyed the dedup
    window and unmatched anti-join on ALL point columns — merging duplicate
    points into one row (and shuffling the full payload). Duplicates must
    survive, payload intact."""
    sq = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], dtype=float)
    polys = spark.createDataFrame([(1, bytearray(G.encode_polygon([sq])))],
                                  "cell_id long, wkb binary")
    payload = "x" * 10000
    pts = spark.createDataFrame(
        [("dup", 5.0, 5.0, payload), ("dup", 5.0, 5.0, payload),
         ("out", 50.0, 5.0, payload), ("out", 50.0, 5.0, payload)],
        "url string, lon double, lat double, body string")
    out = SJ.point_in_polygon_join(pts, polys, how=how, strategy="shuffle",
                                   cell_zoom=3).collect()
    assert len(out) == 4
    assert sorted((r["url"], r["cell_id"]) for r in out) == \
        [("dup", 1), ("dup", 1), ("out", None), ("out", None)]
    assert all(r["body"] == payload for r in out)


def test_hole_and_concave_respected_in_join(spark):
    polys = PG.poly_fixture(spark).select(
        F.col("fid").alias("cell_id"), F.col("geometry").alias("wkb"))
    pts = spark.createDataFrame(
        [("in7", 145.0, 1.0), ("hole7", 145.0, 5.0), ("in3", 61.0, 5.0),
         ("notch3", 65.0, 5.0)],
        "url string, lon double, lat double")
    for strategy in ("broadcast", "shuffle"):
        out = SJ.point_in_polygon_join(pts, polys, strategy=strategy, cell_zoom=3)
        got = {(r["url"], r["cell_id"]) for r in out.collect()}
        assert got == {("in7", 7), ("in3", 3)}, strategy


def test_with_envelope_matches_decoder(spark):
    polys = PG.poly_fixture(spark)
    env = SJ.with_envelope(polys, "geometry").collect()
    for r in env:
        e = G.polygon_envelope(bytes(r["geometry"]))
        assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == e


def test_polygon_cover_cells(spark):
    polys = PG.admin_grid(spark, nx=4, ny=2)
    covered = SJ.polygon_cover_cells(polys, "wkb", cell_zoom=3)
    from gdal_spark.functions import tiles as T
    for r in covered.select("cell_id", "xmin", "ymin", "xmax", "ymax", "_tx", "_ty").collect():
        tx0, _ = T.py_latlon_to_tile(0.0, r["xmin"], 3)
        tx1, _ = T.py_latlon_to_tile(0.0, r["xmax"], 3)
        _, ty0 = T.py_latlon_to_tile(r["ymin"], 0.0, 3)
        _, ty1 = T.py_latlon_to_tile(r["ymax"], 0.0, 3)
        assert tx0 <= r["_tx"] <= tx1 and ty0 <= r["_ty"] <= ty1


def test_metadata_probe_runs_no_job(spark, tmp_path):
    """The auto strategy's row-count probe must come from Catalyst stats
    (parquet footers), not a count() action — no Spark job may run."""
    pq = str(tmp_path / "polys.parquet")
    PG.admin_grid(spark, nx=4, ny=2).write.mode("overwrite").parquet(pq)
    polys = spark.read.parquet(pq)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    est = SJ._estimated_row_count(polys)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert est is not None and est >= 1
    assert after == before, "metadata probe launched a Spark job"


@pytest.mark.parametrize("how", ["inner", "left", "left_first"])
def test_shuffle_matches_broadcast_across_the_pole(spark, how):
    """A concave diamond whose bbox passes +90° latitude: the shuffle path
    must match points in its valid part exactly as the broadcast path does
    (its cell cover once ended on a null tile row and dropped them)."""
    from collections import Counter
    polys = PG.diamond_grid(spark, 1, 1, 80.0, 120.0, 60.0, 100.0,
                            concave=True).select("cell_id", "wkb")
    pts = spark.createDataFrame(
        [(f"p{i}_{j}", -12.0 + 3.0 * i, 70.0 + 1.5 * j)
         for i in range(15) for j in range(14)],
        "url string, lon double, lat double")

    def run(strategy):
        out = SJ.point_in_polygon_join(pts, polys, how=how, strategy=strategy,
                                       cell_zoom=4)
        return Counter((r["url"], r["cell_id"]) for r in out.collect())

    shuffle = run("shuffle")
    assert shuffle == run("broadcast")
    assert sum(n for (_u, cid), n in shuffle.items() if cid is not None) > 20
