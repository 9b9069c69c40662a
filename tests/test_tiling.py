"""Tile counts + pyramid rollup invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from gdal_spark.functions import tiles as T
from gdal_spark.operators import tiling
from gdal_spark.sources import pages as P


def test_tile_counts_match_python(spark):
    pts = P.extract_points(P.pages(spark, 300, n_hosts=60)).persist()
    out = tiling.tile_counts(pts, zoom=7).collect()
    rows = pts.collect()
    expected = {}
    for r in rows:
        key = T.py_latlon_to_tile(r["lat"], r["lon"], 7)
        expected[key] = expected.get(key, 0) + 1
    got = {(r["tx"], r["ty"]): r["n"] for r in out}
    assert got == expected
    for r in out:
        assert r["quadkey"] == T.py_quadkey(r["tx"], r["ty"], 7)
        assert r["zoom"] == 7


def test_pyramid_conserves_counts_and_matches_direct(spark):
    pts = P.extract_points(P.pages(spark, 500, n_hosts=80)).persist()
    base = tiling.tile_counts(pts, zoom=8)
    pyr = tiling.pyramid(base, zoom=8, min_zoom=4).persist()
    total = pts.count()
    for z in range(4, 9):
        lvl = pyr.filter(F.col("zoom") == z)
        assert lvl.agg(F.sum("n")).collect()[0][0] == total, z
        # rolled-up level must equal direct assignment at that zoom
        direct = {(r["tx"], r["ty"]): r["n"]
                  for r in tiling.tile_counts(pts, zoom=z).collect()}
        rolled = {(r["tx"], r["ty"]): r["n"] for r in lvl.collect()}
        assert rolled == direct, z


def _levels(df):
    return {(r["zoom"], r["tx"], r["ty"]): r for r in df.collect()}


def test_pyramid_weight_sums_match_direct(spark):
    pts = (P.extract_points(P.pages(spark, 400, n_hosts=70))
           .withColumn("w", F.length("url").cast("long")).persist())
    base = tiling.tile_counts(pts, zoom=7, weight="w")
    pyr = _levels(tiling.pyramid(base, zoom=7, min_zoom=3))
    direct = {}
    for z in range(3, 8):
        direct.update(_levels(tiling.tile_counts(pts, zoom=z, weight="w")))
    assert pyr.keys() == direct.keys()
    for key, r in pyr.items():
        d = direct[key]
        assert (r["n"], r["wsum"], r["quadkey"]) == (d["n"], d["wsum"], d["quadkey"]), key


def test_pyramid_single_level_is_the_base(spark):
    pts = P.extract_points(P.pages(spark, 200, n_hosts=40))
    base = tiling.tile_counts(pts, zoom=6)
    pyr = tiling.pyramid(base, zoom=6, min_zoom=6)
    assert pyr.columns == ["zoom", "tx", "ty", "quadkey", "n"]
    assert _levels(pyr) == _levels(base)


def test_pyramid_is_one_exchange(spark):
    """All levels come from one groupBy: the executed plan holds exactly one
    Exchange, hash-partitioned on (zoom, tx, ty)."""
    import re
    base = spark.createDataFrame(
        [(tx, ty, T.py_quadkey(tx, ty, 6), tx + ty + 1)
         for tx in range(0, 64, 5) for ty in range(0, 64, 7)],
        "tx int, ty int, quadkey string, n long").withColumn("zoom", F.lit(6))
    pyr = tiling.pyramid(base, zoom=6, min_zoom=2)
    rows = pyr.collect()
    assert {r["zoom"] for r in rows} == {2, 3, 4, 5, 6}
    plan = (pyr._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert [re.sub(r"#\d+", "", k).split(", ")[:3] for k in keys] == [["zoom", "tx", "ty"]], plan
