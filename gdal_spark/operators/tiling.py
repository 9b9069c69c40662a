"""Tile assignment + pyramid rollup (the gdal2tiles.py job shape).

Base pass: every point gets its (z, tx, ty) via closed-form column math
(gdal2tiles.py:211-318); per-tile aggregation is one shuffle on the tile
key. Overview pass: the distributed analog of gdal2tiles.py:1313-1400
(4-child overview resampling), here over per-tile statistics rather than
pixels (pixel pyramids live in raster/pyramid.py): each base tile is
emitted once per level as its ancestor, and a single groupBy on
(zoom, tx, ty) sums every level at once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_spark.functions import tiles


def tile_counts(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat",
                weight: str | None = None) -> DataFrame:
    """Per-tile point counts (and optional weight sums) at ``zoom``.
    Output: (zoom, tx, ty, quadkey, n [, wsum])."""
    df = tiles.with_tile_columns(points, lon=lon, lat=lat, zoom=zoom)
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight is not None:
        aggs.append(F.sum(weight).alias("wsum"))
    return (
        df.groupBy("tx", "ty")
        .agg(*aggs)
        .withColumn("zoom", F.lit(zoom))
        .withColumn("quadkey", tiles.quadkey(F.col("tx"), F.col("ty"), zoom))
        .select("zoom", "tx", "ty", "quadkey", *[a for a in ("n", "wsum") if weight or a == "n"])
    )


def pyramid(base: DataFrame, zoom: int, min_zoom: int = 0) -> DataFrame:
    """Roll per-tile ``n`` (and ``wsum``, when present) up from ``zoom`` to
    ``min_zoom``. Output: (zoom, tx, ty, quadkey, n [, wsum]), every level.

    Each base tile is emitted once per level as its ancestor
    (zoom - d, tx >> d, ty >> d), and one groupBy sums all levels: a single
    exchange, however many levels are asked for."""
    vals = ["n"] + (["wsum"] if "wsum" in base.columns else [])
    ancestors = F.explode(F.array(*[
        F.struct(F.lit(zoom - d).alias("zoom"), F.shiftright("tx", d).alias("tx"),
                 F.shiftright("ty", d).alias("ty"))
        for d in range(zoom - min_zoom + 1)]))
    # an ancestor's quadkey is a prefix of any descendant's: take the
    # descendant (tx << d, ty << d) at ``zoom`` and cut it to the level
    desc = [F.expr(f"shiftleft({c}, {zoom} - zoom)") for c in ("tx", "ty")]
    return (base.select(ancestors.alias("_a"), *vals).select("_a.*", *vals)
            .groupBy("zoom", "tx", "ty").agg(*[F.sum(v).alias(v) for v in vals])
            .withColumn("quadkey", tiles.quadkey(*desc, zoom).substr(F.lit(1), F.col("zoom")))
            .select("zoom", "tx", "ty", "quadkey", *vals))
