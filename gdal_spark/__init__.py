"""gdal_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query and data-processing capabilities of GDAL/OGR
(reference: /root/reference) as idiomatic Spark DataFrame operators:

- ``functions.tiles``    — WebMercator/geodetic tile + quadkey math as pure
  column expressions (reference: gdal/swig/python/scripts/gdal2tiles.py:211-412).
- ``functions.geometry`` — WKB codec + vectorized ray-casting point-in-polygon
  (reference algorithm: gdal/ogr/ogrlinearring.cpp:471-533).
- ``functions.checksum`` — bit-exact GDAL image checksum
  (reference: gdal/alg/gdalchecksum.cpp:122-159).
- ``sources.pages``      — deterministic Common-Crawl-style pages table
  (url, warc_ts, html, text, lang) with hash-geocoded point layer.
- ``operators.spatial_join`` — staged bbox-prefilter + exact-PIP join with
  broadcast and shuffle (cell-partitioned) paths
  (reference semantics: gdal/ogr/ogrsf_frmts/generic/ogrlayer.cpp:1344-1450, 2016-2146).
- ``operators.knn``      — exact kNN: histogram-bounded radius, then one join.
- ``operators.tiling``   — tile assignment + pyramid rollup, every level in
  one aggregation (reference: gdal2tiles.py base/overview tile passes).
- ``operators.dedup``    — exact/MinHash-LSH/SimHash/n-gram-Jaccard dedup.
- ``operators.ann``      — cosine top-k similarity search.
- ``plans.manifest``     — checkpoint manifest + per-partition lineage
  (reference analog: gdal2tiles.py --resume, :1200-1205).
- ``ogrsql``             — ExecuteSQL: the OGR SQL dialect parsed into
  Catalyst Column trees (reference: gdal/ogr/swq_parser.y + ogr_gensql.cpp).
- ``sources.formats``    — vector format drivers: GeoJSON(Seq), CSV-WKT,
  ESRI Shapefile, GeoPackage (reference: gdal/ogr/ogrsf_frmts/*).
- ``raster.formats``     — GeoTIFF (uncompressed classic TIFF) + AAIGrid
  codecs (reference: gdal/frmts/gtiff, gdal/frmts/aaigrid).
- ``raster.vrt``         — .vrt XML composition parsed into the lazy
  DataFrame plan; build_vrt (reference: gdal/frmts/vrt, gdalbuildvrt).
- ``apps``               — ogr2ogr / gdal_translate / gdalwarp (with
  SuggestedWarpOutput) / gdalinfo / ogrinfo / gdaltindex pipelines
  (reference: gdal/apps).

Everything is pyspark.sql DataFrame + Arrow-batched pandas UDFs; no RDDs,
no per-row Python.
"""

__version__ = "0.1.0"
