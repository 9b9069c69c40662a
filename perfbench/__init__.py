"""Seeded workload benchmark for the gdal_spark engine (see README.md)."""
