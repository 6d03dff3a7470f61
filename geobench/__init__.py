"""Seeded benchmark for geospatial_spark: end-to-end metrics per workload
plus a traced run with per-layer spans (see README.md in this directory)."""
