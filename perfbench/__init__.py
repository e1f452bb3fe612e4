"""Benchmark of heavy_hitters_spark; see README.md."""
