"""Benchmark of the osm_addr_tools_spark engine; run ``perfbench/run.py``."""
