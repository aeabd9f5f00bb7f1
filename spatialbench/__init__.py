"""Benchmark of the gdal_spark engine: end-to-end runs of four workloads
and a traced per-layer run. Entry point: ``python3 spatialbench/run.py``."""
