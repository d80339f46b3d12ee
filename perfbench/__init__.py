"""Seeded end-to-end and per-layer benchmark of the copy pipeline and
the query registry.  Run it with ``python3 perfbench/run.py``; see
``perfbench/README.md``."""
