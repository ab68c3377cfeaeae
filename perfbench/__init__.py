"""Seeded end-to-end and per-layer benchmark of the profiling engine.

Run from the repository root: ``python3 perfbench/run.py --workload
query_mix --seed 1 --seconds 8 --trace 0``. See ``perfbench/README.md``.
"""
