"""Seeded end-to-end and per-layer benchmark for sif_spark.

Run ``python3 perfbench/run.py --workload NAME --seed N --seconds S
--trace 0|1`` from the repository root; see ``perfbench/SPEC.md``.
"""
