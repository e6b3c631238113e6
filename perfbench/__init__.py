"""Seeded benchmark for the coldata_spark ingest and search dataflows.

Run ``python3 perfbench/run.py --workload ingest --seed 1 --seconds 10
--trace 0`` from the repository root; see README.md.
"""
