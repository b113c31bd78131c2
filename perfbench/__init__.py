"""End-to-end and per-layer benchmark of the dask_ml_spark catalog.

Entry point: ``python3 perfbench/run.py --workload NAME --seed N
--seconds S --trace 0|1`` (see README.md in this directory).
"""
