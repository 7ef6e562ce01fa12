"""Benchmark of the rasteret_spark engine: seeded workloads, end-to-end
metrics, and a traced per-layer ledger.  Entry point: ``perfbench/run.py``."""
