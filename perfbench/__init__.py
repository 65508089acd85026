"""Benchmark for finddup_spark: seeded workloads, end-to-end metrics and a
per-layer trace. Run ``python3 perfbench/run.py --help``; see README.md."""
