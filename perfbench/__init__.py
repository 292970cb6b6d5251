"""Benchmark of corkscrew-spark: seeded workloads, known-answer checks,
end-to-end and per-layer metrics. Entry point: ``perfbench/run.py``."""
