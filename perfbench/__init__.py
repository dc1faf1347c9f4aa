"""Repository benchmark: seeded workloads run through the engine's
public entry points, end-to-end metrics, correctness checks and a
traced per-layer run.  Entry point: ``python3 perfbench/run.py``."""
