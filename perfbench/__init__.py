"""Market-engine benchmark: seeded workloads, output checks and
per-layer tracing over the public API (see ``run.py``)."""
