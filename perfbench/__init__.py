"""Benchmark harness for the engine: seeded workloads, timed from the
caller's side, with an optional traced run for per-layer numbers."""
