"""Benchmark for the engine: seeded workloads, output checks and a traced run (see DESIGN.md)."""
