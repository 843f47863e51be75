"""Engine benchmark: seeded workloads, output checks, end-to-end and per-layer metrics."""
