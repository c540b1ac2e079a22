"""ER benchmark: seeded workloads, per-layer spans and correctness checks."""
