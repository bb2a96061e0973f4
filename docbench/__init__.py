"""The docflow benchmark: seeded workloads driven against the engine from outside."""
