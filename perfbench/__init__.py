"""The repository benchmark: seeded workloads, meters and tracing."""
