"""The repository benchmark: workloads, generator, tracing (see README.md)."""
