"""Engine benchmark: workloads, per-layer tracing and host probes (see README.md)."""
