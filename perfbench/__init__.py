"""Engine benchmark: two workloads over the public API (see README.md)."""
