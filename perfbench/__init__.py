"""Engine benchmark: seeded workloads, checks and a layer-split trace."""
