"""CDC consumer benchmark: seeded workloads driven through the engine's
public entry points. Run it with ``python3 cdcbench/run.py --help``."""
