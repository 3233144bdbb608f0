"""Repository benchmark: seeded workloads, output checks and a traced run (see run.py)."""
