"""Benchmark of graft's two DAGs and its operator registry (Python side)."""
