"""Closed-loop benchmark of the engine: see run.py and METRICS.md."""
