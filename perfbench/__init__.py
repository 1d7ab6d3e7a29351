"""Closed-loop benchmark of the package; run ``perfbench/run.py``."""
