"""Closed-loop benchmark for esvc_spark's user-facing paths.

Run from the repository root: ``python3 perfbench/run.py --help``.
See perfbench/README.md for the workloads, metrics and settings.
"""
