"""Benchmark of the streaming sessionizer and the clickstream query
registry; entry point ``perfbench/run.py``."""
