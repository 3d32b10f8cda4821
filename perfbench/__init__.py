"""Workload benchmark for the engine: see README.md in this directory."""
