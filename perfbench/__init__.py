"""Benchmark of the RAPTOR tile-tree engine; see perfbench/run.py."""
