"""Warm-state benchmark of the KG engine; entry point perfbench/run.py."""
