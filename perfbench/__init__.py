"""Seeded benchmark of fireworks_spark: see perfbench/run.py."""
