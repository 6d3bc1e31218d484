"""Seeded, checked benchmark of the engine; see kvbench/run.py."""
