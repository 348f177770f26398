"""Seeded, layer-traced benchmark of webdq; the entry point is run.py."""
