"""Seeded end-to-end and per-layer benchmark of posmspark (see run.py)."""
