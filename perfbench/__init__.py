"""Seeded end-to-end benchmark of the engine; entry point: run.py."""
