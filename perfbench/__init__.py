"""Seeded, layer-attributed benchmark for the ER engine (see README.md)."""
