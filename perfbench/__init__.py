"""Seeded, output-checked benchmark of the lake engine (see README.md)."""
