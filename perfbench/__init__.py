"""Layered benchmark of the transcript cardinality pipeline (see README.md)."""
