"""Layered benchmark of the CDC engine; see README.md."""
