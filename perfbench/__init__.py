"""Layered benchmark of the production extraction job (see README.md)."""
