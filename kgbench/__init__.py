"""Seeded benchmark of the KG build pipeline and its document operators (run.py)."""
