"""Seeded, oracle-checked benchmark for textindex_spark (``run.py``)."""
