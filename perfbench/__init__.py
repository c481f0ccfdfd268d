"""Streaming benchmark of the movement_spark engine (see run.py)."""
