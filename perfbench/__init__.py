"""Layer-accounted benchmark of the engine (see run.py)."""
