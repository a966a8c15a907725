"""Trip data-plane benchmark (see run.py)."""
