"""CDC sink benchmark (see run.py)."""
