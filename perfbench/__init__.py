"""CDC engine benchmark (see perfbench/run.py)."""
