"""Layer-attributed benchmark for the analytics engine; see run.py."""
