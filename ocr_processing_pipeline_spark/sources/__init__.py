"""Data sources: the synthetic corpus generator."""
