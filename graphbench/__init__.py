"""Graph-database benchmark: see ``run.py``."""
