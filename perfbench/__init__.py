"""Seeded benchmark for the CDC engine; entry point ``perfbench/run.py``."""
