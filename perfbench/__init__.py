"""Seeded benchmark for hdfe_spark; entry point: ``perfbench/run.py``."""
