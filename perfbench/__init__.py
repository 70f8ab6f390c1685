"""Benchmark of the drugbankner_spark engine; entry point: ``perfbench/run.py``."""
