"""Benchmark harness for strucmotif_search_spark; run ``perfbench/run.py``."""
