"""Benchmark for dask_patternsearch_spark: three closed-loop workloads
(search portfolio, corpus queries, incremental corpus ingest) driven by
``perfbench/run.py``."""
