"""Benchmark for the coies_spark engine: two workloads driven through the
public API, with correctness gates and an optional traced run.
Entry point: ``python3 perfbench/run.py --workload <name> ...``."""
