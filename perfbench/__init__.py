"""Benchmark for the mongo2pq_spark engine: seeded workloads over the
extract-load path, the persisted near-dedup store and the query
registry, with a traced mode that attributes time and Spark executor
work to the engine's modules. Entry point: ``python3 perfbench/run.py``.
"""
