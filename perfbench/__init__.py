"""Repository benchmark for heparchy_spark; see run.py and BENCHMARK.json."""
