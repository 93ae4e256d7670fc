"""Benchmark for the engine's streaming jobs and heavy suite queries;
run ``python3 perfbench/run.py --help`` from the repository root."""
