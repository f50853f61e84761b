"""Benchmark of the sketch library; run `python3 perfbench/run.py --help`."""
