"""Benchmark for the quality-filter pipeline; see perfbench/NOTES.md."""
