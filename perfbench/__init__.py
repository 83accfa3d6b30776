"""Benchmark for the query suite and the ingest ticks; see README.md."""
