"""Benchmark of the xlsx ETL and analytics engine: see README.md."""
