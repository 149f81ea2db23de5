"""Benchmark for newscrawler_spark: see README.md in this directory."""
