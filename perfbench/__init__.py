"""Benchmark for the mirabelle_spark event engine; see README.md."""
