"""Benchmark for the fawac_cdc_spark engine (see README.md)."""
