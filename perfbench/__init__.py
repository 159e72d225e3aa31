"""Standalone benchmark for tlmc_etl_spark: see perfbench/README.md."""
