"""Repository benchmark for ecc_spark: see perfbench/README.md."""
