"""pygr_spark benchmark: see perfbench/README.md."""
