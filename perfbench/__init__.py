"""Store benchmark for invariantbitpacking_spark; see README.md."""
