"""Benchmark of the sparrow_ipc_spark engine: see README.md."""
