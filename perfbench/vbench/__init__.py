"""Benchmark harness for the vectra_py_spark engine (see ../README.md)."""
