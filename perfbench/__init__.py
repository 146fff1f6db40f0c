"""Benchmark harness for the vector store; see README.md."""
