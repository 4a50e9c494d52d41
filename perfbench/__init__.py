"""Benchmark of the whoosh_novo_spark engine; see README.md."""
