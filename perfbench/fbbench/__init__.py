"""Benchmark harness for fluent_bit_spark: seeded inputs, the three
workloads, span tracing and the traced layer sweep."""
