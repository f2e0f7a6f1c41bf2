"""Benchmark library: inputs, workloads, tracing, host context and statistics."""
