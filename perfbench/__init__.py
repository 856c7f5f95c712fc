"""Benchmark for the engine: workloads, generators and tracing."""
