"""Benchmark harness for the KG-construction pipeline (see README.md)."""
