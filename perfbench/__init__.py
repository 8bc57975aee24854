"""Benchmark of the personal knowledge base: SPARQL serving, updates and catalog queries."""
