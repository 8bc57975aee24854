"""SPARQL text → one Spark SQL statement over the quad store (sparql.py)."""
