"""Composable DataFrame operators.

Each operator is a pure function DataFrame -> DataFrame built from JVM-side
expressions (no Python row loops), designed so the physical plan scales:
shuffles only on declared keys, broadcasts for small sides, bucketized
range joins instead of cross products. Each caller imports the module it
uses.
"""
