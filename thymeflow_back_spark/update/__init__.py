"""SPARQL-UPDATE diff routing with write-back (``updater``)."""
