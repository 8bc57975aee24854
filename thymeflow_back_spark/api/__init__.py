"""The SPARQL 1.1 protocol endpoint over the quad store (``service``)."""
