"""Binary media columns: image/audio features via Arrow-batched
mapInPandas (``ops``, ``png``, ``audio``)."""
