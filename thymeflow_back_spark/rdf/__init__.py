"""RDF data model: the quad schema (``model``), the versioned quad store
(``store``), vocabulary IRIs (``vocab``), the N-Triples writer (``io``) and
the quads of the relational tables (``tpch``). Each caller imports the
module it uses."""
