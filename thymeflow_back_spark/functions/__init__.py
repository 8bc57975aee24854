"""Scalar function library: geodesy (``geo``), E.164 phone
normalization (``phone``) and text folding and tokenization
(``text_norm``). Each caller imports the module it uses; the SPARQL
``personal:duration*`` functions live with the compiler
(``plans/sparql.py``)."""
