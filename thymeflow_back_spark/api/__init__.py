from .service import (  # noqa: F401
    SparqlEndpoint,
    SparqlResult,
    ask_json,
    ask_xml,
    execute_sparql,
    quads_ntriples,
    query_form,
    select_json,
    select_xml,
)
