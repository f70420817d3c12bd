"""The SPARQL texts of the benchmark's query mix, keyed by the name of their
DuckDB oracle in ``__spark_entry__.oracle_sql()``.

They are the texts ``__spark_entry__``'s ``q_kg_sparql_*`` functions of the
same name pass to ``run_sparql``, one per compiler feature family: BGP join
with filters, FILTER EXISTS / NOT EXISTS, MINUS, GROUP BY aggregates, and an
alternative-path closure with a join and GROUP BY. All five run over the
``tpch_kg`` statement layout. The benchmark calls ``run_sparql`` with them
directly, so no query shares a cached parse or frame with another.
"""

from __future__ import annotations

RDFS_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

QUERIES: dict[str, str] = {
    "kg_sparql_select": (
        "SELECT ?n ?l ?r WHERE { ?n <urn:hk:p/inRegion> ?r ."
        f" ?n {RDFS_LABEL} ?l . ?n <urn:hk:p/key> ?k ."
        " FILTER(?k >= 10 && ?r != <urn:hk:region/1>) }"
    ),
    "kg_sparql_exists": (
        "SELECT ?n ?k WHERE {"
        " ?n <urn:hk:p/key> ?k ."
        " FILTER EXISTS { ?c <urn:hk:p/inNation> ?n }"
        " FILTER NOT EXISTS { ?s <urn:hk:p/fromNation> ?n ."
        ' FILTER(REGEX(?s, "7>$")) } }'
    ),
    "kg_sparql_minus": (
        f"SELECT ?n WHERE {{ ?n {RDF_TYPE} <urn:hk:class/Nation> ."
        " MINUS { ?n <urn:hk:p/inRegion> <urn:hk:region/1> } }"
    ),
    "kg_sparql_agg": (
        "SELECT ?r (COUNT(?n) AS ?n_nations) (MIN(?n) AS ?first_nation)"
        " WHERE { ?n <urn:hk:p/inRegion> ?r } GROUP BY ?r"
    ),
    "kg_sparql_path_agg": (
        "SELECT ?r (COUNT(?x) AS ?n_members) WHERE {"
        " ?x (<urn:hk:p/inNation>|<urn:hk:p/inRegion>|"
        "<urn:hk:p/fromNation>)+ ?r ."
        f" ?r {RDF_TYPE} <urn:hk:class/Region> . }} GROUP BY ?r"
    ),
}
