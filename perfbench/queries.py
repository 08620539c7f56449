"""The SPARQL query mix, in the reference's validation dialect.

Two classes:

- lookups: describe one work by IRI; the seed picks the works;
- analytic validation queries, one per construct the reference's .rq
  files lean on: FILTER NOT EXISTS, COUNT/GROUP BY, sequence paths,
  `owl:sameAs+`, OPTIONAL.
"""

from __future__ import annotations

import random

PREFIXES = """\
PREFIX bf: <http://id.loc.gov/ontologies/bibframe/>
PREFIX mads: <http://www.loc.gov/mads/rdf/v1#>
PREFIX owl: <http://www.w3.org/2002/07/owl#>
PREFIX pxc: <https://w3id.org/zpid/ontology/classes/>
PREFIX pxp: <https://w3id.org/zpid/ontology/properties/>
PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
"""

WORKS = "https://w3id.org/zpid/resources/works/"

# one shape, so that a lookup's latency is one distribution: a mix of
# shapes with different costs makes the median jump between them
LOOKUP = "SELECT ?p ?o WHERE {{ <{work}> ?p ?o }}"

ANALYTIC = tuple(
    PREFIXES + q
    for q in (
        # works_without_genres.rq shape
        "SELECT ?work WHERE { ?work a pxc:MainWork . "
        "FILTER NOT EXISTS { ?work bf:genreForm ?genre } }",
        # works_with_several_genres.rq shape
        "SELECT ?genre (COUNT(?work) AS ?n) WHERE { ?work bf:genreForm ?genre } "
        "GROUP BY ?genre",
        # chapters_without_book.rq's sequence path
        "SELECT ?work ?issuance WHERE { ?work a pxc:MainWork ; "
        "pxp:hasInstanceBundle/pxp:issuanceType ?issuance }",
        # entity identity: transitive owl:sameAs
        "SELECT ?x ?y WHERE { ?x owl:sameAs+ ?y }",
        # with_corporate_contributor.rq's OPTIONAL affiliation country
        "SELECT ?c ?agent ?country WHERE { ?c a bf:Contribution ; bf:agent ?agent . "
        "OPTIONAL { ?c mads:hasAffiliation/mads:hasAffiliationAddress/"
        "mads:country/rdfs:label ?country } }",
    )
)


def work_iri(dfk: str) -> str:
    return f"{WORKS}{dfk}_work"


def lookups(dfks: list[str], n: int, rng: random.Random) -> list[str]:
    """`n` lookups (describe one work) of works drawn from `dfks` by `rng`."""
    return [LOOKUP.format(work=work_iri(rng.choice(dfks))) for _ in range(n)]
