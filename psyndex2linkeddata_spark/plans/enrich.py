"""Stage 3 — link/enrich: the one post-barrier stage (SURVEY §2.4),
run by build_triples whenever it takes a barrier.

A2 (publication_types.py:481-631) runs here once, on the barrier:
thesis beats ScholarlyPaper/ScholarlyWork and, with the genres vocab,
a genre beats its ancestors. It only removes bf:genreForm edges, so the
linkers read the barrier directly; the node labels read the cleaned set.

The reference enriches per record with live HTTP (ROR, Crossref,
Skosmos — modules/local_api_lookups.py, redis-cached). Here the
authorities are input DataFrames and each lookup is ONE broadcast join
(per authority and mention kind) over the distinct mention keys:

- J5  topic owl:sameAs from the terms/addterms vocab (label_en → uri;
      'terms' preferred when both vocabs carry the label — mirrors the
      CT-before-IT lookup order, terms.py:106-110)
- J6  genre + license node labels from the genres/licenses vocabs
      (publication_types.py:320-330,452-466)
- J1  ROR affiliation ids: org labels matched exactly against authority
      names + aliases (normalized key); fuzzy LSH tier available via
      operators/linking for dirty corpora (off by default so results
      stay deterministic vs the golden oracle); J2 country fill-in
      rides on the same join
- J3  FundRef DOIs for funder nodes (F28 canonicalization first,
      convert_starxml_to_bf.py:814-941)

Scale: every authority is dimension-sized (≤ millions of rows) →
broadcast hash joins, no shuffle on the fact side except the final
union+dedup. Mention keys are distinct()-ed before joining (each unique
dirty string resolved once per job, the requests_cache replacement).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.functions.grants import canonicalize_funder_name
from psyndex2linkeddata_spark.operators.linking import norm_key
from psyndex2linkeddata_spark.schema import TRIPLE_COLS


def _triple(subj, pred, obj, iri=True, lang=None, dtype=None):
    return F.struct(
        F.col(subj).alias("subj") if isinstance(subj, str) else subj.alias("subj"),
        F.lit(pred).alias("pred"),
        (F.col(obj) if isinstance(obj, str) else obj).cast("string").alias("obj"),
        F.lit(iri).alias("obj_is_iri"),
        (F.lit(lang) if lang is None or isinstance(lang, str) else lang)
        .cast("string")
        .alias("lang"),
        F.lit(dtype).cast("string").alias("dtype"),
    )


def _rows(df: DataFrame, *triples) -> DataFrame:
    out = df.select(F.explode(F.array(*triples)).alias("_t")).select(
        *[F.col("_t")[c].alias(c) for c in TRIPLE_COLS]
    )
    return out.where(F.col("obj").isNotNull() & F.col("subj").isNotNull())


def topic_links(triples: DataFrame, concepts: DataFrame) -> DataFrame:
    """J5: (topic_node, owl:sameAs, concept_uri)."""
    labels = (
        triples.where(
            (F.col("pred") == NS.SKOS + "prefLabel")
            & (F.col("lang") == "en")
            & F.col("subj").contains("#topic")
        )
        .select("subj", F.col("obj").alias("label"))
    )
    w = Window.partitionBy("label_en").orderBy(
        F.when(F.col("vocab") == "terms", 0).otherwise(1), F.col("uri")
    )
    vocab = (
        concepts.where(F.col("vocab").isin("terms", "addterms"))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("label_en"), F.col("uri"))
    )
    joined = labels.join(F.broadcast(vocab), labels["label"] == vocab["label_en"])
    return _rows(joined, _triple("subj", NS.OWL + "sameAs", "uri"))


def node_labels(triples: DataFrame, concepts: DataFrame) -> DataFrame:
    """J6: skos prefLabels de/en for every emitted genre and license node,
    plus rdfs:label on genre nodes (publication_types.py:320-330,452-466;
    license half local_api_lookups.py:129-156). Per-node Skosmos label
    lookups become one broadcast join over the distinct node URIs."""
    genre = F.col("pred") == NS.BF + "genreForm"
    nodes = (
        triples.where(genre | (F.col("pred") == NS.BF + "usageAndAccessPolicy"))
        .select(
            F.col("obj").alias("uri"),
            F.when(genre, "genres").otherwise("licenses").alias("vocab"),
        )
        .distinct()
    )
    vocab = concepts.where(F.col("vocab").isin("genres", "licenses")).select(
        "uri", "vocab", "label_en", "label_de"
    )
    joined = nodes.join(F.broadcast(vocab), ["uri", "vocab"])
    genre_label = F.when(F.col("vocab") == "genres", F.col("label_en"))
    return _rows(
        joined,
        _triple("uri", NS.SKOS + "prefLabel", "label_de", iri=False, lang="de"),
        _triple("uri", NS.SKOS + "prefLabel", "label_en", iri=False, lang="en"),
        _triple("uri", NS.RDFS_LABEL, genre_label, iri=False),
    )


def org_links(triples: DataFrame, auth_orgs: DataFrame) -> DataFrame:
    """J1: affiliation org nodes → ROR id identifier nodes
    (…_organization_rorid a locid:ror, rdf:value org_id — the node shape of
    contributions.py:75-88). J2, on the same join: affiliations WITHOUT a
    country (no |c subfield → the emit stage created no _address node) get
    one from the resolved org (contributions.py:114-222): …_address a
    mads:Address via mads:hasAffiliationAddress, …_address_country a
    mads:Country with the geonames-improved label + _geonamesid a
    locid:geonames."""
    from psyndex2linkeddata_spark.emit.contributions import geonames_id, geonames_name

    orgs = triples.where(
        F.col("subj").endswith("_organization") & (F.col("pred") == NS.RDFS_LABEL)
    ).select(
        "subj",
        F.regexp_replace("subj", "_organization$", "").alias("aff"),
        norm_key(F.col("obj")).alias("_key"),
    )
    have_addr = triples.where(
        F.col("pred") == NS.MADS + "hasAffiliationAddress"
    ).select(F.col("subj").alias("aff"), F.lit(True).alias("_has_addr"))
    j = (
        orgs.join(F.broadcast(_org_authority(auth_orgs)), "_key")
        .join(have_addr, "aff", "left")
        .withColumn("rornode", F.concat(F.col("subj"), F.lit("_rorid")))
        # null address → every J2 triple below drops out in _rows
        .withColumn(
            "addr",
            F.when(
                F.col("_has_addr").isNull() & F.col("country_name").isNotNull(),
                F.concat("aff", F.lit("_address")),
            ),
        )
        .withColumn("cnode", F.concat("addr", F.lit("_country")))
        .withColumn(
            "clabel",
            F.coalesce(geonames_name(F.col("country_name")), F.col("country_name")),
        )
        .withColumn("gid", geonames_id(F.col("country_name")))
        .withColumn(
            "gnode",
            F.when(
                F.col("gid").isNotNull(), F.concat("cnode", F.lit("_geonamesid"))
            ),
        )
    )
    return _rows(
        j,
        _triple("rornode", NS.RDF_TYPE, F.lit(NS.LOCID + "ror")),
        _triple("rornode", NS.RDF + "value", "org_id", iri=False),
        _triple("subj", NS.BF + "identifiedBy", "rornode"),
        _triple("aff", NS.MADS + "hasAffiliationAddress", "addr"),
        _triple("addr", NS.RDF_TYPE, F.lit(NS.MADS + "Address")),
        _triple("addr", NS.MADS + "country", "cnode"),
        _triple("cnode", NS.RDF_TYPE, F.lit(NS.MADS + "Country")),
        _triple("cnode", NS.RDFS_LABEL, "clabel", iri=False),
        _triple("cnode", NS.BF + "identifiedBy", "gnode"),
        _triple("gnode", NS.RDF_TYPE, F.lit(NS.LOCID + "geonames")),
        _triple("gnode", NS.RDF + "value", "gid", iri=False),
    )


def _org_authority(auth_orgs: DataFrame) -> DataFrame:
    """(norm name/alias key → org row), names before aliases on conflicts."""
    names = auth_orgs.select(
        norm_key(F.col("name")).alias("_key"),
        "org_id",
        "fundref_doi",
        "country_name",
        F.lit(0).alias("_pref"),
    )
    aliases = auth_orgs.select(
        F.explode("aliases").alias("_alias"), "org_id", "fundref_doi", "country_name"
    ).select(
        norm_key(F.col("_alias")).alias("_key"),
        "org_id",
        "fundref_doi",
        "country_name",
        F.lit(1).alias("_pref"),
    )
    w = Window.partitionBy("_key").orderBy("_pref", "org_id")
    return (
        names.unionByName(aliases)
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_pref")
    )


def fundref_links(triples: DataFrame, auth_orgs: DataFrame) -> DataFrame:
    """J3+J4: funder nodes → FundRef DOI identifier nodes
    (…_funder_funderid a pxc:FundRefDoi, convert_starxml_to_bf.py:994-1000),
    keyed on the F28-canonicalized funder name. J4 retry-on-truncation:
    when the full name finds nothing, the reference re-queries with the
    name cut at the first comma (convert_starxml_to_bf.py:871-877, the
    recursive `funder_name.split(",")[0]` branch) — here a second
    broadcast join on the truncated key, coalesced behind the full-name
    hit so a full match always wins."""
    canon = canonicalize_funder_name(F.col("obj"))
    funders = (
        triples.where(
            F.col("subj").endswith("_funder") & (F.col("pred") == NS.RDFS_LABEL)
        )
        .select(
            "subj",
            norm_key(canon).alias("_key"),
            norm_key(
                F.when(canon.contains(","), F.split(canon, ",").getItem(0))
            ).alias("_key_trunc"),
        )
    )
    authority = _org_authority(auth_orgs).where(F.col("fundref_doi").isNotNull())
    trunc_authority = authority.select(
        F.col("_key").alias("_key_trunc"),
        F.col("fundref_doi").alias("_fundref_doi_trunc"),
    )
    joined = (
        funders.join(F.broadcast(authority), "_key", "left")
        .join(F.broadcast(trunc_authority), "_key_trunc", "left")
        .withColumn(
            "fundref_doi",
            F.coalesce(F.col("fundref_doi"), F.col("_fundref_doi_trunc")),
        )
        .where(F.col("fundref_doi").isNotNull())
        .withColumn("fnode", F.concat(F.col("subj"), F.lit("_funderid")))
    )
    return _rows(
        joined,
        _triple("fnode", NS.RDF_TYPE, F.lit(NS.PXC + "FundRefDoi")),
        _triple("fnode", NS.RDF + "value", "fundref_doi", iri=False),
        _triple("subj", NS.BF + "identifiedBy", "fnode"),
    )


def genre_ancestor_closure(concepts: DataFrame) -> DataFrame:
    """(genre_uri, ancestor_uri) broadcast closure from the genres vocab
    (broaderTransitive stand-in, local_api_lookups.py:180-192)."""
    return (
        concepts.where(F.col("vocab") == "genres")
        .select(F.col("uri").alias("genre_uri"), F.explode("ancestors").alias("ancestor_uri"))
    )


def enrich_triples(triples: DataFrame, authorities: dict[str, DataFrame]) -> DataFrame:
    """A2 genre cleanup once (ancestor rule with auth_concepts) plus the
    linkers the authorities enable; returns the enlarged, deduplicated
    set, or the cleaned set as is when no linker runs (`{}`, bad_ids).
    `triples` sits behind finalize()'s plan barrier, so the references
    below re-read materialized partitions, not the emit plan."""
    from psyndex2linkeddata_spark.operators.upsert import clean_genres

    concepts = authorities.get("auth_concepts")
    orgs = authorities.get("auth_orgs")
    anc = genre_ancestor_closure(concepts) if concepts is not None else None
    cleaned = clean_genres(triples, anc)
    adds = []
    if concepts is not None:
        adds.append(topic_links(triples, concepts))
        adds.append(node_labels(cleaned, concepts))
    if orgs is not None:
        adds.append(org_links(triples, orgs))
        adds.append(fundref_links(triples, orgs))
    if not adds:
        return cleaned
    out = cleaned
    for a in adds:
        out = out.unionByName(a)
    return out.dropDuplicates(list(TRIPLE_COLS))
