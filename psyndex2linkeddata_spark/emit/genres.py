"""N20 — issuance type, work genres, CM study types (J17 recode, A6
counter), COPR license (F23).

Reference: /root/reference/modules/publication_types.py — get_issuance_type
(:634-671), add_work_studytypes (:111-342, recode table
modules/mappings.py:715-1215), add_work_genres (:331-478);
/root/reference/convert_starxml_to_bf.py:155-301 (license).

The 58-rule CM recode table (J17) and the 7-row issuance table are static
reference data → literal map expressions (no join, no shuffle). The Annif
ML fallback for method-less records (J8) is an external service the engine
replaces with its input tables; records without CM simply get no method
node here (deterministic stand-in documented in SURVEY §2.4 J8).

Genre-hierarchy cleanup (A2) is a post-emit anti-join
(operators/upsert.clean_genres, run by plans/enrich.enrich_triples) —
it needs the per-work genre *set*.
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.data.tables import cm_mapping_lookup, issuancetypes
from psyndex2linkeddata_spark.emit.base import T, pack, pack_arr, subfield, typ
from psyndex2linkeddata_spark.functions.licenses import license_uri

def W():
    return F.col("work")
def B():
    return F.col("bundle")


def _lit_map(pairs) -> Column:
    return F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in pairs))


def _ISSUANCE():
    return _lit_map((be, label) for be, label, _de in issuancetypes)

def _CM_NEW():
    return _lit_map(
    (r["old_cm"], r["new_cm"]) for r in cm_mapping_lookup if r.get("new_cm")
)
def _CM_LABEL():
    return _lit_map(
    (r["old_cm"], r.get("new_cm_label") or "")
    for r in cm_mapping_lookup
    if r.get("new_cm")
)
def _CM_GENRE():
    return _lit_map(
    (r["old_cm"], r["new_genre"]) for r in cm_mapping_lookup if r.get("new_genre")
)


def issuance() -> Column:
    """bundle pxp:issuanceType issuances:{CamelCased label}; node a
    pxc:IssuanceType with rdfs:label (publication_types.py:634-671;
    unmatched BE → 'Other')."""
    label = F.coalesce(_ISSUANCE()[F.trim(F.col("BE"))], F.lit("Other"))
    node = F.concat(F.lit(NS.ISSUANCES), F.regexp_replace(label, " ", ""))
    return pack(
        typ(node, NS.PXC + "IssuanceType"),
        T(node, NS.RDFS_LABEL, label),
        T(B(), NS.PXP + "issuanceType", node, iri=True),
        when=F.col("BE").isNotNull(),
    )


def license_node() -> Column:
    """F23: COPR |c (+ |d for the PUBL fallback) → licenses vocab URI, a
    bf:UsePolicy, attached bundle bf:usageAndAccessPolicy
    (convert_starxml_to_bf.py:155-248). Labels join in via the licenses
    vocab broadcast (J6) in plans/pipeline."""
    uri = license_uri(
        F.coalesce(subfield(F.col("COPR"), "c"), F.lit("")),
        subfield(F.col("COPR"), "d"),
    )
    return pack(
        T(F.when(uri.isNotNull(), uri), NS.RDF_TYPE, NS.BF + "UsePolicy", iri=True),
        T(B(), NS.BF + "usageAndAccessPolicy", uri, iri=True),
        when=F.col("COPR").isNotNull(),
    )


def _genre_edges(genre: Column) -> Column:
    node = F.concat(F.lit(NS.GENRES), genre)
    return F.array(
        T(node, NS.RDF_TYPE, NS.BF + "GenreForm", iri=True),
        T(W(), NS.BF + "genreForm", node, iri=True),
    )


def work_genres() -> Column:
    """add_work_genres rules over BE/DT/DT2/BN (publication_types.py:331-478)
    reduced to the rules our corpus can trigger: thesis detection (BE=SH,
    DT/DT2=61, BN 'dissertation'/'habilitation', 'kumulative' variant).
    DFK-hardcoded special cases from the reference's own corpus don't apply
    to synthetic ids and are omitted."""
    # the reference compares with casefold, not lower (e.g. an archaic
    # 'Dißertation' casefolds to a 'dissertation' match)
    from psyndex2linkeddata_spark.functions.names import casefold_compat

    bn = casefold_compat(F.coalesce(F.col("BN"), F.lit("")))
    is_thesis = (
        (F.trim(F.coalesce(F.col("BE"), F.lit(""))) == "SH")
        | (F.trim(F.coalesce(F.col("DT"), F.lit(""))) == "61")
        | (F.trim(F.coalesce(F.col("DT2"), F.lit(""))) == "61")
        | bn.contains("dissertation")
    )
    is_habil = bn.contains("habil")
    cumulative = bn.contains("kumulative")
    genre = F.when(
        is_thesis,
        F.when(cumulative, F.lit("CompilationThesisDoctoral")).otherwise(
            F.lit("ThesisDoctoral")
        ),
    ).when(
        is_habil,
        F.when(cumulative, F.lit("CompilationThesisHabilitation")).otherwise(
            F.lit("ThesisHabilitation")
        ),
    )
    return pack_arr(F.when(genre.isNotNull(), _genre_edges(genre)))


# J8 Annif stand-in: the reference asks an ML service for a method code
# when a record has no CM (publication_types.py:125-185, text = title +
# abstract + language-matched keywords). The engine's deterministic
# replacement classifies the same text surface — the normalized token
# stream of title+abstract — by a stable hash over the mappable CM codes:
# same call surface (text → code), content-dependent, no service.
_ANNIF_CODES = sorted({r["old_cm"] for r in cm_mapping_lookup if r.get("new_cm")})


def annif_text(title: Column, abstract: Column) -> Column:
    """Normalized classifier input: lowercase alphanumeric tokens of
    title + ' ' + abstract, single-space joined (byte-identical twin in
    emit/arrow.py annif_text)."""
    raw = F.concat_ws(" ", title, F.coalesce(abstract, F.lit("")))
    toks = F.regexp_replace(F.lower(raw), r"[^a-z0-9]+", " ")
    return F.trim(toks)


def annif_stub_code(text: Column) -> Column:
    idx = F.pmod(F.crc32(F.encode(text, "utf-8")), F.lit(len(_ANNIF_CODES)))
    m = _lit_map((str(i), c) for i, c in enumerate(_ANNIF_CODES))
    return m[idx.cast("string")]


def cm_methods(annif: bool = True) -> Column:
    """J17 + A6: CM |c codes recoded through cm_mapping_lookup; every mapped
    method gets work#controlledmethod{n} a pxc:ControlledMethod (n counts
    only mapped methods, first one also ControlledMethodWeighted), owl:sameAs
    methods vocab URI, rdfs:label, via bf:classification; mapped new_genre →
    genreForm edges (publication_types.py:203-330). Records without CM get
    one J8-suggested code (annif_stub_code); `annif=False` models the
    reference's offline degrade (Annif unreachable → no suggestion, no
    method node) — the mode the reference-exec oracle compares against."""
    codes = F.transform(
        F.coalesce(F.col("CM"), F.array()),
        lambda s: subfield(s, "c"),
    )
    if annif:
        no_cm = F.size(F.coalesce(F.col("CM"), F.array())) == 0
        codes = F.when(
            no_cm & F.col("TI").isNotNull(),
            F.array(annif_stub_code(annif_text(F.trim(F.col("TI")), F.col("ABH")))),
        ).otherwise(codes)
    mapped = F.filter(
        F.transform(
            codes,
            lambda c: F.struct(
                _CM_NEW()[c].alias("new_cm"),
                _CM_LABEL()[c].alias("label"),
                _CM_GENRE()[c].alias("genre"),
            ),
        ),
        lambda m: m["new_cm"].isNotNull() | m["genre"].isNotNull(),
    )
    with_methods = F.filter(mapped, lambda m: m["new_cm"].isNotNull())

    def method(m: Column, i: Column) -> Column:
        node = F.concat(W(), F.lit("#controlledmethod"), (i + 1).cast("string"))
        return F.array(
            typ(node, NS.PXC + "ControlledMethod"),
            T(
                node,
                NS.RDF_TYPE,
                F.when(i == 0, F.lit(NS.PXC + "ControlledMethodWeighted")),
                iri=True,
            ),
            T(node, NS.OWL + "sameAs", F.concat(F.lit(NS.METHODS), m["new_cm"]), iri=True),
            T(node, NS.RDFS_LABEL, F.when(m["label"] != "", m["label"])),
            T(W(), NS.BF + "classification", node, iri=True),
        )

    method_triples = F.flatten(F.transform(with_methods, method))
    genre_triples = F.flatten(
        F.transform(
            F.filter(mapped, lambda m: m["genre"].isNotNull()),
            lambda m: _genre_edges(m["genre"]),
        )
    )
    return pack_arr(F.concat(method_triples, genre_triples))


def issuance_and_genres(annif: bool = True) -> Column:
    return F.concat(issuance(), work_genres(), cm_methods(annif=annif))
