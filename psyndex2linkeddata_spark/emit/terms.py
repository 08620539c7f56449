"""N6 — topics, subject headings, age groups (SURVEY §2.6; A4/A5 counters).

Reference: /root/reference/modules/terms.py — add_controlled_terms (:54-146,
shared counter across CT then IT per A4), subject headings (:150-215, first
one weighted per A5), add_age_groups (:218-276).

Counter semantics are load-bearing: the reference increments only for
non-empty terms (skip-continue before increment), and the counter continues
from CT into IT (call chain convert_starxml_to_bf.py:1246-1253). We filter
first, then number with the element index — source order preserved by
`transform`, never `monotonically_increasing_id`.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from psyndex2linkeddata_spark import namespaces as NS
from psyndex2linkeddata_spark.emit.base import T, cleaned, pack_arr, subfield, typ
from psyndex2linkeddata_spark.functions.text import camel_case

def W():
    return F.col("work")


def parsed_topics() -> Column:
    """array<struct<n, label_en, label_de, weighted, vocab>> over CT then IT
    (vocab terms/addterms — used by the J5 sameAs linking join too)."""

    def parse(vocab: str):
        def inner(s: Column) -> Column:
            cstr = cleaned(F.trim(s))
            en = subfield(cstr, "e")
            de = subfield(cstr, "d")
            return F.struct(
                F.coalesce(en, de).alias("label_en"),
                de.alias("label_de"),
                (F.coalesce(subfield(cstr, "g"), F.lit("")) == "x").alias(
                    "weighted"
                ),
                F.lit(vocab).alias("vocab"),
            )

        return inner

    both = F.concat(
        F.transform(F.coalesce(F.col("CT"), F.array()), parse("terms")),
        F.transform(F.coalesce(F.col("IT"), F.array()), parse("addterms")),
    )
    valid = F.filter(both, lambda t: t["label_en"].isNotNull())
    return F.transform(
        valid,
        lambda t, i: F.struct(
            (i + 1).alias("n"),
            t["label_en"].alias("label_en"),
            t["label_de"].alias("label_de"),
            t["weighted"].alias("weighted"),
            t["vocab"].alias("vocab"),
        ),
    )


def topic_node(n: Column) -> Column:
    return F.concat(W(), F.lit("#topic"), n.cast("string"))


def topics() -> Column:
    """work#topic{n} a bf:Topic (+pxc:WeightedTopic when |g x) with
    rdfs:label + skos:prefLabel en/de, attached via bf:subject. The
    owl:sameAs concept URI comes from the J5 broadcast join
    (plans/enrich.topic_links)."""

    def one(t: Column) -> Column:
        node = topic_node(t["n"])
        return F.array(
            typ(node, NS.BF + "Topic"),
            T(node, NS.RDF_TYPE, F.when(t["weighted"], F.lit(NS.PXC + "WeightedTopic")), iri=True),
            T(node, NS.RDFS_LABEL, t["label_en"]),
            T(node, NS.SKOS + "prefLabel", t["label_en"], lang="en"),
            T(node, NS.SKOS + "prefLabel", t["label_de"], lang="de"),
            T(W(), NS.BF + "subject", node, iri=True),
        )

    return pack_arr(F.flatten(F.transform(parsed_topics(), one)))


def subject_headings() -> Column:
    """work#subjectheading{n} a pxc:SubjectHeading (+Weighted at n=1),
    owl:sameAs class vocab URI from |c code, via bf:classification."""

    def one(s: Column, i: Column) -> Column:
        cstr = cleaned(F.trim(s))
        code = subfield(cstr, "c")
        node = F.concat(W(), F.lit("#subjectheading"), (i + 1).cast("string"))
        return F.array(
            typ(node, NS.PXC + "SubjectHeading"),
            T(node, NS.RDF_TYPE, F.when(i == 0, F.lit(NS.PXC + "SubjectHeadingWeighted")), iri=True),
            T(node, NS.OWL + "sameAs", F.when(code.isNotNull(), F.concat(F.lit(NS.CLASS), code)), iri=True),
            T(W(), NS.BF + "classification", node, iri=True),
        )

    return pack_arr(
        F.flatten(F.transform(F.coalesce(F.col("SH"), F.array()), one))
    )


def age_groups() -> Column:
    """age vocab URI (camelCased label) a pxc:AgeGroup via
    bflc:demographicGroup (terms.py:218-243)."""

    def one(s: Column) -> Column:
        node = F.concat(F.lit(NS.AGE), camel_case(cleaned(F.trim(s))))
        return F.array(
            typ(node, NS.PXC + "AgeGroup"),
            T(W(), NS.BFLC + "demographicGroup", node, iri=True),
        )

    return pack_arr(
        F.flatten(F.transform(F.coalesce(F.col("AGE"), F.array()), one))
    )
