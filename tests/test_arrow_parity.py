"""Arrow-emitter parity gate: the mapInArrow hot path (emit/arrow.py)
must produce EXACTLY the triple set of the declarative Column path for
the same input — including the kill-list and the J13-J15 offline-linking
resolution maps. This is what lets the engine run the Python emitter at
scale while the Column layer remains the citable spec.

Cost control (round-3 verdict #5): the Column path is the expensive side
(~10^4-node interpreted expression tree), so it is materialized ONCE per
scenario, and the authorities scenario runs on a deterministic ~1/3
subset of the corpus: one full and one third-size Column execution;
parity stays exact-set.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from psyndex2linkeddata_spark.plans.pipeline import build_triples


def _tset(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_iri, r.lang, r.dtype) for r in df.collect()}


def _diff_msg(a, c):
    return (
        f"arrow-only={len(a - c)} column-only={len(c - a)}; "
        f"examples: {sorted(a ^ c)[:5]}"
    )


@pytest.fixture(scope="module")
def column_plain(spark, pages):
    """The Column-path triple set of the full corpus."""
    return _tset(build_triples(pages, emit_mode="columns"))


@pytest.fixture(scope="module")
def pages_subset(pages):
    """Deterministic ~1/3 slice (crc32(url) — stable across jobs, unlike
    limit(), whose row pick can vary between executions)."""
    return pages.filter(F.crc32(F.col("url")) % 3 == 0)


@pytest.fixture(scope="module")
def authorities(spark, fixture_dir):
    names = ("auth_orgs", "auth_concepts", "bad_ids", "auth_crossref", "auth_tests")
    loaded = {}
    for n in names:
        p = os.path.join(fixture_dir, f"{n}.parquet")
        if os.path.exists(p):
            loaded[n] = spark.read.parquet(p)
    return {
        k: v
        for k, v in (
            ("auth_orgs", loaded.get("auth_orgs")),
            ("auth_concepts", loaded.get("auth_concepts")),
            ("bad_ids", loaded.get("bad_ids")),
            ("crossref", loaded.get("auth_crossref")),
            ("tests", loaded.get("auth_tests")),
        )
        if v is not None
    }


def test_arrow_matches_columns_plain(spark, pages, column_plain):
    a = _tset(build_triples(pages, emit_mode="arrow"))
    assert a == column_plain, _diff_msg(a, column_plain)


def test_kill_list_runs_inside_the_arrow_stage(spark, pages, fixture_dir):
    """With bad_ids and the enrich authorities, the pages go straight into
    the one Arrow stage: no Column parse tree (`_entries`) in the plan,
    and a single MapInArrow reading only `text`. The kill-list, holding
    a null and a duplicated DFK, drops exactly the listed work."""
    from psyndex2linkeddata_spark import namespaces as NS
    from psyndex2linkeddata_spark.emit.arrow import parse_page_text

    few = pages.filter(F.crc32(F.col("url")) % 20 == 0)
    dfks = sorted(
        d
        for r in few.select("text").collect()
        if (d := parse_page_text(r.text).get("DFK")) is not None
    )
    killed = dfks[0]
    auth = {
        n: spark.read.parquet(os.path.join(fixture_dir, f"{n}.parquet"))
        for n in ("auth_orgs", "auth_concepts")
    }
    auth["bad_ids"] = spark.createDataFrame(
        [(killed,), (killed,), (None,)], "dfk string"
    )
    triples = build_triples(few, auth)
    plan = triples._jdf.queryExecution().analyzed().toString()
    assert "_entries" not in plan
    # enrich's self-joins re-instance the stage's attributes, so it prints
    # many times, but as one UDF (one result id) that reads only `text`
    stages = {
        (re.sub(r"#\d+", "", args), result_id)
        for args, result_id in re.findall(r"MapInArrow \w+\((.*?)\)#(\d+)", plan)
    }
    assert len(stages) == 1 and stages.pop()[0] == "text", stages
    subjects = {r.subj for r in triples.select("subj").distinct().collect()}
    works = {d for d in dfks if f"{NS.WORKS}{d}_work" in subjects}
    assert works == set(dfks[1:])


def test_arrow_matches_columns_with_authorities(spark, pages_subset, authorities):
    """Kill-list + Crossref/TESTG resolution maps applied in-stage."""
    a = _tset(build_triples(pages_subset, authorities, emit_mode="arrow"))
    c = _tset(build_triples(pages_subset, authorities, emit_mode="columns"))
    assert a == c, _diff_msg(a, c)


@pytest.mark.parametrize("emit_mode", ["arrow", "columns"])
def test_empty_authorities_clean_genres_across_pages(spark, emit_mode):
    """`authorities={}` runs the DataFrame-level A2 rule: two pages
    sharing one DFK, a thesis (DT 61) and a CM code whose genre is
    ScholarlyWork, leave the work without a ScholarlyWork genreForm edge,
    a cross-record case the Arrow emitter's in-record rule can't see."""
    from psyndex2linkeddata_spark import namespaces as NS
    from psyndex2linkeddata_spark.datagen.pages import pages_rows_from_records

    rows = pages_rows_from_records(
        [
            {"DFK": "0999999", "TI": "Eine Dissertation", "DT": "61"},
            {"DFK": "0999999", "TI": "A theoretical study", "CM": ["|c 12100"]},
        ]
    )
    pages = spark.createDataFrame(
        [(f"{r['url']}/{i}", r["text"]) for i, r in enumerate(rows)],
        "url string, text string",
    )
    got = _tset(build_triples(pages, {}, emit_mode=emit_mode))
    work, gf = NS.WORKS + "0999999_work", NS.BF + "genreForm"
    sw = NS.GENRES + "ScholarlyWork"
    assert (sw, NS.RDF_TYPE, NS.BF + "GenreForm", True, None, None) in got
    assert (work, gf, NS.GENRES + "ThesisDoctoral", True, None, None) in got
    assert (work, gf, sw, True, None, None) not in got


def test_crlf_pages_match_lf_pages_both_paths(spark, pages_subset):
    """CRLF payloads (the Common-Crawl-reality line ending) must emit the
    SAME triples as their LF twins on BOTH emit paths: values ending in
    \\r would sit exactly where Spark's trim (0x20 only) and the
    reference's str.strip() disagree, so the parsers normalize \\r\\n
    before splitting. Without that normalization the column path leaks
    \\r into every scalar value (F.trim keeps it) and the two paths
    diverge from each other AND from the reference."""
    lf_arrow = _tset(build_triples(pages_subset, emit_mode="arrow"))
    for ending in ("\r\n", "\r"):  # CRLF and CR-only (old-Mac) conventions
        alt = pages_subset.withColumn(
            "text", F.replace(F.col("text"), F.lit("\n"), F.lit(ending))
        )
        alt_arrow = _tset(build_triples(alt, emit_mode="arrow"))
        assert alt_arrow == lf_arrow, ending + ": " + _diff_msg(alt_arrow, lf_arrow)
        alt_columns = _tset(build_triples(alt, emit_mode="columns"))
        assert alt_columns == lf_arrow, (
            ending + ": " + _diff_msg(alt_columns, lf_arrow)
        )
