"""Compare the Arrow (Python) emitter against the Column emitter.

Usage: PYTHONPATH=/root/repo python tools/check_arrow_parity.py [n_pages]
Prints per-record triple diffs (first few) and a summary.
"""
from __future__ import annotations

import os
import sys
import tempfile
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 300


def main():
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.emit.arrow import parse_page_text, record_triples
    from psyndex2linkeddata_spark.emit.normalize import normalize
    from psyndex2linkeddata_spark.extract.parser import extract_records
    from psyndex2linkeddata_spark.plans.pipeline import emit_triples
    from psyndex2linkeddata_spark.session import get_spark

    spark = get_spark(master="local[8]")
    d = tempfile.mkdtemp(prefix="parity_")
    path = os.path.join(d, "pages.parquet")
    write_pages_parquet(path, N)
    pages = spark.read.parquet(path)

    col_triples = (
        emit_triples(normalize(extract_records(pages)))
        .dropDuplicates()
        .collect()
    )
    col_set = {tuple(r) for r in col_triples}
    # the Arrow emitter applies the A2 thesis-vs-Scholarly rule
    # in-record; the Column path leaves it to enrich_triples/clean_genres —
    # apply rule 1 here so raw emits compare equal
    GF = "http://id.loc.gov/ontologies/bibframe/genreForm"
    G = "https://w3id.org/zpid/vocabs/genres/"
    thesis_works = {
        t[0]
        for t in col_set
        if t[1] == GF
        and t[2]
        in {
            G + g
            for g in (
                "ThesisDoctoral",
                "CompilationThesisDoctoral",
                "ThesisHabilitation",
                "CompilationThesisHabilitation",
            )
        }
    }
    col_set = {
        t
        for t in col_set
        if not (
            t[1] == GF
            and t[0] in thesis_works
            and t[2] in (G + "ScholarlyPaper", G + "ScholarlyWork")
        )
    }

    texts = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
    py_set = set()
    for url, text in texts.items():
        rec = parse_page_text(text)
        if rec.get("DFK") is None:
            continue
        py_set.update(record_triples(rec))

    only_col = col_set - py_set
    only_py = py_set - col_set
    print(f"column: {len(col_set)}  python: {len(py_set)}")
    print(f"only-column: {len(only_col)}  only-python: {len(only_py)}")

    def by_pred(s):
        d = defaultdict(int)
        for t in s:
            d[t[1]] += 1
        return dict(sorted(d.items(), key=lambda kv: -kv[1]))

    if only_col:
        print("\n== only in COLUMN (by pred) ==")
        for k, v in list(by_pred(only_col).items())[:15]:
            print(f"  {v:6d}  {k}")
        for t in sorted(only_col)[:10]:
            print("  C:", t)
    if only_py:
        print("\n== only in PYTHON (by pred) ==")
        for k, v in list(by_pred(only_py).items())[:15]:
            print(f"  {v:6d}  {k}")
        for t in sorted(only_py)[:10]:
            print("  P:", t)
    sys.exit(0 if not only_col and not only_py else 1)


if __name__ == "__main__":
    main()
