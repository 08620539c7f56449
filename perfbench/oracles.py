"""Independent checks of the program's outputs.

- triple sets: `tests/golden_oracle.golden_triples` (row-at-a-time
  Python emitter) over the same seeded records and authority rows;
- `--canonicalize`: a plain-Python union-find over the same owl:sameAs
  edges, each component mapped to its minimum member;
- SPARQL: DuckDB running `plans.sparql_sql.to_sql(query)` over the same
  triple rows the Spark side queried.

Nothing here runs inside a timed region.
"""

from __future__ import annotations

import os
import re
from collections import Counter

COLS = ["subj", "pred", "obj", "obj_is_iri", "lang", "dtype"]
OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


_TEST_REL = re.compile(r"#TestRelationship(\d+)")


def golden(records: list[dict], authority_rows: dict | None) -> set[tuple]:
    """`golden_triples`, with one known deviation of that oracle undone:
    it numbers TESTG relationship nodes from 0, while the reference (and
    the program) number them `index + 1` (research_info.py:1524)."""
    from tests.golden_oracle import golden_triples

    def renumber(x):
        return _TEST_REL.sub(lambda m: f"#TestRelationship{int(m.group(1)) + 1}", x)

    return {
        (renumber(s), p, renumber(o) if iri else o, iri, lang, dt)
        for s, p, o, iri, lang, dt in golden_triples(records, authority_rows)
    }


def canonicalize(triples: set[tuple]) -> set[tuple]:
    """Union-find over the owl:sameAs edges; every IRI in a component is
    replaced by the component's minimum member (subjects always, objects
    only where the object is an IRI)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != root:
            parent[x], x = root, parent[x]
        return root

    for s, p, o, *_ in triples:
        if p == OWL_SAMEAS and s is not None and o is not None:
            a, b = find(s), find(o)
            if a != b:
                lo, hi = min(a, b), max(a, b)
                parent[hi] = lo
    for x in list(parent):
        find(x)

    def canon(x: str) -> str:
        return parent[x] if x in parent else x

    return {
        (canon(s), p, canon(o) if iri else o, iri, lang, dt)
        for s, p, o, iri, lang, dt in triples
    }


def rows_of(df) -> list[tuple]:
    """All rows of a triples DataFrame as 6-tuples (duplicates kept)."""
    pdf = df.select(*COLS).toPandas()
    out = []
    for s, p, o, iri, lang, dt in pdf.itertuples(index=False, name=None):
        out.append((s, p, o, bool(iri), _none(lang), _none(dt)))
    return out


def _none(v):
    return None if v is None or v != v else v  # NaN -> None


_NT_LINE = re.compile(r"^<([^>]*)> <([^>]*)> (.*) \.$")
_NT_LIT = re.compile(r'^"((?:[^"\\]|\\.)*)"(?:@(\S+)|\^\^<([^>]*)>)?$')
_NT_ESC = {"\\\\": "\\", '\\"': '"', "\\n": "\n", "\\r": "\r", "\\t": "\t"}


def parse_nt_dir(path: str) -> list[tuple]:
    """Every triple line of the N-Triples part files under `path`."""
    out = []
    for name in sorted(os.listdir(path)):
        if not name.startswith("part-"):
            continue
        with open(os.path.join(path, name), encoding="utf-8") as f:
            for line in f:
                line = line.rstrip("\n")
                if line:
                    out.append(parse_nt_line(line))
    return out


def parse_nt_line(line: str) -> tuple:
    m = _NT_LINE.match(line)
    if not m:
        raise ValueError(f"not an N-Triples line: {line[:120]!r}")
    s, p, o = m.groups()
    if o.startswith("<") and o.endswith(">"):
        return (s, p, o[1:-1], True, None, None)
    lm = _NT_LIT.match(o)
    if not lm:
        raise ValueError(f"bad N-Triples object: {o[:120]!r}")
    text = re.sub(r'\\[\\"nrt]', lambda e: _NT_ESC[e.group()], lm.group(1))
    return (s, p, text, False, lm.group(2), lm.group(3))


def diff_report(name: str, got: set, want: set, limit: int = 8) -> str:
    extra, missing = sorted(got - want, key=repr), sorted(want - got, key=repr)
    lines = [f"{name}: {len(extra)} unexpected, {len(missing)} missing"]
    lines += [f"  + {t}" for t in extra[:limit]]
    lines += [f"  - {t}" for t in missing[:limit]]
    return "\n".join(lines)


class SparqlOracle:
    """DuckDB over one set of triple rows; results cached per query."""

    def __init__(self, rows):
        import duckdb
        import pandas as pd

        self.con = duckdb.connect()
        pdf = pd.DataFrame(list(rows), columns=COLS)
        self.con.register("_rows", pdf)
        self.con.sql("create table triples as select * from _rows")
        self.con.unregister("_rows")
        self._cache: dict[str, tuple[list[str], list[tuple]]] = {}

    def solutions(self, query: str, columns: list[str]) -> Counter:
        from psyndex2linkeddata_spark.plans.sparql_sql import to_sql

        if query not in self._cache:
            res = self.con.sql(to_sql(query))
            self._cache[query] = ([d[0] for d in res.description], res.fetchall())
        ocols, rows = self._cache[query]
        idx = [ocols.index(c) for c in columns]
        return Counter(tuple(r[i] for i in idx) for r in rows)

    def close(self) -> None:
        self.con.close()
