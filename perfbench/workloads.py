"""The workloads: one conversion job, then its validation queries.

A run is what a user of the batch job sees: a fresh Spark session, one
`jobs.convert.main` call on a seeded corpus (cold, as spark-submit runs
it), then a closed loop of validation rounds (one client, each query
sent after the previous one finished) over the catalog table the job
wrote, until the queries' own time reaches `--seconds`. A round is a
few lookups of single works plus the analytic validation queries.

- convert_plain: no authorities, `--table`; the production hot path
  (Arrow emit, dedup, checkpointed bucket writes, bucketed table).
- convert_linked: the three authority tables `load_authorities` reads,
  `--canonicalize --nt`; driver plan building, enrich joins, connected
  components and the N-Triples export dominate.

Outputs are checked after the job and after every query, outside the
timed regions.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass

from perfbench import oracles, queries
from perfbench.tracing import Tracer

TABLE = "kg"


@dataclass(frozen=True)
class Spec:
    pages: int      # seeded records in the corpus
    buckets: int    # --buckets of the job
    linked: bool    # authorities + --canonicalize + --nt


# Sized so that a run (one cold JVM, one cold job, its checks and the
# query loop) stays near a minute at 4 cores, and the driver JVM (3g
# heap) plus Python stays well under the RAM of a 15 GB box.
SPECS = {
    "convert_plain": Spec(pages=300, buckets=2, linked=False),
    "convert_linked": Spec(pages=30, buckets=1, linked=True),
}
LOOKUPS_PER_ROUND = 4


def percentile(xs: list[float], q: int) -> float:
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def vm_hwm_kb(pid: int | str) -> int:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, f))
    return total


def _data_files(path: str) -> int:
    return sum(1 for _, _, files in os.walk(path) for f in files if f.startswith("part-"))


class Workload:
    def __init__(self, name: str, seed: int, work: str, cores: int):
        self.name = name
        self.spec = SPECS[name]
        self.seed = seed
        self.work = work
        self.cores = cores
        self.rng = random.Random(f"{seed}:{name}")
        self.lat: dict[str, list[float]] = {"lookup": [], "analytic": []}
        self.attempted = 0
        self.failed = 0
        self.rows_total = 0
        self.rows_distinct = 0
        self.bytes_total = 0
        self.distinct_triples = 0
        self.layer_extra: dict[str, float] = {}
        self.py_rss_kb: int | None = None
        self.spark = None
        self.tracer = None

    # -- inputs (seeded, made before the clock starts) ----------------------

    def make_inputs(self) -> None:
        from psyndex2linkeddata_spark.datagen import authorities as A
        from psyndex2linkeddata_spark.datagen.pages import (
            make_records,
            write_pages_parquet,
        )

        sp = self.spec
        self.records = make_records(sp.pages, self.seed)
        self.dfks = [r["DFK"] for r in self.records if r.get("DFK")]
        self.auth_rows = None
        self.pages_path = os.path.join(self.work, "pages.parquet")
        write_pages_parquet(self.pages_path, sp.pages, self.seed)
        self.auth_path = os.path.join(self.work, "auth")
        if sp.linked:
            self.auth_rows = {
                "auth_orgs": A.auth_orgs_rows(self.seed),
                "auth_concepts": A.auth_concepts_rows(self.seed),
                "bad_ids": A.bad_ids_rows(sp.pages, self.seed),
            }
            A.write_authority_parquets(self.auth_path, sp.pages, self.seed)
        self.expected = None

    def _oracle_sets(self) -> None:
        """The golden sets, made on first use: after the job, so that
        neither the job's time nor its memory peak includes them."""
        if self.expected is None:
            self.expected = oracles.golden(self.records, self.auth_rows)
            self.expected_final = (
                oracles.canonicalize(self.expected) if self.spec.linked
                else self.expected
            )

    def start_session(self, conf: dict) -> float:
        from psyndex2linkeddata_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.cores}]",
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark, self.cores, enabled=False)
        return start_s

    # -- the job ----------------------------------------------------------------

    def job(self) -> float | None:
        """One `jobs.convert.main` call; returns its wall time, or None if
        it raised. Its durable outputs are then compared with the oracles
        and tallied."""
        from psyndex2linkeddata_spark.jobs import convert

        d = os.path.join(self.work, "job")
        args = [
            "--pages", self.pages_path,
            "--out", os.path.join(d, "out"),
            "--ckpt", os.path.join(d, "ckpt"),
            "--buckets", str(self.spec.buckets),
            "--table", TABLE,
        ]
        if self.spec.linked:
            args += [
                "--authorities", self.auth_path,
                "--canonicalize",
                "--nt", os.path.join(d, "nt"),
            ]
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span("job"), contextlib.redirect_stdout(sys.stderr):
                convert.main(args)
        except Exception:
            self.failed += 1
            print(f"[{self.name}] job raised:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        wall = time.perf_counter() - t0
        if self.py_rss_kb is None:
            self.py_rss_kb = vm_hwm_kb("self")
        if not self._check_job(d):
            self.failed += 1
        shutil.rmtree(d, ignore_errors=True)
        return wall

    def _compare(self, name: str, rows: list[tuple], want: set) -> bool:
        got = set(rows)
        self.rows_total += len(rows)
        self.rows_distinct += len(got)
        if got != want:
            print(f"[{self.name}] " + oracles.diff_report(name, got, want), file=sys.stderr)
            return False
        return True

    def _table_dir(self) -> str:
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return os.path.join(wh, TABLE)

    def _check_job(self, d: str) -> bool:
        """Every durable output against the oracles; tallies rows,
        distinct rows and on-disk bytes over all of them."""
        self._oracle_sets()
        out = os.path.join(d, "out")
        self.table_rows = oracles.rows_of(self.spark.table(TABLE))
        trip = oracles.rows_of(self.spark.read.parquet(os.path.join(out, "triples")))
        ok = self._compare("triples/", trip, self.expected)
        if self.spec.linked:
            canon = oracles.rows_of(
                self.spark.read.parquet(os.path.join(out, "triples_canonical"))
            )
            ok &= self._compare("triples_canonical/ vs union-find", canon,
                                self.expected_final)
            nt = oracles.parse_nt_dir(os.path.join(d, "nt"))
            ok &= self._compare("N-Triples export", nt, self.expected_final)
            self.bytes_total += _du(os.path.join(d, "nt"))
        ok &= self._compare("table", self.table_rows, self.expected_final)
        self.bytes_total += _du(out) + _du(self._table_dir())
        self.distinct_triples = len(self.expected_final)
        return ok

    # -- the validation queries -----------------------------------------------

    def query_loop(self, seconds: float) -> None:
        """One warm-up round (JIT, codegen cache; checked, not sampled),
        then rounds over the job's table until the queries' own time
        reaches `seconds`."""
        oracle = oracles.SparqlOracle(self.table_rows)
        try:
            self.query_round(oracle, record=False)
            busy = 0.0
            while busy < seconds:
                busy += self.query_round(oracle)
        finally:
            oracle.close()

    def query_round(self, oracle, record: bool = True) -> float:
        """One round of lookups and analytic queries, each result checked
        against DuckDB; returns the round's query time. Rounds always run
        whole, so that every query shape is sampled equally often."""
        from psyndex2linkeddata_spark.plans.sparql import sparql

        kg = self.spark.table(TABLE)
        mix = [("lookup", q)
               for q in queries.lookups(self.dfks, LOOKUPS_PER_ROUND, self.rng)]
        mix += [("analytic", q) for q in queries.ANALYTIC]
        busy = 0.0
        for cls, q in mix:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span("sparql"):
                    df = sparql(kg, q)
                with self.tracer.span("query") as sp:
                    rows = df.collect()
                    if sp is not None:
                        sp["counts"]["rows"] = len(rows)
            except Exception:
                busy += time.perf_counter() - t0
                self.failed += 1
                print(f"[{self.name}] query raised:\n{q}\n{traceback.format_exc()}",
                      file=sys.stderr)
                continue
            dt = time.perf_counter() - t0
            busy += dt
            if record:
                self.lat[cls].append(dt)
            got = Counter(tuple(r) for r in rows)
            want = oracle.solutions(q, df.columns)
            if got != want:
                self.failed += 1
                print(f"[{self.name}] SPARQL result differs from DuckDB:\n{q}\n"
                      f"  spark-only {list((got - want).items())[:5]}\n"
                      f"  duckdb-only {list((want - got).items())[:5]}",
                      file=sys.stderr)
        return busy

    # -- the traced run ---------------------------------------------------------

    def traced(self) -> None:
        """The job with every layer's public call under its own job group,
        one traced validation round, then forced probes of the layers the
        job fuses into one Spark stage (emit, finalize, extract, enrich)."""
        t = self.tracer
        t.enabled = True
        with self._layer_wrappers():
            wall = self.job()
        if wall is None:
            raise RuntimeError("the conversion job raised; no metrics")
        oracle = oracles.SparqlOracle(self.table_rows)
        try:
            self.query_round(oracle, record=False)
        finally:
            oracle.close()
        self._probes()
        self.layer_extra["warehouse.files"] = _data_files(self._table_dir())
        self.layer_extra["trace.job_s"] = wall
        self.layer_extra["trace.overhead_s"] = t.overhead_s
        t0 = time.perf_counter()
        t.finish()
        self.layer_extra["trace.readback_s"] = time.perf_counter() - t0
        t.enabled = False

    @contextlib.contextmanager
    def _layer_wrappers(self):
        from psyndex2linkeddata_spark.operators import components
        from psyndex2linkeddata_spark.plans import pipeline
        from psyndex2linkeddata_spark.sources import checkpoint, export, warehouse

        t = self.tracer
        undo = [
            t.wrap(pipeline, "build_triples", "pipeline"),
            t.wrap(checkpoint, "run_checkpointed", "checkpoint"),
            t.wrap(checkpoint, "run_manifest", "checkpoint"),
            t.wrap(components, "connected_components", "components"),
            t.wrap(export, "write_nt", "export"),
            t.wrap(warehouse, "write_triples_table", "warehouse"),
        ]
        # components' hash-to-min loop takes one lazy local checkpoint per
        # round: count them on the span that is open
        df_class = type(self.spark.range(1))
        orig_lc = df_class.localCheckpoint

        def counted_lc(df, eager=True, *a, **kw):
            if not eager:
                t.count("lazy_checkpoints")
            return orig_lc(df, eager, *a, **kw)

        df_class.localCheckpoint = counted_lc
        try:
            yield
        finally:
            df_class.localCheckpoint = orig_lc
            for u in undo:
                u()

    def _probes(self) -> None:
        from pyspark import StorageLevel

        from psyndex2linkeddata_spark.emit.arrow import emit_triples_arrow
        from psyndex2linkeddata_spark.extract.parser import extract_records
        from psyndex2linkeddata_spark.jobs.convert import load_authorities
        from psyndex2linkeddata_spark.plans.enrich import enrich_triples
        from psyndex2linkeddata_spark.plans.pipeline import build_triples

        t = self.tracer
        pages = self.spark.read.parquet(self.pages_path)
        if self.spec.linked:
            with t.span("extract"):
                extract_records(pages).write.format("noop").mode("overwrite").save()
        with t.span("emit") as sp:
            raw = emit_triples_arrow(pages).count()
            sp["counts"]["triples_raw"] = raw
        with t.span("finalize") as sp:
            # linked: the barrier path (persist + DataFrame-level genre rule)
            base = build_triples(pages, {} if self.spec.linked else None)
            if self.spec.linked:
                base = base.persist(StorageLevel.MEMORY_AND_DISK)
            n_base = base.count()
            sp["counts"]["dedup_ratio"] = n_base / raw if raw else 0.0
        if self.spec.linked:
            auth = load_authorities(self.spark, self.auth_path)
            with t.span("enrich") as sp:
                sp["counts"]["links_added"] = enrich_triples(base, auth).count() - n_base
            base.unpersist()
