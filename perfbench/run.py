"""KG-construction benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload convert_plain --seed 1 \
        --seconds 10 --trace 0

Run from the root of a source checkout. Workloads: convert_plain and
convert_linked (see README.md beside this file). `--trace 0` runs the
job and its validation queries and reports the end-to-end metrics;
`--trace 1` runs the job traced, layer by layer, and reports the
per-layer metrics and the tracing overhead instead. The last line of
standard output is the JSON result; what the program itself prints goes
to standard error. Scratch files live under `.perfbench_work/` in the
checkout and are removed at exit; the spans of a traced run stay there
as `spans-<workload>-<seed>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = (
    os.path.join("psyndex2linkeddata_spark", "jobs", "convert.py"),
    os.path.join("tests", "golden_oracle.py"),
)
DRIVER_MEMORY = "3g"

LAYERS = (
    "session", "extract", "emit", "finalize", "pipeline", "enrich",
    "components", "checkpoint", "warehouse", "export", "sparql", "query",
)


def end_to_end(w, job_s: float, setup_s: float, rss_mb: float) -> dict:
    from perfbench.workloads import percentile

    triples = w.distinct_triples
    m = {
        "job_s": (job_s, "s"),
        "triples_per_s": (triples / job_s, "triples/s"),
        "lookup_p50_s": (statistics.median(w.lat["lookup"]), "s"),
        "analytic_p50_s": (statistics.median(w.lat["analytic"]), "s"),
        "analytic_p90_s": (percentile(w.lat["analytic"], 90), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
        "rows_per_triple": (w.rows_total / w.rows_distinct, "ratio"),
        "bytes_per_triple": (w.bytes_total / triples, "B"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def per_layer(w, session_s: float) -> dict:
    tot = w.tracer.layer_totals()

    def st(layer, key):
        return tot.get(layer, {}).get("stages", {}).get(key, 0.0)

    def cnt(layer, key):
        return tot.get(layer, {}).get("counts", {}).get(key, 0.0)

    def wall(layer):
        return tot.get(layer, {}).get("wall_s", 0.0)

    n_queries = tot.get("query", {}).get("spans", 0) or 1
    rows = cnt("query", "rows")
    m = {
        "session.start_s": (session_s, "s"),
        "pipeline.construct_s": (wall("pipeline"), "s"),
        "extract.task_s": (st("extract", "task_s"), "s"),
        "emit.task_s": (st("emit", "task_s"), "s"),
        "emit.triples_raw": (cnt("emit", "triples_raw"), "count"),
        "finalize.dedup_ratio": (cnt("finalize", "dedup_ratio"), "ratio"),
        "finalize.shuffle_bytes": (st("finalize", "shuffle_write_bytes"), "B"),
        "finalize.spill_bytes": (st("finalize", "spill_bytes"), "B"),
        "checkpoint.task_s": (st("checkpoint", "task_s"), "s"),
        "checkpoint.spark_jobs": (st("checkpoint", "spark_jobs"), "count"),
        "checkpoint.input_scans": (st("checkpoint", "input_stages"), "count"),
        "enrich.task_s": (st("enrich", "task_s"), "s"),
        "enrich.links_added": (cnt("enrich", "links_added"), "count"),
        "components.rounds": (cnt("components", "lazy_checkpoints"), "count"),
        "components.task_s": (st("components", "task_s"), "s"),
        "export.write_s": (wall("export"), "s"),
        "warehouse.write_s": (wall("warehouse"), "s"),
        "warehouse.files": (w.layer_extra.get("warehouse.files", 0), "count"),
        "sparql.compile_s": (wall("sparql") / n_queries, "s"),
        "query.exec_s": (wall("query") / n_queries, "s"),
        "query.files_read": (cnt("query", "files_read") / n_queries,
                             "count"),
        "query.rows_scanned_per_row": (
            st("query", "input_records") / rows if rows else 0.0, "ratio"),
        "job.self_s": (tot.get("job", {}).get("self_s", 0.0), "s"),
        "output.dup_triple_rows": (w.rows_total - w.rows_distinct, "count"),
        "trace.job_s": (w.layer_extra.get("trace.job_s", 0.0), "s"),
        "trace.overhead_s": (w.layer_extra.get("trace.overhead_s", 0.0), "s"),
        "trace.readback_s": (w.layer_extra.get("trace.readback_s", 0.0), "s"),
    }
    for layer in LAYERS:
        t = tot.get(layer, {})
        m[f"{layer}.gc_s"] = (st(layer, "gc_s"), "s")
        m[f"{layer}.idle_core_s"] = (t.get("idle_core_s", 0.0), "s")
        m[f"{layer}.failed_tasks"] = (st(layer, "failed_tasks"), "count")
    m["session.idle_core_s"] = (session_s * w.cores, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run(args) -> dict:
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    # set before pyspark starts the JVM: thread count, heap, scratch dirs
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap and young generation: with G1's adaptive
        # sizing the driver's peak RSS varied by a third between runs
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -Xmn1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    from perfbench.workloads import Workload, percentile, vm_hwm_kb

    w = Workload(args.workload, args.seed, work, cores)
    try:
        w.make_inputs()
        session_s = w.start_session(conf)
        if args.trace:
            w.traced()
            metrics = per_layer(w, session_s)
            w.tracer.dump(os.path.join(ROOT, ".perfbench_work",
                                       f"spans-{args.workload}-{args.seed}.json"))
        else:
            t0 = time.perf_counter()
            wall = w.job()
            if wall is None:
                raise RuntimeError("the conversion job raised; no metrics")
            t1 = time.perf_counter()
            w.query_loop(args.seconds)
            jvm_kb = vm_hwm_kb(w.spark._jvm.java.lang.ProcessHandle.current().pid())
            # JVM: whole run; Python: up to the end of the job, before the
            # benchmark's own oracle sets and output readers
            rss_mb = (w.py_rss_kb + jvm_kb) / 1024
            print(f"perfbench: session {session_s:.1f}s, job {wall:.1f}s, checks "
                  f"{t1 - t0 - wall:.1f}s, queries {time.perf_counter() - t1:.1f}s; "
                  f"peak rss jvm {jvm_kb / 1024:.0f} MB, python "
                  f"{w.py_rss_kb / 1024:.0f} MB", file=sys.stderr)
            metrics = end_to_end(w, wall, session_s, rss_mb)
    finally:
        _stop(w)
        shutil.rmtree(work, ignore_errors=True)
    for k, v in metrics.items():
        print(f"{args.workload} {k} = {v['value']:.6g} {v['unit']}")
    if w.lat["lookup"]:
        # too few lookups per run for a p90 with ten samples beyond it:
        # printed for reading, not reported as a metric
        print(f"{args.workload} lookup p90 = "
              f"{percentile(w.lat['lookup'], 90):.6g} s (not a metric)")
    print(f"{args.workload} failed_share = {w.failed}/{w.attempted}; "
          f"dup_triple_rows = {w.rows_total - w.rows_distinct}; "
          f"samples: lookup {len(w.lat['lookup'])}, "
          f"analytic {len(w.lat['analytic'])}")
    return {
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": metrics,
    }


def _stop(w) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    if w.spark is None:
        return
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    w.spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    from perfbench.workloads import SPECS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    # import the checkout's packages, not this directory's modules by bare name
    sys.path[0] = ROOT
    sys.exit(main())
