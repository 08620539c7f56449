"""Stage-by-stage wall-time profile of the pages→triples pipeline.

Usage: PYTHONPATH=/root/repo python tools/profile_pipeline.py [n_pages] [cpus]
Prints wall seconds per incremental stage so regressions can be located.
"""
from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 32


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from psyndex2linkeddata_spark.datagen.pages import write_pages_parquet
    from psyndex2linkeddata_spark.extract.parser import extract_records
    from psyndex2linkeddata_spark.emit.normalize import normalize
    from psyndex2linkeddata_spark.plans.enrich import enrich_triples
    from psyndex2linkeddata_spark.plans.pipeline import (
        build_triples,
        emit_triples,
        finalize,
    )
    from psyndex2linkeddata_spark.session import get_spark

    spark = get_spark(
        app_name="profile",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(512 * 1024),
            "spark.sql.files.openCostInBytes": str(64 * 1024),
        },
    )
    d = tempfile.mkdtemp(prefix="prof_pages_")
    path = os.path.join(d, "pages.parquet")
    t0 = time.time()
    write_pages_parquet(path, N)
    print(f"datagen: {time.time()-t0:.1f}s", flush=True)
    pages = spark.read.parquet(path).repartition(CPUS * 3)

    # warm-up (construction + codegen)
    t0 = time.time()
    noop(build_triples(pages.limit(32)))
    print(f"warmup(32): {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    recs = extract_records(pages)
    noop(recs)
    print(f"extract: {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    norm = normalize(recs)
    noop(norm)
    print(f"extract+normalize: {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    raw = emit_triples(norm)
    noop(raw)
    print(f"extract+normalize+emit: {time.time()-t0:.1f}s", flush=True)

    t0 = time.time()
    tr = enrich_triples(
        finalize(emit_triples(normalize(extract_records(pages))), barrier=True), {}
    )
    noop(tr)
    n = tr.count()
    print(f"full pipeline: {time.time()-t0:.1f}s  ({n} triples)", flush=True)
    spark.catalog.clearCache()

    # repeat full to see warm steady-state
    t0 = time.time()
    tr = build_triples(pages)
    noop(tr)
    print(f"full pipeline rep2: {time.time()-t0:.1f}s", flush=True)
    spark.catalog.clearCache()


if __name__ == "__main__":
    main()
