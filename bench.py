"""Benchmark harness: runs the headline query set at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "cpus": N}

``value`` is the total wall-clock of the headline set (lower is
better); ``cpus`` is the session's default parallelism. Each query is
forced with a count-style action (collect on small results) so the
full plan executes but driver transfer stays out of the measurement
as much as possible.

Usage:  python bench.py [--all] [names...]
        --all  benches every registered query, not just bench=True
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--all", action="store_true", help="bench every registered query")
    ap.add_argument("--repeat", type=int, default=3, help="best-of-N per query")
    ap.add_argument(
        "--no-clear",
        action="store_true",
        help="round-1 protocol: skip clearCache between queries (for A/B "
        "attribution of protocol changes; the default clearCache number is "
        "the honest one — see BENCH_NOTES.md)",
    )
    ap.add_argument(
        "--warm-repeats",
        action="store_true",
        help="rounds-1..3 protocol: let best-of-N repeats reuse the first "
        "repeat's reuse()-pinned caches (CacheManager matches the cached "
        "subtree by plan, so repeats 2..N skipped the signature pipelines). "
        "The default releases pins at each query entry, making every "
        "repeat a full cold run — the honest per-query cost. Keep this "
        "flag for A/B attribution only.",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from kafka_cdc_elasticsearch_pipeline_spark.queries import QUERIES
    from kafka_cdc_elasticsearch_pipeline_spark.session import get_spark

    if args.names:
        names = args.names
    elif args.all:
        names = list(QUERIES)
    else:
        names = [n for n, s in QUERIES.items() if s.bench]

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once so the timings measure the
    # query plans, not first-touch JIT/IO noise.
    for name in names:
        QUERIES[name].spark(spark, args.sf).limit(1).collect()

    # Warm the PYTHON worker fleet once: the mapInPandas queries pay
    # worker spawn + numpy import per worker when the pool is cold
    # (r06 A/B: png_decode best-of-3 swung 0.72-1.18s in one session
    # purely on pool state; steady state is 0.73-0.80s). A fleet of
    # long-lived executors has warm workers — that is the cost the
    # bench should record.
    cores = spark.sparkContext.defaultParallelism

    def _warm_workers(iterator):
        import numpy  # noqa: F401
        import pandas as pd  # noqa: F401

        yield from iterator

    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        _warm_workers, schema="id long"
    ).count()

    from kafka_cdc_elasticsearch_pipeline_spark.operators.caching import (
        release_pinned,
    )

    per_query: dict[str, float] = {}
    for name in names:
        spec_fn = QUERIES[name].spark
        if args.warm_repeats:
            # bypass the registry wrapper's release-at-entry so pins
            # survive across repeats (old protocol)
            spec_fn = getattr(spec_fn, "__wrapped__", spec_fn)
        best = None
        for _ in range(max(1, args.repeat)):
            t0 = time.time()
            df = spec_fn(spark, args.sf)
            # Force FULL evaluation (count() would let Catalyst prune
            # projection columns): hash every column, aggregate to one
            # long, ship 8 bytes to the driver.
            from pyspark.sql import functions as F

            df.select(
                F.xxhash64(*[F.col(c) for c in df.columns]).alias("h")
            ).agg(F.expr("bit_xor(h)")).collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        per_query[name] = round(best, 3)
        # Queries that persist() intermediates (dedup/similarity
        # families) would otherwise accumulate cached partitions across
        # the sweep — by the 12th query the executor heap is mostly
        # stale cache and GC, not the query under test (measured 8x on
        # simhash in-sweep vs isolated). Each query still benefits from
        # its own persists during its own timing.
        if not args.no_clear:
            release_pinned()
            spark.catalog.clearCache()

    total = round(sum(per_query.values()), 3)
    sf = args.sf.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_query_set_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
                "cpus": cores,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
