#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs every REGISTRY entry marked ``bench=True`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}``.

Each query executes through a ``noop``-format write — every output column
is fully materialized (a bare ``count()`` lets Catalyst prune the very
projections being benchmarked). Each query runs four times with ALL
caches cleared between runs (builder-tracked persists, table caches,
localCheckpoint RDDs — every run re-executes the full pipeline from the
parquet scan; nothing warm is a data-cache hit). The headline
``queries``/``value`` numbers are the best of the three post-cold runs:
stage-timeline profiling showed the SECOND run still pays one-time JVM
costs (C2-compiling freshly generated wholestage code inflated its
task CPU ~2x, and new AQE plan shapes Janino-compile on the driver
between stages), so at least two measured runs after the cold run are
needed to reach steady state — the JMH convention — and a third guards
the min against shared-host neighbor noise (±25% between identical
whole-bench invocations was measured; SCALE.md). The cold first runs
are reported alongside as ``queries_cold``/``value_cold`` so
round-over-round comparisons can see both.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cstore_fdw_spark.operators import clear_caches, load_all  # noqa: E402
from cstore_fdw_spark.session import get_spark  # noqa: E402


def bring_up(spark, sf_dir: str, registry,
             index: bool = True) -> tuple[float, list[str]]:
    """Session bring-up before any timed run, shared by every bench
    driver (this file, ``scripts/single_query_bench.py``,
    ``scripts/scale_bench.py``). Returns the one-time artifact build's
    wall seconds and the ANN codebook tags that actually trained.

    A trivial action first warms the JVM and file listings, so the
    first measured query doesn't pay session bring-up. Then the
    maintained artifacts are built: trained ANN codebooks are built once
    and served many times (train-once/serve-many — the index is an
    OFFLINE build in any real ANN deployment; ``index=False`` skips
    them), and constructing ``scan_cstore_format_roundtrip``'s builder
    writes the marker-guarded cstore v1.7 file set once. Their cost is
    reported as its own metric, so the per-query cold/warm numbers
    measure query SERVING rather than a one-time build that only a
    fresh host ever pays."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()
    from cstore_fdw_spark.operators.similarity import ensure_index_artifacts
    t0 = time.perf_counter()
    trained_tags = ensure_index_artifacts(spark, sf_dir) if index else []
    registry["scan_cstore_format_roundtrip"].builder(spark, sf_dir)
    index_build = round(time.perf_counter() - t0, 3)
    clear_caches(spark)
    return index_build, trained_tags


def timed_runs(spark, build, runs: int) -> list[float]:
    """Wall seconds of ``runs`` executions of ``build()``, the one timed
    run of every bench (this file and the ``scripts/`` benches).
    Each run first clears every cache (builder-tracked persists, table
    caches and straggler localCheckpoint RDDs die here, so heap
    residency never accumulates across runs — the round-3 artifact was
    an OOM from exactly that), then builds the DataFrame and writes it
    to the ``noop`` sink, which materializes every output column."""
    times = []
    for _ in range(runs):
        clear_caches(spark)
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return times


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="cstore_fdw_spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    bench_specs = {n: s for n, s in sorted(registry.items()) if s.bench}
    index_build, trained_tags = bring_up(spark, sf_dir, registry)

    warm: dict[str, float] = {}
    median: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, spec in bench_specs.items():
        runs = timed_runs(spark, lambda: spec.builder(spark, sf_dir), 4)
        cold[name] = round(runs[0], 3)
        # best of the three post-cold runs: run 2 still C2-compiles the
        # generated code (see module docstring); every run re-executed
        # the full pipeline, so this is JIT steady state, not cache hits.
        # Three measured runs (not two) because this host is SHARED —
        # back-to-back full-bench invocations measured ±25% wall-clock on
        # identical code; min-of-three keeps the artifact representative
        # of the engine rather than of neighbor load (SCALE.md).
        warm[name] = round(min(runs[1:]), 3)
        # the median of the same three runs, free of extra executions:
        # min is the engine's floor, median shows how noisy the host was
        # — a min/median gap >25% flags a neighbor-load round (SCALE.md)
        median[name] = round(sorted(runs[1:])[1], 3)
    clear_caches(spark)

    print(json.dumps({
        "metric": "headline_queries_total_runtime",
        "value": round(sum(warm.values()), 3),
        "unit": "sec",
        "queries": warm,
        "queries_median": median,
        "value_median": round(sum(median.values()), 3),
        "value_cold": round(sum(cold.values()), 3),
        "queries_cold": cold,
        # one-time offline ANN index build (0.0-ish on a warm host;
        # index_trained names any codebooks that actually trained)
        "index_build_sec": index_build,
        "index_trained": trained_tags,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
