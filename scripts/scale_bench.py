#!/usr/bin/env python
"""Scale-slope bench: run the heaviest bench queries at several data
scales IN ONE SESSION and fit the time-vs-rows growth exponent.

This answers "would the plan survive 100x?" empirically (VERDICT r11
task 1): for each query, time it at each ``testdata_scale/g*`` dir with
bench.py's exact discipline (noop-format write so every output column
materializes, clear_caches between runs, min of three post-cold runs —
the only valid A/B is min-of-N within one session, SCALE.md), then
report per-adjacent-scale exponents

    alpha = log(t2/t1) / log(rows2/rows1)

where ``rows`` is the query's dominant input table's row count. An
engine whose plan is shuffle-bounded shows alpha <= ~1 (often < 1 while
fixed per-query overhead still amortizes); alpha >> 1 flags a plan (or
a data-density artifact — see SCALE_MEASURED.md) that would not survive
a 100x scale-up.

Usage:
  python scripts/scale_bench.py [--dirs testdata_scale/g0.1 ...]
      [--queries q1,q2,...] [--budget-sec 120]

``--budget-sec``: a query whose previous-scale best exceeds the budget
is skipped at larger scales (recorded as null) so one super-linear
query cannot eat the whole session.
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bring_up, timed_runs  # noqa: E402
from cstore_fdw_spark.operators import load_all, table_rows  # noqa: E402
from cstore_fdw_spark.session import get_spark  # noqa: E402

# the 8 heaviest bench queries (BENCH_r11 ranking) + their dominant table
HEAVY = {
    "dedup_ngram_jaccard": "documents",
    "dedup_connected_components": "documents",
    "pagerank_bipartite_3iter": "lineitem",
    "dedup_minhash_lsh": "documents",
    "vector_ivf_pq_topk": "embeddings",
    "dedup_simhash": "documents",
    "ann_lsh_bucketed": "embeddings",
    "training_mix_pipeline": "documents",
    # relational core (VERDICT r12 task 2): the host-executor surface the
    # reference's users actually query — measured, not argued
    "q1_pricing_summary": "lineitem",
    "q3_shipping_priority": "lineitem",
    "q9_product_type_profit": "lineitem",
    "q18_large_volume_customer": "lineitem",
    "q21_suppliers_kept_waiting": "lineitem",
    "events_sessionize": "events",
    "scan_cstore_format_roundtrip": "lineitem",
    # r13 additions to the bench set
    "vector_hamming_topk": "embeddings",
    "sketch_hyperloglog_distinct": "lineitem",
    # r15 additions: the saturation route tier and the quantile sketch
    "route_ngram_minhash_tier": "documents",
    "sketch_quantile_histogram": "lineitem",
}

#: the r12-measured set (kept re-runnable standalone via --queries)
LLM_HEAVY = [
    "dedup_ngram_jaccard", "dedup_connected_components",
    "pagerank_bipartite_3iter", "dedup_minhash_lsh", "vector_ivf_pq_topk",
    "dedup_simhash", "ann_lsh_bucketed", "training_mix_pipeline"]
RELATIONAL_CORE = [
    "q1_pricing_summary", "q3_shipping_priority", "q9_product_type_profit",
    "q18_large_volume_customer", "q21_suppliers_kept_waiting",
    "events_sessionize", "scan_cstore_format_roundtrip"]


def main() -> None:
    ap = argparse.ArgumentParser()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--dirs", default=",".join(
        os.path.join(repo, "testdata_scale", g)
        for g in ("g0.1", "g0.3", "g1.0", "g3.0")))
    ap.add_argument("--queries", default=",".join(HEAVY))
    ap.add_argument("--budget-sec", type=float, default=120.0)
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--skip-index-build", action="store_true",
                    help="skip ensure_index_artifacts (valid when no "
                         "timed query serves an ANN index)")
    args = ap.parse_args()
    dirs = args.dirs.split(",")
    names = args.queries.split(",")

    spark = get_spark(app_name="cstore_fdw_spark-scale-bench")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    rows: dict[str, dict[str, int]] = {}
    times: dict[str, dict[str, float | None]] = {n: {} for n in names}
    index_build: dict[str, float] = {}
    for d in dirs:
        label = os.path.basename(d.rstrip("/"))
        rows[label] = {t: table_rows(d, t) for t in
                       sorted({HEAVY.get(n, "lineitem") for n in names})}
        # offline builds, reported apart
        index_build[label], _ = bring_up(
            spark, d, registry, index=not args.skip_index_build)
        for n in names:
            prev = [v for v in times[n].values() if v is not None]
            if prev and prev[-1] > args.budget_sec:
                times[n][label] = None  # over budget at the prior scale
                print(f"# skip {n} @ {label} (prev {prev[-1]:.1f}s "
                      f"> budget)", file=sys.stderr)
                continue
            runs = timed_runs(
                spark, lambda: registry[n].builder(spark, d), args.runs)
            best = round(min(runs[1:]), 3)
            times[n][label] = best
            print(f"# {n} @ {label}: warm {best}s "
                  f"(cold {runs[0]:.2f}s)", file=sys.stderr)

    labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    slopes: dict[str, dict[str, float | None]] = {}
    for n in names:
        slopes[n] = {}
        for a, b in zip(labels, labels[1:]):
            ta, tb = times[n].get(a), times[n].get(b)
            dom = HEAVY.get(n, "lineitem")
            if ta and tb:
                ratio = rows[b][dom] / rows[a][dom]
                slopes[n][f"{a}->{b}"] = round(
                    math.log(tb / ta) / math.log(ratio), 3)
            else:
                slopes[n][f"{a}->{b}"] = None

    print(json.dumps({"rows": rows, "times": times, "slopes": slopes,
                      "index_build_sec": index_build,
                      "runs_per_point": args.runs}))


if __name__ == "__main__":
    main()
