#!/usr/bin/env python
"""Time ONE registered query with the bench's exact methodology
(bench.py's bring-up, noop sink, clear_caches between runs, N runs,
run 1 = cold) and print a JSON line — the per-query A/B arm used by
interleaved optimization measurements.

Usage::

    python scripts/single_query_bench.py QUERY [--runs 4]
        [--sf-dir /root/testdata/sf0.1]
"""
from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("query")
    ap.add_argument("--runs", type=int, default=4)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from bench import bring_up, timed_runs
    from cstore_fdw_spark.operators import load_all
    from cstore_fdw_spark.session import get_spark

    spark = get_spark(app_name=f"sqb-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    spec = registry[args.query]
    bring_up(spark, args.sf_dir, registry)
    runs = [round(t, 3) for t in timed_runs(
        spark, lambda: spec.builder(spark, args.sf_dir), args.runs)]
    print(json.dumps({
        "query": args.query, "runs": runs, "cold": runs[0],
        "warm_min": min(runs[1:]) if len(runs) > 1 else None,
        "repo": REPO}))


if __name__ == "__main__":
    main()
