#!/usr/bin/env python
"""Separate PageRank's one-time terms from its per-iteration cost
(VERDICT r14 task 5).

The g10.0 profile attributed ~55 s of the 66 s query to one-time work
(edge derivation + edge-cache materialization) and ~12 s to the three
iterations. A real deployment amortizes the one-time terms over a
convergence-length run, so the slope that matters at 100 TB is the
PER-ITERATION one. Measure it directly: time
``pagerank_fixed_point(iters=3)`` and ``iters=10`` at each scale with
bench.py's discipline (noop write, clear_caches between runs, min of
post-cold runs), then

    per_iter = (t10 - t3) / 7
    amortized alpha = log(per_iter2 / per_iter1) / log(rows2 / rows1)

Usage::

    python scripts/pagerank_amortize.py --dirs testdata_scale/g3.0,\
testdata_scale/g10.0 --out SCALE_r15_pagerank.json
"""
from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import timed_runs  # noqa: E402
from cstore_fdw_spark.operators import load_all, table_rows  # noqa: E402
from cstore_fdw_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--dirs", default=",".join(
        os.path.join(repo, "testdata_scale", g) for g in ("g3.0", "g10.0")))
    ap.add_argument("--iters", default="3,10")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    dirs = args.dirs.split(",")
    iters = [int(i) for i in args.iters.split(",")]

    spark = get_spark(app_name="pagerank-amortize")
    spark.sparkContext.setLogLevel("ERROR")
    load_all()
    from cstore_fdw_spark.operators.analytics import pagerank_fixed_point

    rows = {os.path.basename(d.rstrip("/")): table_rows(d, "lineitem")
            for d in dirs}
    times: dict[str, dict[str, float]] = {}
    for d in dirs:
        label = os.path.basename(d.rstrip("/"))
        times[label] = {}
        spark.read.parquet(f"{d}/lineitem.parquet").limit(1).count()
        for k in iters:
            runs = timed_runs(
                spark, lambda: pagerank_fixed_point(spark, d, k), args.runs)
            best = round(min(runs[1:]) if len(runs) > 1 else runs[0], 3)
            times[label][f"iters{k}"] = best
            print(f"# pagerank iters={k} @ {label}: warm {best}s "
                  f"(cold {runs[0]:.2f}s)", file=sys.stderr)

    labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    k_lo, k_hi = min(iters), max(iters)
    per_iter = {}
    one_time = {}
    for lb in labels:
        t_lo, t_hi = times[lb][f"iters{k_lo}"], times[lb][f"iters{k_hi}"]
        per_iter[lb] = round((t_hi - t_lo) / (k_hi - k_lo), 3)
        one_time[lb] = round(t_lo - k_lo * per_iter[lb], 3)
    slopes = {}
    for a, b in zip(labels, labels[1:]):
        ratio = rows[b] / rows[a]
        # per_iter is a DIFFERENCE of two noisy minima: under host
        # noise it can come out <= 0, and a log-slope computed off a
        # tiny clamp would be silent nonsense (one_time_sec_est would
        # exceed the measured total). Emit null + a warning instead.
        if per_iter[a] <= 0 or per_iter[b] <= 0:
            print(f"# WARNING: non-positive per-iteration estimate "
                  f"({a}: {per_iter[a]}s, {b}: {per_iter[b]}s) — "
                  f"noise exceeded the iteration term; per_iteration "
                  f"slope recorded as null", file=sys.stderr)
            per_iter_slope = None
        else:
            per_iter_slope = round(math.log(
                per_iter[b] / per_iter[a]) / math.log(ratio), 3)
        slopes[f"{a}->{b}"] = {
            "total_iters3": round(math.log(
                times[b][f"iters{k_lo}"] / times[a][f"iters{k_lo}"])
                / math.log(ratio), 3),
            "per_iteration": per_iter_slope,
        }
    payload = {"rows_lineitem": rows, "times": times,
               "per_iteration_sec": per_iter,
               "one_time_sec_est": one_time, "slopes": slopes,
               "runs_per_point": args.runs, "iters": iters}
    print(json.dumps(payload, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
