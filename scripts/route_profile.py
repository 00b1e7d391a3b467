#!/usr/bin/env python
"""Stage breakdown of route_ngram_minhash_tier (VERDICT r15 task 2).

The r15 sweep measured the route tier's g3.0->g10.0 growth exponent at
alpha 1.59 without saying WHICH stage grows: this script times the
pipeline's successive cuts in one session so the difference between
adjacent cuts attributes the wall clock to a stage. Cuts (each a
noop-format write so every column materializes, min of --runs
post-cold runs, clear_caches between runs):

  sets      persist + count of the non-empty char-3-gram item sets
  dfreq     + the per-(lang, gram) document-frequency aggregate
  prefix    + the per-doc ROUTE_PREFIX_K rarity prefix -> shingles
  cands     + MinHash banding + band self-join candidate pairs
  full      + the exact full-set array_intersect verify (the real
              registered query end-to-end)

``--prefix-variant`` times the rarity-prefix stage both ways so the
r16 fix is A/B-measured in place:

  window    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df, it)
            <= K — the r15 form: exchanges every exploded gram row by
            doc_id and sorts them all (the suspected alpha 1.59 term)
  minK      slice(array_sort(collect_list(struct(df, it))), 1, K) —
            the r16 form: hash aggregate, map-side combine packs each
            doc into one array row, no global sort (selection provably
            identical: items are distinct per doc, so (df, it) is a
            total order)

Upstream stages are re-evaluated inside each cut (only ``sets`` is
persisted, exactly as the operator itself does), so a cut's time is an
upper bound on its prefix of the pipeline and the adjacent difference
slightly OVERSTATES late stages — fine for finding the dominant term.

Usage::

    python scripts/route_profile.py --dirs testdata_scale/g3.0,\
testdata_scale/g10.0 --prefix-variant both --runs 3 --out ROUTE_PROFILE.json
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from cstore_fdw_spark.operators import (  # noqa: E402
    clear_caches, load_all, table, track_cache)
from cstore_fdw_spark.operators.dedup import (  # noqa: E402
    _CHAR_GRAM_ARR, ROUTE_PREFIX_K, minhash_band_kernel,
    routed_jaccard_pairs)
from cstore_fdw_spark.session import conf_override, get_spark  # noqa: E402


def gram_sets(spark, d: str) -> DataFrame:
    doc = table(spark, d, "documents").filter(F.col("text") != "")
    from cstore_fdw_spark.operators import spread
    g = spread(doc).select("doc_id", "lang",
                           F.expr(_CHAR_GRAM_ARR).alias("items"))
    return g.filter(F.size("items") > 0)


def prefix_shingled(ex: DataFrame, dfreq: DataFrame,
                    variant: str) -> DataFrame:
    if variant == "window":
        wdoc = Window.partitionBy("doc_id").orderBy("df", "it")
        return (ex.join(dfreq, ["lang", "it"])
                .withColumn("rn", F.row_number().over(wdoc))
                .filter(F.col("rn") <= ROUTE_PREFIX_K)
                .groupBy("doc_id")
                .agg(F.collect_list("it").alias("shingles")))
    return (ex.join(dfreq, ["lang", "it"])
            .groupBy("doc_id")
            .agg(F.expr(
                f"transform(slice(array_sort(collect_list("
                f"struct(df, it))), 1, {ROUTE_PREFIX_K}),"
                f" x -> x.it)").alias("shingles")))


def timed(spark, runs: int, fn) -> float:
    best = None
    for _ in range(runs):
        clear_caches(spark)
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
        print(f"#   run {dt:.2f}s", file=sys.stderr, flush=True)
    return round(best, 3)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--dirs", default=",".join(
        os.path.join(repo, "testdata_scale", g) for g in ("g3.0", "g10.0")))
    ap.add_argument("--prefix-variant", default="both",
                    choices=["window", "minK", "both"])
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--skip-full", action="store_true",
                    help="skip the end-to-end cut (measured separately "
                         "by scale_bench.py)")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="route-profile")
    spark.sparkContext.setLogLevel("ERROR")
    route_confs = load_all()["route_ngram_minhash_tier"].confs
    variants = (["window", "minK"] if args.prefix_variant == "both"
                else [args.prefix_variant])

    out: dict[str, dict] = {}
    for d in args.dirs.split(","):
        label = os.path.basename(d.rstrip("/"))
        out[label] = {}
        print(f"# === {label}", file=sys.stderr, flush=True)

        def build():
            sets = track_cache(gram_sets(spark, d).persist())
            sets.count()
            ex = sets.select("doc_id", "lang",
                             F.explode("items").alias("it"))
            dfreq = ex.groupBy("lang", "it").agg(
                F.count(F.lit(1)).alias("df"))
            return sets, ex, dfreq

        def cut_sets():
            build()

        def cut_dfreq():
            _, _, dfreq = build()
            noop(dfreq)

        def cut_prefix(v):
            _, ex, dfreq = build()
            noop(prefix_shingled(ex, dfreq, v))

        def cut_cands(v):
            _, ex, dfreq = build()
            with conf_override(spark, route_confs):
                _, _, pairs = minhash_band_kernel(
                    prefix_shingled(ex, dfreq, v))
                noop(pairs.select("doc_a", "doc_b"))

        def full():
            with conf_override(spark, route_confs):
                noop(routed_jaccard_pairs(gram_sets(spark, d), 0.8))

        print("# stage: sets", file=sys.stderr, flush=True)
        out[label]["sets"] = timed(spark, args.runs, cut_sets)
        print("# stage: dfreq", file=sys.stderr, flush=True)
        out[label]["dfreq"] = timed(spark, args.runs, cut_dfreq)
        for v in variants:
            print(f"# stage: prefix[{v}]", file=sys.stderr, flush=True)
            out[label][f"prefix_{v}"] = timed(
                spark, args.runs, lambda v=v: cut_prefix(v))
            print(f"# stage: cands[{v}]", file=sys.stderr, flush=True)
            out[label][f"cands_{v}"] = timed(
                spark, args.runs, lambda v=v: cut_cands(v))
        if not args.skip_full:
            print("# stage: full (registered path, r16 code)",
                  file=sys.stderr, flush=True)
            out[label]["full"] = timed(spark, args.runs, full)
        print(json.dumps({label: out[label]}), flush=True)

    payload = {"_meta": {
        "purpose": "route_ngram_minhash_tier stage breakdown "
                   "(VERDICT r15 task 2): adjacent-cut differences "
                   "attribute the alpha-1.59 growth; prefix_window is "
                   "the r15 ROW_NUMBER form, prefix_minK the r16 "
                   "aggregate form (identical selection)",
        "runs_per_point": args.runs,
        "discipline": "min of runs, clear_caches between, noop write; "
                      "upstream stages re-evaluated inside each cut "
                      "(only sets persisted, as in the operator)"},
        "stages_sec": out}
    print(json.dumps(payload, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
