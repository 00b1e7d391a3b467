#!/usr/bin/env python
"""Count the route tier's candidate pairs per scale (r16 attribution).

The ROUTE_PROFILE_r16.json stage breakdown localizes the tier's
superlinear g3->g10 growth in the exact-verify join (everything
through banding is ~208 s of the r15 475 s at g10.0, and both rarity-
prefix forms cost the same); this script pins WHAT the verify stage's
work tracks by counting its input — the banded candidate-pair set —
and the surviving output pairs at each scale. If time-per-candidate
is flat across the decade, the slope is candidate density (an
output/corpus property: genuine near-dup collisions on the
bounded-vocabulary corpus), not a plan defect.

Usage::

    python scripts/route_candidates.py --dirs testdata_scale/g3.0,\
testdata_scale/g10.0 --out ROUTE_CANDS_r16.json
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cstore_fdw_spark.operators import (  # noqa: E402
    clear_caches, load_all, spread, table, track_cache)
from cstore_fdw_spark.operators.dedup import (  # noqa: E402
    _CHAR_GRAM_ARR, NGRAM_JACCARD_TAU, ROUTE_PREFIX_K,
    minhash_band_candidates, routed_jaccard_pairs)
from cstore_fdw_spark.session import conf_override, get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--dirs", default=",".join(
        os.path.join(repo, "testdata_scale", g) for g in ("g3.0", "g10.0")))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="route-candidates")
    spark.sparkContext.setLogLevel("ERROR")
    route_confs = load_all()["route_ngram_minhash_tier"].confs

    out: dict[str, dict] = {}
    for d in args.dirs.split(","):
        label = os.path.basename(d.rstrip("/"))
        clear_caches(spark)
        doc = table(spark, d, "documents").filter(F.col("text") != "")
        g = spread(doc).select("doc_id", "lang",
                               F.expr(_CHAR_GRAM_ARR).alias("items"))
        sets = track_cache(g.filter(F.size("items") > 0).persist())
        n_docs = sets.count()
        ex = sets.select("doc_id", "lang", F.explode("items").alias("it"))
        dfreq = ex.groupBy("lang", "it").agg(F.count(F.lit(1)).alias("df"))
        shingled = (ex.join(dfreq, ["lang", "it"])
                    .groupBy("doc_id")
                    .agg(F.expr(
                        f"transform(slice(array_sort(collect_list("
                        f"struct(df, it))), 1, {ROUTE_PREFIX_K}),"
                        f" x -> x.it)").alias("shingles")))
        with conf_override(spark, route_confs):
            t0 = time.perf_counter()
            n_cands = minhash_band_candidates(shingled).count()
            t_cands = time.perf_counter() - t0
            t0 = time.perf_counter()
            n_out = routed_jaccard_pairs(g, NGRAM_JACCARD_TAU).count()
            t_full = time.perf_counter() - t0
        out[label] = {
            "docs": n_docs,
            "candidate_pairs": n_cands,
            "verified_pairs_ge_tau": n_out,
            "sec_through_cands": round(t_cands, 3),
            "sec_full_fresh": round(t_full, 3)}
        print(json.dumps({label: out[label]}), flush=True)

    payload = {"_meta": {
        "purpose": "route tier alpha attribution (r16): verify-join "
                   "input (banded candidate pairs) and surviving "
                   "output per scale; flat time-per-candidate pins "
                   "the g3->g10 slope to candidate density, not the "
                   "plan",
        "note": "sec_through_cands / sec_full_fresh are single runs "
                "on a shared sets cache (counts are the artifact; "
                "timing slopes come from scale_bench min-of-N)"},
        "counts": out}
    print(json.dumps(payload, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(payload, f, indent=1)


if __name__ == "__main__":
    main()
