"""Spark-job budgets per registered query: how many jobs its builder
runs eagerly and how many its action runs. The bounds are the counts
measured on the Tier-1 fixture when the budget was set, so a new eager
barrier or an extra pass over the data fails here instead of going
unnoticed."""

from __future__ import annotations

import pytest

from cstore_fdw_spark.operators import clear_caches, load_all

REGISTRY = load_all()

#: query -> (builder jobs, action jobs), upper bounds
JOB_BUDGET = {
    "dedup_minhash_lsh": (6, 10),
    "route_ngram_minhash_tier": (11, 4),
}


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("query", sorted(JOB_BUDGET))
def test_query_stays_within_job_budget(spark, sf_dir, query):
    clear_caches(spark)
    built = []
    n_build = _jobs(spark, f"budget-build-{query}",
                    lambda: built.append(
                        REGISTRY[query].builder(spark, sf_dir)))
    n_action = _jobs(spark, f"budget-action-{query}",
                     lambda: built[0].write.format("noop")
                     .mode("overwrite").save())
    clear_caches(spark)
    max_build, max_action = JOB_BUDGET[query]
    assert n_build <= max_build and n_action <= max_action, (
        f"{query}: {n_build} builder / {n_action} action jobs, budget "
        f"{max_build} / {max_action}")
