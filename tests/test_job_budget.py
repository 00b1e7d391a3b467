"""Spark-job budgets per registered query: how many jobs its builder
runs eagerly and how many its action runs. The bounds are the counts
measured on the Tier-1 fixture, with every table's schema already
declared (``operators.table`` infers it once per file) and the trained
ANN index artifacts built, when the budget was set, so a new eager
barrier or an extra pass over the data fails here instead of going
unnoticed."""

from __future__ import annotations

import pytest

from cstore_fdw_spark.catalog import CStoreCatalog
from cstore_fdw_spark.datasets import TABLES
from cstore_fdw_spark.operators import clear_caches, load_all, table
from cstore_fdw_spark.operators.similarity import ensure_index_artifacts
from cstore_fdw_spark.streaming.runner import fixture_stream

REGISTRY = load_all()

#: query -> (builder jobs, action jobs), upper bounds
JOB_BUDGET = {
    # the registry_queries benchmark workload: table reads launch no
    # job, and the corpus count that sizes the LSH bits of
    # dedup_connected_components and ann_lsh_bucketed is read from the
    # parquet footer
    "q1_pricing_summary": (0, 4),
    "q3_shipping_priority": (0, 4),
    "q5_local_supplier_volume": (0, 7),
    "q6_forecast_revenue": (0, 2),
    "q18_large_volume_customer": (0, 6),
    "subquery_scalar_uncorrelated": (0, 4),
    "dedup_connected_components": (0, 7),
    "ann_lsh_bucketed": (0, 4),
    # IVF nlist is sized from the same footer count, and the trained
    # index artifacts are read with the schema their part files record
    "ann_ivf_coarse": (0, 6),
    "vector_ivf_pq_topk": (0, 6),
    "vector_quantize_pq": (0, 3),
    "vector_pq_adc_topk": (0, 7),
    "dedup_minhash_lsh": (5, 10),
    "route_ngram_minhash_tier": (10, 4),
}


#: storage format -> Spark jobs of one catalog insert into a small
#: table that already holds a batch: the stage's one write job (for
#: cstore, the Arrow map whose results name the files it wrote)
INSERT_BUDGET = {"parquet": 1, "cstore": 1}

#: storage format -> Spark jobs of one COPY FROM of a 3-row CSV into a
#: table with a timestamp column: the insert's write job, with the
#: malformed-datetime check inside its plan
COPY_FROM_BUDGET = {"parquet": 1, "cstore": 1}


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
    for name in TABLES:  # declare every schema: a budget counts no inference
        table(spark, sf_dir, name)
    # and no one-time index training (bench.py builds the artifacts at
    # bring-up too); a no-op where they exist
    ensure_index_artifacts(spark, sf_dir)
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


@pytest.mark.parametrize("name", ["events", "lineitem"])
def test_fixture_stream_declares_the_table_schema(spark, sf_dir, name):
    """A fixture stream takes the schema ``operators.table`` declared:
    after one batch read of the table, opening its stream runs no job."""
    table(spark, sf_dir, name)
    assert _jobs(spark, f"fixture-stream-{name}",
                 lambda: fixture_stream(spark, sf_dir, name)) == 0


@pytest.mark.parametrize("fmt", sorted(INSERT_BUDGET))
def test_insert_stays_within_job_budget(spark, tmp_path, fmt):
    """An insert runs its stage's write job and nothing else: the
    commit reads footers and file listings only."""
    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "a long, b string", storage_format=fmt,
                     stripe_row_count=1000, block_row_count=1000)
    batch = spark.range(3000, numPartitions=2).selectExpr(
        "id as a", "cast(id as string) as b")
    cat.insert("t", batch)
    n = _jobs(spark, f"budget-insert-{fmt}", lambda: cat.insert("t", batch))
    assert cat.row_count("t") == 6000
    assert n <= INSERT_BUDGET[fmt], (
        f"{fmt} insert: {n} jobs, budget {INSERT_BUDGET[fmt]}")


@pytest.mark.parametrize("fmt", sorted(COPY_FROM_BUDGET))
def test_copy_from_stays_within_job_budget(spark, tmp_path, fmt):
    """COPY FROM into a table with a timestamp column runs the load and
    nothing else: no eager probe validates the datetimes first."""
    from cstore_fdw_spark.io import copy_from_csv
    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "a long, ts timestamp, d date", storage_format=fmt)
    src = tmp_path / "in.csv"
    src.write_text("1,2024-01-01 00:00:00,2024-01-01\n"
                   "2,infinity,-infinity\n"
                   "3,,2024-01-03\n")
    n = _jobs(spark, f"budget-copy-from-{fmt}",
              lambda: copy_from_csv(cat, "t", str(src)))
    assert cat.row_count("t") == 3
    assert n <= COPY_FROM_BUDGET[fmt], (
        f"{fmt} COPY FROM: {n} jobs, budget {COPY_FROM_BUDGET[fmt]}")


#: (operation, storage format) -> Spark jobs of one catalog operation on
#: a table of three 3000-row inserts (six files). Full rewrites (compact,
#: vacuum, ALTER layout) size their files from the footers: one scan-
#: and-write. A full-path DELETE (every file touched; on cstore always,
#: since its reader reports no input file) adds its per-file match
#: count. A file-pruned DELETE scans the touched file once more
#: instead, and MERGE prunes by zone map, then runs its source range,
#: its one join and its write. TRUNCATE reads footers and listings
#: only.
CATALOG_OP_BUDGET = {
    ("alter_table_layout", "cstore"): 2,
    ("alter_table_layout", "parquet"): 2,
    ("compact", "cstore"): 2,
    ("compact", "parquet"): 2,
    ("delete_where", "cstore"): 4,
    ("delete_where", "parquet"): 4,
    ("delete_where_pruned", "parquet"): 3,
    ("merge_into", "cstore"): 7,
    ("merge_into", "parquet"): 7,
    ("truncate", "cstore"): 0,
    ("truncate", "parquet"): 0,
    ("vacuum", "cstore"): 2,
    ("vacuum", "parquet"): 2,
}

#: operation -> (call, rows left)
CATALOG_OPS = {
    "compact": (lambda cat, spark: cat.compact("t"), 9000),
    "vacuum": (lambda cat, spark: cat.vacuum("t", keep_epochs=1), 9000),
    "alter_table_layout": (lambda cat, spark: cat.alter_table_layout(
        "t", block_row_count=2000), 9000),
    # every file holds a multiple of 7: the full path
    "delete_where": (lambda cat, spark: cat.delete_where("t", "a % 7 = 0"),
                     9000 - 1286),
    "delete_where_pruned": (lambda cat, spark: cat.delete_where(
        "t", "a < 10"), 8990),
    # 10 matched, 10 inserted; zone maps prune the files below 8990
    "merge_into": (lambda cat, spark: cat.merge_into(
        "t", spark.range(8990, 9010).selectExpr(
            "id as a", "'m' as b"), on="a"), 9010),
    "truncate": (lambda cat, spark: cat.truncate("t"), 0),
}


@pytest.mark.parametrize("op,fmt", sorted(CATALOG_OP_BUDGET))
def test_catalog_op_stays_within_job_budget(spark, tmp_path, op, fmt):
    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "a long, b string", storage_format=fmt,
                     stripe_row_count=1000, block_row_count=1000)
    for i in range(3):
        cat.insert("t", spark.range(i * 3000, (i + 1) * 3000,
                                    numPartitions=2)
                   .selectExpr("id as a", "cast(id as string) as b"))
    call, rows = CATALOG_OPS[op]
    n = _jobs(spark, f"budget-{op}-{fmt}", lambda: call(cat, spark))
    assert cat.row_count("t") == rows
    assert n <= CATALOG_OP_BUDGET[op, fmt], (
        f"{fmt} {op}: {n} jobs, budget {CATALOG_OP_BUDGET[op, fmt]}")
