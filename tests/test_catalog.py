"""Lifecycle + storage-parity tests, modeled on the reference's regression
suites: create, functions (table_size), truncate, drop, alter, insert
(SURVEY §5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cstore_fdw_spark.catalog import CStoreError, validate_options


def test_option_validation():
    # parity: reference cstore_fdw.c:1523-1571
    assert validate_options({})["compression"] == "pglz"
    assert validate_options({"compression": "zstd"})["compression"] == "zstd"
    with pytest.raises(CStoreError):
        validate_options({"compression": "lz77"})
    with pytest.raises(CStoreError):
        validate_options({"stripe_row_count": 100})
    with pytest.raises(CStoreError):
        validate_options({"block_row_count": 100})
    with pytest.raises(CStoreError):
        validate_options({"bad_option": 1})


def test_create_insert_read_roundtrip(spark, catalog):
    catalog.create_table("t", "a int, b string")
    df = spark.createDataFrame([(1, "x"), (2, "y"), (3, None)], "a int, b string")
    catalog.insert("t", df)
    out = catalog.read("t").orderBy("a").collect()
    assert [(r.a, r.b) for r in out] == [(1, "x"), (2, "y"), (3, None)]


def test_create_duplicate_and_drop(spark, catalog):
    catalog.create_table("t", "a int")
    with pytest.raises(CStoreError):
        catalog.create_table("t", "a int")
    assert catalog.exists("t")
    catalog.drop_table("t")
    assert not catalog.exists("t")
    assert not os.path.exists(catalog.table_path("t"))
    with pytest.raises(CStoreError):
        catalog.drop_table("t")


def test_empty_table_queryable(spark, catalog):
    # reference: CREATE FOREIGN TABLE leaves an empty-but-valid file
    catalog.create_table("empty", "a int, b string")
    assert catalog.read("empty").count() == 0
    assert catalog.row_count("empty") == 0


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_empty_scan_and_metadata_are_local_relations(spark, catalog, fmt):
    """A table with no visible file reads as a local relation with the
    table's schema and no partitions, so reading it runs no Python task
    (a frame over an empty Python list ran one per default partition);
    the metadata frame is a local relation too."""
    catalog.create_table("ev", "a long, b string", storage_format=fmt)
    df = catalog.read("ev")
    assert df._jdf.rdd().getNumPartitions() == 0
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert df.count() == 0
    assert catalog.read("ev", columns=["b"]).columns == ["b"]
    meta = catalog.metadata_df()
    plan = meta._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert [tuple(r) for r in meta.collect()] == [
        ("ev", catalog.table_size("ev"), 0, 0, fmt, 0)]


def test_cstore_stage_commits_only_reported_files(spark, catalog,
                                                  monkeypatch):
    """A task attempt whose file no task result names (a failed or a
    speculative attempt) leaves that file in the stage; the stage
    deletes it, so the commit moves in only the reported files."""
    from cstore_fdw_spark import catalog as catalog_mod

    real = catalog_mod._cstore_stage_task

    def lost_attempt_first(schema, options):
        write_part = real(schema, options)

        def attempts(batches):
            batches = list(batches)
            for _ in write_part(iter(batches)):
                pass  # this attempt's report never reaches the driver
            yield from write_part(iter(batches))

        return attempts

    monkeypatch.setattr(catalog_mod, "_cstore_stage_task",
                        lost_attempt_first)
    catalog.create_table("lk", "a long", storage_format="cstore")
    catalog.insert("lk", spark.range(100).repartition(2)
                   .selectExpr("id as a"))
    assert sorted(r.a for r in catalog.read("lk").collect()) == \
        list(range(100))
    assert catalog.row_count("lk") == 100
    data = catalog._data_path(catalog._load_meta("lk"))
    assert sorted(f.rsplit(".", 1)[-1] for f in os.listdir(data)
                  if not f.startswith((".", "_"))) == \
        ["cstore", "cstore", "footer", "footer"]


def test_table_size_grows(spark, catalog):
    # parity: sql/functions.sql:15 — size(empty) < size(loaded)
    catalog.create_table("t", "a int, b string")
    empty_size = catalog.table_size("t")
    catalog.insert("t", spark.range(10_000).selectExpr(
        "cast(id as int) a", "concat('row-', id) b"))
    assert catalog.table_size("t") > empty_size
    with pytest.raises(CStoreError):
        catalog.table_size("nonexistent")


def test_row_count_metadata_only(spark, catalog):
    catalog.create_table("t", "a int")
    catalog.insert("t", spark.range(1234).selectExpr("cast(id as int) a"))
    catalog.insert("t", spark.range(766).selectExpr("cast(id as int) a"))
    assert catalog.row_count("t") == 2000


def test_metadata_view_sql_queryable(spark, catalog):
    """SQL twin of the reference's scalar metadata functions
    (cstore_table_size, sql/functions.sql): per-table size/rows/epoch
    through a plain SQL view, refreshed on demand."""
    catalog.create_table("ma", "a int")
    catalog.create_table("mb", "a int")
    catalog.insert("ma", spark.range(100).selectExpr("cast(id as int) a"))
    view = catalog.register_metadata_view()
    row = spark.sql(
        f"SELECT * FROM {view} WHERE table_name = 'ma'").collect()[0]
    assert row.row_count == 100
    assert row.size_bytes == catalog.table_size("ma")
    assert row.write_epoch == catalog.current_epoch("ma") == 1
    assert row.storage_format == "parquet"
    assert row.n_files >= 1
    empty = spark.sql(
        f"SELECT row_count FROM {view} WHERE table_name = 'mb'").collect()[0]
    assert empty.row_count == 0
    # stale until re-registered, fresh after — documented contract
    catalog.insert("ma", spark.range(50).selectExpr("cast(id as int) a"))
    stale = spark.sql(f"SELECT row_count FROM {view} "
                      "WHERE table_name = 'ma'").collect()[0]
    assert stale.row_count == 100
    catalog.register_metadata_view()
    fresh = spark.sql(f"SELECT row_count FROM {view} "
                      "WHERE table_name = 'ma'").collect()[0]
    assert fresh.row_count == 150


def test_truncate(spark, catalog):
    # parity: sql/truncate.sql — empties but keeps table queryable;
    # repeated names handled once
    catalog.create_table("t1", "a int")
    catalog.create_table("t2", "a int")
    catalog.insert("t1", spark.range(10).selectExpr("cast(id as int) a"))
    catalog.insert("t2", spark.range(10).selectExpr("cast(id as int) a"))
    size_loaded = catalog.table_size("t1")
    catalog.truncate("t1", "t2", "t1")
    assert catalog.read("t1").count() == 0
    assert catalog.read("t2").count() == 0
    assert catalog.table_size("t1") < size_loaded
    catalog.insert("t1", spark.range(5).selectExpr("cast(id as int) a"))
    assert catalog.read("t1").count() == 5


def test_append_is_stripe_like(spark, catalog):
    # each insert adds new files (new stripes), never rewrites old ones
    catalog.create_table("t", "a int")
    catalog.insert("t", spark.range(10).selectExpr("cast(id as int) a"))
    files1 = set(_parquet_files(catalog.table_path("t")))
    catalog.insert("t", spark.range(10).selectExpr("cast(id as int) a"))
    files2 = set(_parquet_files(catalog.table_path("t")))
    assert files1 < files2


def test_schema_evolution_add_drop_default(spark, catalog):
    # parity: sql/alter.sql + cstore_reader.c:1224-1292 (const default fill)
    catalog.create_table("t", "a int, b int, c int")
    catalog.insert("t", spark.createDataFrame(
        [(1, 2, 3), (4, 5, 6), (7, 8, 9)], "a int, b int, c int"))
    catalog.drop_column("t", "a")
    assert catalog.read("t").columns == ["b", "c"]
    catalog.add_column("t", "d", "int")                    # nulls for old rows
    catalog.add_column("t", "e", "int", default=3)         # const default
    catalog.add_column("t", "f", "string", default="TEXT ME")
    rows = catalog.read("t").orderBy("b").collect()
    assert [r.d for r in rows] == [None, None, None]
    assert [r.e for r in rows] == [3, 3, 3]
    assert [r.f for r in rows] == ["TEXT ME"] * 3
    # new inserts carry the column physically; old rows still defaulted
    catalog.insert("t", spark.createDataFrame(
        [(10, 11, 12, 13, "real")], "b int, c int, d int, e int, f string"))
    rows = catalog.read("t").orderBy("b").collect()
    assert [r.e for r in rows] == [3, 3, 3, 13]
    assert [r.f for r in rows] == ["TEXT ME"] * 3 + ["real"]


def test_alter_column_type_guard(spark, catalog):
    # parity: cstore_fdw.c:717-769 — implicit coercions only
    catalog.create_table("t", "a int, s string")
    catalog.insert("t", spark.createDataFrame([(1, "x")], "a int, s string"))
    catalog.alter_column_type("t", "a", "bigint")  # implicit — ok
    assert dict(catalog.read("t").dtypes)["a"] == "bigint"
    with pytest.raises(CStoreError):
        catalog.alter_column_type("t", "s", "int")  # not implicit — reject
    rows = catalog.read("t").collect()
    assert rows[0].a == 1
    # the v1.7 format refuses type changes, and says which DDL it refused
    catalog.create_table("tc", "a int", storage_format="cstore")
    with pytest.raises(CStoreError, match="ALTER COLUMN TYPE is not "
                                          "supported on storage_format"):
        catalog.alter_column_type("tc", "a", "bigint")


def test_analyze_stats(spark, catalog):
    catalog.create_table("t", "a int, b string")
    catalog.insert("t", spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "y")], "a int, b string"))
    stats = catalog.analyze("t")
    assert stats["rows"] == 3
    assert stats["a"]["nulls"] == 1
    assert stats["a"]["min"] == 1 and stats["a"]["max"] == 2


def _parquet_files(path):
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                yield os.path.join(root, f)


def test_partitioned_table(spark, catalog):
    # partition_by option → hive-layout directories, partition pruning on
    # read, partition column values restored
    catalog.create_table("pt", "a int, grp string", partition_by="grp")
    catalog.insert("pt", spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y")], "a int, grp string"))
    rows = sorted((r.a, r.grp) for r in catalog.read("pt").collect())
    assert rows == [(1, "x"), (2, "x"), (3, "y")]
    import os
    data = os.path.join(catalog.table_path("pt"), "data")
    assert any(d.startswith("grp=") for d in os.listdir(data))
    assert catalog.read("pt").filter("grp = 'y'").count() == 1


def test_sorted_table_option(spark, catalog):
    # sort_by clusters rows for zone-map efficiency (reference
    # README.md:287-294 recommends sorted loads)
    catalog.create_table("st", "a int", sort_by="a")
    catalog.insert("st", spark.range(1000).selectExpr("cast(id as int) a")
                   .orderBy(F.rand(seed=1)))
    from cstore_fdw_spark.plans import scan_metrics
    df = catalog.read("st").filter("a < 10")
    assert df.count() == 10
    # MERGE's full rewrite and RENAME COLUMN stage like every write, so
    # each rewritten file stays sorted on the (renamed) sort column
    import pyarrow.parquet as pq
    src = (spark.range(-50, 1050, 7).selectExpr("cast(id as int) a")
           .orderBy(F.rand(seed=2)))
    catalog.merge_into("st", src, on="a", when_matched=None)
    catalog.rename_column("st", "a", "b")
    assert catalog.read("st").count() == 1000 + 16
    meta = catalog._load_meta("st")
    assert meta.options["sort_by"] == "b"
    for path in catalog._visible_files(meta):
        vals = pq.read_table(path).column("b").to_pylist()
        assert vals == sorted(vals), path


def test_orc_storage_format(spark, catalog):
    # 'Spark SQL over columnar Parquet/ORC' — ORC-backed managed table
    # with full lifecycle + evolution parity
    catalog.create_table("orct", "a int, b string",
                         storage_format="orc", compression="zstd")
    catalog.insert("orct", spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, b string"))
    assert sorted((r.a, r.b) for r in catalog.read("orct").collect()) == \
        [(1, "x"), (2, "y")]
    assert catalog.row_count("orct") == 2
    assert catalog.table_size("orct") > 0
    catalog.add_column("orct", "c", "int", default=7)
    rows = catalog.read("orct").orderBy("a").collect()
    assert [r.c for r in rows] == [7, 7]
    catalog.truncate("orct")
    assert catalog.read("orct").count() == 0
    import pytest as _pytest
    from cstore_fdw_spark.catalog import CStoreError as _E
    with _pytest.raises(_E):
        catalog.create_table("badfmt", "a int", storage_format="avro")


def test_copy_from_program(spark, catalog):
    # COPY FROM PROGRAM parity (reference gates it behind superuser;
    # here a plain utility)
    from cstore_fdw_spark.io import copy_from_program
    from cstore_fdw_spark.catalog import CStoreError
    catalog.create_table("prog", "i int, s string")
    copy_from_program(catalog, "prog",
                      "python3 -c \"[print(f'{n},row{n}') for n in range(5)]\"")
    rows = sorted((r.i, r.s) for r in catalog.read("prog").collect())
    assert rows == [(n, f"row{n}") for n in range(5)]
    with pytest.raises(CStoreError, match="program failed"):
        copy_from_program(catalog, "prog", "false")


def test_compact_merges_small_files(spark, catalog):
    from cstore_fdw_spark.catalog import _data_files
    catalog.create_table("tc", "a int, b string", sort_by="a")
    for i in range(6):
        catalog.insert("tc", spark.createDataFrame(
            [(i * 10 + j, f"v{i}-{j}") for j in range(5)], "a int, b string"))
    data = os.path.join(catalog.table_path("tc"), "data")
    before_files = sum(1 for _ in _data_files(data, "parquet"))
    before_rows = sorted((r.a, r.b) for r in catalog.read("tc").collect())
    assert before_files >= 6  # one file (stripe) per insert batch
    nfiles = catalog.compact("tc")
    assert nfiles == 1
    assert sum(1 for _ in _data_files(data, "parquet")) == 1
    after_rows = sorted((r.a, r.b) for r in catalog.read("tc").collect())
    assert after_rows == before_rows
    assert catalog.row_count("tc") == 30
    # compacting an empty table is a no-op
    catalog.truncate("tc")
    assert catalog.compact("tc") == 0


def test_compact_preserves_default_backfill(spark, catalog):
    catalog.create_table("td", "a int")
    catalog.insert("td", spark.createDataFrame([(1,), (2,)], "a int"))
    catalog.add_column("td", "flag", "string", default="new")
    catalog.insert("td", spark.createDataFrame(
        [(3, "x")], "a int, flag string"))
    before = sorted((r.a, r.flag) for r in catalog.read("td").collect())
    catalog.compact("td")
    after = sorted((r.a, r.flag) for r in catalog.read("td").collect())
    assert after == before == [(1, "new"), (2, "new"), (3, "x")]


def test_pre_epoch_backfill_files_meta(spark, catalog):
    """A meta whose ``backfill_files`` key holds only emptied lists (what
    every compact of this format's pre-epoch versions left) loads as
    before; one whose lists still name files, from ADD COLUMN before the
    epoch watermark, raises naming the table instead of being misread."""
    import json
    catalog.create_table("tb", "a int")
    catalog.insert("tb", spark.createDataFrame([(1,)], "a int"))
    path = catalog._meta_path("tb")
    with open(path) as f:
        meta = json.load(f)
    for lists, ok in (({"c": []}, True), ({"c": ["e000000000001-x"]}, False)):
        with open(path, "w") as f:
            json.dump({**meta, "backfill_files": lists}, f)
        if ok:
            assert [r.a for r in catalog.read("tb").collect()] == [1]
        else:
            with pytest.raises(CStoreError, match='table "tb".*backfill'):
                catalog.read("tb")


def test_explicit_null_after_add_column_stays_null(spark, catalog):
    # PG semantics: the constant default backfills only rows that PRE-DATE
    # the column (reference cstore_reader.c:1224-1292); an explicit NULL
    # inserted afterwards must read back as NULL — and compact() must not
    # bake the default over it.
    catalog.create_table("tn", "a int")
    catalog.insert("tn", spark.createDataFrame([(1,), (2,)], "a int"))
    catalog.add_column("tn", "e", "int", default=7)
    catalog.insert("tn", spark.createDataFrame(
        [(3, None), (4, 9)], "a int, e int"))
    rows = {r.a: r.e for r in catalog.read("tn").collect()}
    assert rows == {1: 7, 2: 7, 3: None, 4: 9}
    catalog.compact("tn")
    rows = {r.a: r.e for r in catalog.read("tn").collect()}
    assert rows == {1: 7, 2: 7, 3: None, 4: 9}
    # post-compact inserts with NULL also stay NULL (backfill list cleared)
    catalog.insert("tn", spark.createDataFrame([(5, None)], "a int, e int"))
    rows = {r.a: r.e for r in catalog.read("tn").collect()}
    assert rows[5] is None


def test_compact_crash_recovery(spark, catalog):
    # simulate the two crash windows of compact()'s two-rename swap
    catalog.create_table("tr", "a int")
    catalog.insert("tr", spark.createDataFrame([(i,) for i in range(5)],
                                               "a int"))
    data = os.path.join(catalog.table_path("tr"), "data")
    old = data + ".compact.old"
    # window 1: crashed between rename(data→old) and rename(tmp→data):
    # rows are parked in .old and data is gone — read() must recover them,
    # not silently return an empty table
    os.rename(data, old)
    assert sorted(r.a for r in catalog.read("tr").collect()) == [0, 1, 2, 3, 4]
    assert os.path.isdir(data) and not os.path.exists(old)
    # window 2: crashed after the swap, before cleanup: both dirs exist
    # and data is the truth — the stale .old must not break the next
    # compact() (round 1 died with ENOTEMPTY here)
    import shutil
    shutil.copytree(data, old)
    assert catalog.compact("tr") >= 1
    assert not os.path.exists(old)
    assert sorted(r.a for r in catalog.read("tr").collect()) == [0, 1, 2, 3, 4]


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_empty_overwrite_crash_in_swap_cleanup_stays_empty(
        spark, catalog, monkeypatch, fmt):
    """An INSERT OVERWRITE of an empty frame that dies while the old
    data is being removed (one old file gone, the rest left) reads as
    the empty table it committed: a fresh catalog's recovery must not
    take the leftovers for a crash between the swap's renames."""
    import shutil

    from cstore_fdw_spark import catalog as catalog_mod
    from cstore_fdw_spark.catalog import CStoreCatalog
    catalog.create_table("ow_empty", "a long", storage_format=fmt)
    for lo in (0, 10):
        catalog.insert("ow_empty",
                       spark.range(lo, lo + 5).selectExpr("id as a"))
    real_rmtree = shutil.rmtree

    def dies_midway(path, *args, **kwargs):
        if not str(path).endswith(".compact.old"):
            return real_rmtree(path, *args, **kwargs)
        os.remove(next(iter(catalog_mod._data_files(str(path), fmt))))

    monkeypatch.setattr(shutil, "rmtree", dies_midway)
    catalog.insert("ow_empty", spark.range(0).selectExpr("id as a"),
                   overwrite=True)
    monkeypatch.undo()
    fresh = CStoreCatalog(spark, warehouse=catalog.warehouse)
    assert fresh.row_count("ow_empty") == 0
    assert fresh.read("ow_empty").count() == 0


def test_stream_ingest_replay_is_idempotent(spark, catalog, tmp_path):
    # foreachBatch replays a batch_id after restart; the table-side ledger
    # must suppress the duplicate append (at-least-once → effectively-once)
    from cstore_fdw_spark.streaming.ingest import batch_writer
    catalog.create_table("ti", "a int")
    write = batch_writer(catalog, "ti", str(tmp_path / "ckpt"))
    df = spark.createDataFrame([(1,), (2,)], "a int")
    write(df, 0)
    write(df, 0)          # replay of the same batch: must be a no-op
    write(df, 1)          # a genuinely new batch appends
    assert catalog.row_count("ti") == 4
    # an independent stream (different checkpoint) is not suppressed
    write2 = batch_writer(catalog, "ti", str(tmp_path / "ckpt2"))
    write2(df, 0)
    assert catalog.row_count("ti") == 6


def test_filename_option_custom_location(spark, catalog, tmp_path):
    # reference `filename` option: custom absolute path for table data
    # (README `filename`; validated cstore_fdw.c:1523-1571); DROP deletes
    # the custom-location files too (cstore_fdw.c:897-926)
    loc = str(tmp_path / "custom" / "events_store")
    with pytest.raises(CStoreError, match="absolute"):
        validate_options({"filename": "relative/path"})
    catalog.create_table("tf", "a int, b string", filename=loc)
    catalog.insert("tf", spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, b string"))
    assert os.path.isdir(loc)  # data landed at the custom location
    assert not os.path.exists(
        os.path.join(catalog.table_path("tf"), "data"))
    assert sorted(r.a for r in catalog.read("tf").collect()) == [1, 2]
    assert catalog.row_count("tf") == 2
    assert catalog.table_size("tf") > 0
    assert catalog.compact("tf") == 1
    assert sorted(r.a for r in catalog.read("tf").collect()) == [1, 2]
    catalog.truncate("tf")
    assert catalog.row_count("tf") == 0
    catalog.insert("tf", spark.createDataFrame([(3, "z")], "a int, b string"))
    catalog.drop_table("tf")
    assert not os.path.exists(loc)  # custom-location files removed on drop


def test_copy_to_program_roundtrip(spark, catalog, tmp_path):
    # COPY TO PROGRAM symmetry with copy_from_program
    # (reference delegates the full COPY grammar, cstore_fdw.c:651-707)
    from cstore_fdw_spark.io import copy_from_program, copy_to_program
    catalog.create_table("tp", "a int, b string")
    catalog.insert("tp", spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, b string"))
    sink = tmp_path / "sink.csv"
    copy_to_program(catalog, "tp", f"cat > {sink}")
    assert sorted(sink.read_text().strip().splitlines()) == ["1,x", "2,y"]
    # failing consumer surfaces as an engine error
    with pytest.raises(CStoreError, match="program failed"):
        copy_to_program(catalog, "tp", "exit 3")
    # and the exported stream loads back via the program form
    catalog.create_table("tp2", "a int, b string")
    copy_from_program(catalog, "tp2", f"cat {sink}")
    assert sorted((r.a, r.b) for r in catalog.read("tp2").collect()) \
        == [(1, "x"), (2, "y")]


def test_cbo_stats_drive_broadcast_decision(spark, catalog):
    # A15: register_table + analyze feed Catalyst's CBO real catalog stats
    # (the pg_statistic analog, reference cstore_fdw.c:1628-1720). The
    # observable: a selective filter's size estimate. Without column
    # stats the filtered side is costed at full file size (no broadcast
    # under a small threshold); with ANALYZE'd min/max stats Catalyst
    # knows the predicate is selective and the join side drops under the
    # broadcast threshold.
    import uuid
    fact = "f_" + uuid.uuid4().hex[:8]
    dim = "d_" + uuid.uuid4().hex[:8]
    catalog.create_table(fact, "k int, pad string")
    catalog.insert(fact, spark.range(20000).selectExpr(
        "cast(id % 1000 as int) k", "repeat('x', 64) pad"))
    catalog.create_table(dim, "k int, v string")
    catalog.insert(dim, spark.range(8000).selectExpr(
        "cast(id as int) k", "repeat('y', 64) v"))
    catalog.register_table(fact)
    catalog.register_table(dim)
    catalog.analyze(fact)
    catalog.analyze(dim)
    # CBO row counts are now visible to the optimizer
    jstats = (spark.table(fact)._jdf.queryExecution()
              .optimizedPlan().stats())
    assert jstats.rowCount().isDefined()
    assert jstats.rowCount().get() == 20000
    threshold_before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        q = (f"SELECT * FROM `{fact}` f JOIN `{dim}` d ON f.k = d.k "
             f"WHERE d.k < 10")
        plan = spark.sql(q)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, plan
        # sanity: without the selective filter the dim side exceeds the
        # threshold and the planner falls back to a shuffle join
        q2 = f"SELECT * FROM `{fact}` f JOIN `{dim}` d ON f.k = d.k"
        plan2 = spark.sql(q2)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       threshold_before)
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
        spark.sql(f"DROP TABLE IF EXISTS `{fact}`")
        spark.sql(f"DROP TABLE IF EXISTS `{dim}`")


def test_register_table_requires_baked_defaults(spark, catalog):
    catalog.create_table("trb", "a int")
    catalog.insert("trb", spark.createDataFrame([(1,)], "a int"))
    catalog.add_column("trb", "e", "int", default=9)
    with pytest.raises(CStoreError, match="pending default backfill"):
        catalog.register_table("trb")
    catalog.compact("trb")  # bakes the default into the files
    assert catalog.register_table("trb") == "trb"
    assert spark.table("trb").collect()[0].e == 9
    spark.sql("DROP TABLE IF EXISTS trb")


def test_filename_refuses_nonempty_location(catalog, tmp_path):
    # DROP deletes the whole data location, so CREATE must refuse to
    # adopt a directory holding unrelated pre-existing files (the
    # reference deletes only files it created, cstore_fdw.c:897-926)
    loc = tmp_path / "precious"
    loc.mkdir()
    (loc / "keep.txt").write_text("do not delete")
    with pytest.raises(CStoreError, match="empty"):
        catalog.create_table("tnf", "a int", filename=str(loc))
    assert (loc / "keep.txt").exists()
    # an empty existing directory is fine
    empty = tmp_path / "empty"
    empty.mkdir()
    catalog.create_table("tnf", "a int", filename=str(empty))
    catalog.drop_table("tnf")


def test_truncate_clears_compact_leftovers(spark, catalog, tmp_path):
    # a compact crash in the rename window leaves data.compact.old; for
    # `filename` tables truncate must clear it too, or the next read()'s
    # _recover_compact restores it and truncated rows resurrect
    import shutil
    loc = str(tmp_path / "ft_store")
    catalog.create_table("ftl", "a int", filename=loc)
    catalog.insert("ftl", spark.createDataFrame([(1,), (2,)], "a int"))
    shutil.copytree(loc, loc + ".compact.old")  # simulated crash leftover
    catalog.truncate("ftl")
    assert not os.path.exists(loc + ".compact.old")
    assert catalog.row_count("ftl") == 0
    assert catalog.read("ftl").count() == 0  # no resurrection via recovery
    catalog.drop_table("ftl")


def test_copy_to_program_early_exit_and_stderr_flood(spark, catalog, tmp_path):
    # an early-exiting consumer (head) must not raise BrokenPipeError,
    # and a consumer that floods stderr must not deadlock the writer
    from cstore_fdw_spark.io import copy_to_program
    catalog.create_table("tpe", "a int")
    catalog.insert("tpe", spark.createDataFrame(
        [(i,) for i in range(20000)], "a int"))
    sink = tmp_path / "first.csv"
    assert copy_to_program(catalog, "tpe", f"head -c 64 > {sink}") == 0
    assert len(sink.read_bytes()) == 64
    # ~1MB of stderr while consuming stdin: would deadlock without the
    # concurrent stderr drain
    noisy = ("python3 -c \"import sys; sys.stderr.write('e'*1048576); "
             "sys.stderr.flush(); data=sys.stdin.buffer.read(); "
             "sys.stdout.write(str(len(data)))\" > " + str(tmp_path / "n.txt"))
    assert copy_to_program(catalog, "tpe", noisy) == 0
    assert int((tmp_path / "n.txt").read_text()) > 0
    # failing consumer still surfaces collected stderr
    with pytest.raises(CStoreError, match="boom"):
        copy_to_program(catalog, "tpe",
                        "python3 -c \"import sys; sys.stderr.write('boom'); "
                        "sys.exit(2)\"")


def test_compact_refreshes_registered_table(spark, catalog):
    # after compact() swaps the data directory, a session-catalog
    # registration must see the new file list (REFRESH) and fresh CBO
    # stats (re-ANALYZE) — the reference's footer rewrite keeps readers
    # on current metadata (cstore_writer.c:344-357)
    import uuid
    name = "tc_" + uuid.uuid4().hex[:8]
    catalog.create_table(name, "a int")
    for i in range(4):  # four small files
        catalog.insert(name, spark.createDataFrame(
            [(i * 10 + j,) for j in range(5)], "a int"))
    catalog.register_table(name)
    catalog.analyze(name)
    assert spark.table(name).count() == 20
    try:
        catalog.compact(name)
        # catalog reader sees the rewritten files, not the stale listing
        assert spark.table(name).count() == 20
        assert sorted(r.a for r in spark.table(name).collect()) == \
            sorted(i * 10 + j for i in range(4) for j in range(5))
        # and the planner stats were recollected over the new files
        jstats = (spark.table(name)._jdf.queryExecution()
                  .optimizedPlan().stats())
        assert jstats.rowCount().isDefined()
        assert jstats.rowCount().get() == 20
        # drop_table also removes the registration
        catalog.drop_table(name)
        assert not spark.catalog.tableExists(name)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_copy_stdin_stdout_roundtrip(spark, catalog, tmp_path):
    # COPY FROM STDIN / TO STDOUT file-object overloads (the reference
    # accepts the same pipe grammar, cstore_fdw.c:539-707)
    import io as _io
    from cstore_fdw_spark.io import copy_from_stdin, copy_to_stdout
    catalog.create_table("tsi", "a int, b string")
    copy_from_stdin(catalog, "tsi", _io.StringIO("1,x\n2,\"y,z\"\n3,\n"))
    rows = {r.a: r.b for r in catalog.read("tsi").collect()}
    assert rows == {1: "x", 2: "y,z", 3: None}
    # text stream out
    out = _io.StringIO()
    n = copy_to_stdout(catalog, "tsi", out)
    assert n == len(out.getvalue())
    assert sorted(out.getvalue().strip().splitlines()) == \
        ['1,x', '2,"y,z"', '3,']
    # binary stream out and back in through stdin (full round-trip)
    bout = _io.BytesIO()
    copy_to_stdout(catalog, "tsi", bout)
    catalog.create_table("tsi2", "a int, b string")
    bout.seek(0)
    copy_from_stdin(catalog, "tsi2", bout)
    assert {r.a: r.b for r in catalog.read("tsi2").collect()} == rows
    # column-list form over stdin
    catalog.create_table("tsi3", "a int, b string, c double")
    copy_from_stdin(catalog, "tsi3", _io.StringIO("x,9\n"),
                    columns=["b", "a"])
    r = catalog.read("tsi3").collect()[0]
    assert (r.a, r.b, r.c) == (9, "x", None)


def test_delete_where_copy_on_write(spark, catalog):
    # copy-on-write DELETE: filtered rewrite through compact's swap
    # protocol (the reference is append-only; modern columnar DELETE is
    # exactly this file rewrite)
    catalog.create_table("td", "a int, b string")
    catalog.insert("td", spark.createDataFrame(
        [(i, "x" if i % 2 else "y") for i in range(10)], "a int, b string"))
    assert catalog.delete_where("td", "b = 'y'") == 5
    rows = sorted(r.a for r in catalog.read("td").collect())
    assert rows == [1, 3, 5, 7, 9]
    # Column-form predicate, composes with schema evolution defaults
    catalog.add_column("td", "e", "int", default=7)
    assert catalog.delete_where("td", F.col("a") < 3) == 1
    got = {(r.a, r.e) for r in catalog.read("td").collect()}
    assert got == {(3, 7), (5, 7), (7, 7), (9, 7)}
    # deleting everything leaves a valid empty table
    assert catalog.delete_where("td", F.lit(True)) == 4
    assert catalog.row_count("td") == 0
    catalog.insert("td", spark.createDataFrame([(1, "z", 5)],
                                               "a int, b string, e int"))
    assert catalog.read("td").collect()[0].e == 5
    catalog.drop_table("td")


def test_rename_table_and_column(spark, catalog):
    catalog.create_table("trn", "a int, b string", sort_by="a")
    catalog.insert("trn", spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, b string"))
    catalog.rename_table("trn", "trn2")
    assert not catalog.exists("trn") and catalog.exists("trn2")
    assert sorted(r.a for r in catalog.read("trn2").collect()) == [1, 2]
    # column rename rewrites data under the new name; metadata follows
    catalog.add_column("trn2", "e", "int", default=5)
    catalog.rename_column("trn2", "a", "key")
    got = {(r.key, r.b, r.e) for r in catalog.read("trn2").collect()}
    assert got == {(1, "x", 5), (2, "y", 5)}
    assert catalog._load_meta("trn2").options["sort_by"] == "key"
    with pytest.raises(CStoreError, match="does not exist"):
        catalog.rename_column("trn2", "a", "zz")
    with pytest.raises(CStoreError, match="already exists"):
        catalog.rename_column("trn2", "b", "key")
    # post-rename inserts and reads agree
    catalog.insert("trn2", spark.createDataFrame(
        [(3, "z", 9)], "key int, b string, e int"))
    assert catalog.row_count("trn2") == 3
    catalog.drop_table("trn2")


def test_views_over_tables(spark, catalog):
    catalog.create_table("vt", "a int, grp string")
    catalog.insert("vt", spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g2")], "a int, grp string"))
    catalog.create_view("v_sums",
                        "SELECT grp, SUM(a) AS s FROM vt GROUP BY grp")
    got = {(r.grp, r.s) for r in catalog.read_view("v_sums").collect()}
    assert got == {("g1", 3), ("g2", 3)}
    # views see current data (resolved lazily)
    catalog.insert("vt", spark.createDataFrame([(10, "g2")],
                                               "a int, grp string"))
    got = {(r.grp, r.s) for r in catalog.read_view("v_sums").collect()}
    assert got == {("g1", 3), ("g2", 13)}
    # view over view
    catalog.create_view("v_top",
                        "SELECT grp FROM v_sums WHERE s > 10")
    assert [r.grp for r in catalog.read_view("v_top").collect()] == ["g2"]
    assert catalog.list_views() == ["v_sums", "v_top"]
    with pytest.raises(CStoreError, match="does not exist"):
        catalog.read_view("nope")
    catalog.drop_view("v_top")
    catalog.drop_view("v_sums")
    catalog.drop_table("vt")


def test_time_travel_read_as_of_epoch(spark, catalog):
    # append-only snapshot reads: each insert() commits an epoch; reading
    # as_of an earlier epoch excludes later files (Iceberg-snapshot-style,
    # free with the e{epoch}- append protocol)
    catalog.create_table("tt", "a int, grp string", partition_by="grp")
    assert catalog.current_epoch("tt") == 0
    assert catalog.read("tt", as_of_epoch=0).count() == 0
    catalog.insert("tt", spark.createDataFrame(
        [(1, "x"), (2, "y")], "a int, grp string"))
    e1 = catalog.current_epoch("tt")
    catalog.insert("tt", spark.createDataFrame(
        [(3, "x")], "a int, grp string"))
    e2 = catalog.current_epoch("tt")
    assert e2 > e1
    # snapshot at e1 sees only the first batch (partition cols intact)
    snap = catalog.read("tt", as_of_epoch=e1).orderBy("a").collect()
    assert [(r.a, r.grp) for r in snap] == [(1, "x"), (2, "y")]
    # snapshot at e2 == current read
    assert catalog.read("tt", as_of_epoch=e2).count() == 3
    assert catalog.read("tt").count() == 3
    # rewrite (compact) vacuums history up to the rewrite epoch: a stale
    # snapshot errors clearly instead of silently returning current rows
    catalog.compact("tt")
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("tt", as_of_epoch=e1)
    # snapshots at/after the floor still read the current table
    floor = catalog._load_meta("tt").history_floor
    assert catalog.read("tt", as_of_epoch=floor).count() == 3


def test_vacuum_keeps_recent_snapshots(spark, catalog):
    # vacuum(keep_epochs=N) consolidates files older than the cutoff but
    # keeps the recent epoch window time-travelable: snapshots at/after
    # the cutoff stay exact, below it they raise the vacuumed error
    catalog.create_table("vt", "a int")
    for i in range(4):  # epochs 1..4, one file each
        catalog.insert("vt", spark.createDataFrame([(i,)], "a int"))
    reclaimed = catalog.vacuum("vt", keep_epochs=2)  # cutoff = epoch 2
    assert reclaimed >= 1  # epochs 1+2 consolidated into one file
    assert catalog._load_meta("vt").history_floor == 2
    # retained window: exact snapshots
    assert {r.a for r in catalog.read("vt", as_of_epoch=2).collect()} \
        == {0, 1}
    assert {r.a for r in catalog.read("vt", as_of_epoch=3).collect()} \
        == {0, 1, 2}
    assert {r.a for r in catalog.read("vt").collect()} == {0, 1, 2, 3}
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("vt", as_of_epoch=1)
    # appending after vacuum keeps epochs monotone and readable
    catalog.insert("vt", spark.createDataFrame([(9,)], "a int"))
    assert {r.a for r in catalog.read("vt").collect()} == {0, 1, 2, 3, 9}
    # vacuum everything: current reads unchanged, floor = current epoch
    catalog.vacuum("vt", keep_epochs=0)
    assert {r.a for r in catalog.read("vt").collect()} == {0, 1, 2, 3, 9}
    assert catalog.read(
        "vt", as_of_epoch=catalog.current_epoch("vt")).count() == 5


def test_vacuum_partitioned_table(spark, catalog):
    catalog.create_table("vp", "a int, grp string", partition_by="grp")
    for i in range(3):
        catalog.insert("vp", spark.createDataFrame(
            [(i, "x"), (i, "y")], "a int, grp string"))
    catalog.vacuum("vp", keep_epochs=1)
    rows = sorted((r.a, r.grp) for r in catalog.read("vp").collect())
    assert rows == sorted((i, g) for i in range(3) for g in ("x", "y"))
    # snapshot inside the retained window still partition-correct
    snap = sorted((r.a, r.grp)
                  for r in catalog.read("vp", as_of_epoch=2).collect())
    assert snap == sorted((i, g) for i in range(2) for g in ("x", "y"))


def test_merge_key_named_like_internal_struct(spark, catalog):
    # a merge key literally named "t" (or "s") must not collide with the
    # internal packed-row struct aliases
    catalog.create_table("mt", "t int, s string")
    catalog.insert("mt", spark.createDataFrame(
        [(1, "a"), (2, "b")], "t int, s string"))
    res = catalog.merge_into(
        "mt", spark.createDataFrame([(2, "B"), (3, "c")], "t int, s string"),
        on="t")
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    assert {(r.t, r.s) for r in catalog.read("mt").collect()} \
        == {(1, "a"), (2, "B"), (3, "c")}
    # conditional chain still addresses columns through t.*/s.*
    res = catalog.merge_into(
        "mt", spark.createDataFrame([(3, "C")], "t int, s string"),
        on="t", when_matched=[("s.s > t.s", "update")])
    assert res["matched"] == 1
    assert {(r.t, r.s) for r in catalog.read("mt").collect()} \
        == {(1, "a"), (2, "B"), (3, "c")}  # "C" < "c" → clause false


def test_merge_into_partitioned_table(spark, catalog):
    # the single-pass merge must commit correctly through the
    # partitionBy rewrite path (hive-layout dirs, partition values kept)
    catalog.create_table("mpart", "k int, v string, grp string",
                         partition_by="grp")
    catalog.insert("mpart", spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "k int, v string, grp string"))
    res = catalog.merge_into(
        "mpart", spark.createDataFrame(
            [(2, "B", "y"), (3, "c", "x")], "k int, v string, grp string"),
        on="k")
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    rows = {(r.k, r.v, r.grp) for r in catalog.read("mpart").collect()}
    assert rows == {(1, "a", "x"), (2, "B", "y"), (3, "c", "x")}
    import os
    data = catalog._data_path(catalog._load_meta("mpart"))
    assert any(d.startswith("grp=") for d in os.listdir(data))


def test_vacuum_with_pending_backfill_bakes_defaults(spark, catalog):
    # a table with a pending ADD COLUMN DEFAULT watermark still vacuums
    # correctly: old rows keep reading the default, explicit values stay
    catalog.create_table("vb", "a int")
    catalog.insert("vb", spark.createDataFrame([(1,), (2,)], "a int"))
    catalog.add_column("vb", "d", "int", default=7)
    catalog.insert("vb", spark.createDataFrame(
        [(3, None), (4, 9)], "a int, d int"))
    catalog.vacuum("vb", keep_epochs=1)
    rows = {(r.a, r.d) for r in catalog.read("vb").collect()}
    # pre-column rows read the default; the explicit NULL stays NULL
    assert rows == {(1, 7), (2, 7), (3, None), (4, 9)}


def test_merge_into_upsert(spark, catalog):
    catalog.create_table("m", "k int, v string")
    catalog.insert("m", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k int, v string")
    res = catalog.merge_into("m", src, on="k")
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    out = {(r.k, r.v) for r in catalog.read("m").collect()}
    assert out == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}
    # matched-delete form: drop rows present in the source, no inserts
    res = catalog.merge_into(
        "m", spark.createDataFrame([(1, "x"), (9, "y")], "k int, v string"),
        on="k", when_matched="delete", when_not_matched=None)
    assert res == {"matched": 1, "inserted": 0, "removed_unmatched": 0}
    assert {r.k for r in catalog.read("m").collect()} == {2, 3, 4}
    # a source hitting the same target row twice is rejected (PG MERGE)
    with pytest.raises(CStoreError):
        catalog.merge_into("m", spark.createDataFrame(
            [(2, "p"), (2, "q")], "k int, v string"), on="k")
    # merge into empty-after-delete-everything path
    res = catalog.merge_into(
        "m", spark.createDataFrame(
            [(2, "x"), (3, "x"), (4, "x")], "k int, v string"),
        on="k", when_matched="delete", when_not_matched=None)
    assert res["matched"] == 3
    assert catalog.read("m").count() == 0


def test_insert_crash_batch_invisible_and_collected(spark, catalog):
    # a batch whose visibility commit (the metadata epoch save) never
    # happened must be invisible to readers and garbage-collected by the
    # next writer — simulate the crash by planting files stamped with an
    # epoch above the committed one
    import glob
    import shutil as sh

    catalog.create_table("ic", "a int")
    catalog.insert("ic", spark.createDataFrame([(1,), (2,)], "a int"))
    meta = catalog._load_meta("ic")
    data = catalog._data_path(meta)
    src_file = glob.glob(f"{data}/e*.parquet")[0]
    orphan = os.path.join(
        data, f"e{meta.write_epoch + 1:012d}-crashed.parquet")
    sh.copy(src_file, orphan)
    # invisible to plain reads AND to row counts via read()
    assert catalog.read("ic").count() == 2
    # the next committed insert garbage-collects it and lands cleanly
    catalog.insert("ic", spark.createDataFrame([(3,)], "a int"))
    assert not os.path.exists(orphan)
    assert {r.a for r in catalog.read("ic").collect()} == {1, 2, 3}


def test_concurrent_inserts_serialize_without_loss(spark, catalog):
    # 4 threads x 3 appends: the per-table writer lock must serialize
    # commits so no batch is lost, no epoch collides, and every row is
    # visible afterwards
    import threading

    catalog.create_table("ci", "a int")
    errs = []

    def run(base):
        try:
            for i in range(3):
                catalog.insert("ci", spark.createDataFrame(
                    [(base * 100 + i,)], "a int"))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run, args=(b,)) for b in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    rows = {r.a for r in catalog.read("ci").collect()}
    assert rows == {b * 100 + i for b in range(4) for i in range(3)}
    assert catalog.current_epoch("ci") == 12  # one epoch per commit


def test_insert_overwrite_never_empty_window(spark, catalog):
    # overwrite commits via the two-rename swap: after a simulated crash
    # between the renames (data dir gone, .compact.old present), readers
    # still recover the previous contents — never an empty table
    catalog.create_table("ow", "a int")
    catalog.insert("ow", spark.createDataFrame([(1,), (2,)], "a int"))
    meta = catalog._load_meta("ow")
    data = catalog._data_path(meta)
    os.rename(data, data + ".compact.old")  # crash mid-swap
    assert {r.a for r in catalog.read("ow").collect()} == {1, 2}
    # and a real overwrite replaces contents atomically
    catalog.insert("ow", spark.createDataFrame([(9,)], "a int"),
                   overwrite=True)
    assert {r.a for r in catalog.read("ow").collect()} == {9}


def test_merge_into_insert_only_keeps_matched_rows(spark, catalog):
    # when_matched=None is an INSERT-ONLY merge: matched target rows must
    # survive untouched (PG 15: a row no WHEN MATCHED clause affects stays)
    catalog.create_table("mi", "k int, v string")
    catalog.insert("mi", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    res = catalog.merge_into(
        "mi", spark.createDataFrame(
            [(2, "IGNORED"), (3, "c")], "k int, v string"),
        on="k", when_matched=None)
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    out = {(r.k, r.v) for r in catalog.read("mi").collect()}
    assert out == {(1, "a"), (2, "b"), (3, "c")}


def test_merge_into_conditional_actions(spark, catalog):
    # PG-15 WHEN MATCHED AND <cond> THEN <action> chains, first match
    # wins, unmatched-by-any-clause rows stay. t.* = target, s.* = source.
    catalog.create_table("mc", "k int, qty int")
    catalog.insert("mc", spark.createDataFrame(
        [(1, 10), (2, 0), (3, 5), (4, 7)], "k int, qty int"))
    src = spark.createDataFrame(
        [(1, 99),    # t.qty=10 → first clause false, second true → update
         (2, 50),    # t.qty=0  → first clause true → delete
         (3, -1),    # s.qty<0  → matches no clause → row stays (5)
         (9, 12)],   # unmatched → insert
        "k int, qty int")
    res = catalog.merge_into(
        "mc", src, on="k",
        when_matched=[("t.qty = 0", "delete"),
                      ("s.qty > t.qty", "update"),
                      ("s.qty < 0", "nothing")])
    assert res == {"matched": 3, "inserted": 1, "removed_unmatched": 0}
    out = {(r.k, r.qty) for r in catalog.read("mc").collect()}
    assert out == {(1, 99), (3, 5), (4, 7), (9, 12)}


def test_merge_not_matched_by_source(spark, catalog):
    # PG 17 WHEN NOT MATCHED BY SOURCE: the classic mirror-the-source
    # sync — update matched, insert new, delete target rows absent from
    # the source — in one merge
    catalog.create_table("ms", "k int, v string")
    catalog.insert("ms", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"))
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k int, v string")
    res = catalog.merge_into("ms", src, on="k",
                             when_not_matched_by_source="delete")
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 2}
    assert {(r.k, r.v) for r in catalog.read("ms").collect()} \
        == {(2, "B"), (4, "D")}
    # conditional form: only delete unmatched rows satisfying t-predicate
    catalog.insert("ms", spark.createDataFrame(
        [(7, "old"), (8, "keep")], "k int, v string"))
    res = catalog.merge_into(
        "ms", spark.createDataFrame([(2, "B2")], "k int, v string"),
        on="k",
        when_not_matched_by_source=[("t.v = 'old'", "delete")])
    assert res == {"matched": 1, "inserted": 0, "removed_unmatched": 1}
    assert {(r.k, r.v) for r in catalog.read("ms").collect()} \
        == {(2, "B2"), (4, "D"), (8, "keep")}


def test_merge_into_is_single_pass(spark, catalog):
    # the merge must not re-execute the source/target join per counter:
    # exactly ONE job may run before the rewrite's write job (plus the
    # write itself and post-commit bookkeeping) — round 3 ran five
    catalog.create_table("mp", "k int, v string")
    catalog.insert("mp", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    sc = spark.sparkContext
    # AQE turns every shuffle stage into its own job, which would make
    # the count nondeterministic — switch it off so one action == one job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("merge-single-pass", "merge job-count probe")
    try:
        catalog.merge_into(
            "mp", spark.createDataFrame([(2, "B"), (3, "C")],
                                        "k int, v string"), on="k")
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    jobs = sc.statusTracker().getJobIdsForGroup("merge-single-pass")
    # 1 stats aggregate (materializes the cached join) + 1 rewrite write
    # (+1 tolerance); the round-3 implementation ran the join five times
    assert len(jobs) <= 3, jobs
    out = {(r.k, r.v) for r in catalog.read("mp").collect()}
    assert out == {(1, "a"), (2, "B"), (3, "C")}


def test_rewrite_retries_when_concurrent_insert_commits(
        spark, catalog, monkeypatch):
    # the ADVICE-flagged data-loss path: a rewrite (here DELETE) staged
    # from a pre-insert file set must NOT swap in — it would drop the
    # concurrently committed batch and regress write_epoch so orphan
    # recovery deletes it. _rewrite must detect the conflict under the
    # writer lock and retry from a fresh read that includes the batch.
    from cstore_fdw_spark.catalog import CStoreCatalog
    catalog.create_table("race_del", "k long, v long")
    catalog.insert("race_del",
                   spark.range(10).selectExpr("id as k", "id as v"))
    orig_swap = CStoreCatalog._commit_swap
    orig_partial = CStoreCatalog._commit_partial
    state = {"injected": False}

    def inject(self, name):
        if not state["injected"]:
            state["injected"] = True
            # a concurrent writer commits between staging and the lock
            self.insert(name, spark.range(100, 105)
                        .selectExpr("id as k", "id as v"))

    def racy_swap(self, name, base_epoch, tmp_path, mutate=None):
        inject(self, name)
        return orig_swap(self, name, base_epoch, tmp_path, mutate=mutate)

    def racy_partial(self, name, base_epoch, staged, dropped):
        inject(self, name)
        return orig_partial(self, name, base_epoch, staged, dropped)

    monkeypatch.setattr(CStoreCatalog, "_commit_swap", racy_swap)
    monkeypatch.setattr(CStoreCatalog, "_commit_partial", racy_partial)
    catalog.delete_where("race_del", "k < 3")
    assert state["injected"]
    rows = {r.k for r in catalog.read("race_del").collect()}
    # delete applied AND the racing batch survived (retry re-read it)
    assert rows == set(range(3, 10)) | set(range(100, 105))


def test_merge_conflict_surfaces_error_and_loses_nothing(
        spark, catalog, monkeypatch):
    # MERGE does not retry internally (the join is expensive); it must
    # surface a serialization-failure error, leave the table untouched
    # (old rows + the racing batch), and never regress write_epoch.
    from cstore_fdw_spark.catalog import (CStoreCatalog,
                                          CStoreConcurrentWriteError)
    catalog.create_table("race_mrg", "k long, v long")
    catalog.insert("race_mrg",
                   spark.range(5).selectExpr("id as k", "id as v"))
    orig_swap = CStoreCatalog._commit_swap
    orig_partial = CStoreCatalog._commit_partial
    state = {"injected": False}

    def inject(self, name):
        if not state["injected"]:
            state["injected"] = True
            self.insert(name, spark.range(100, 103)
                        .selectExpr("id as k", "id as v"))

    def racy_swap(self, name, base_epoch, tmp_path, mutate=None):
        inject(self, name)
        return orig_swap(self, name, base_epoch, tmp_path, mutate=mutate)

    def racy_partial(self, name, base_epoch, staged, dropped):
        inject(self, name)
        return orig_partial(self, name, base_epoch, staged, dropped)

    monkeypatch.setattr(CStoreCatalog, "_commit_swap", racy_swap)
    monkeypatch.setattr(CStoreCatalog, "_commit_partial", racy_partial)
    src = spark.range(3, 7).selectExpr("id as k", "id * 10 as v")
    with pytest.raises(CStoreConcurrentWriteError):
        catalog.merge_into("race_mrg", src, on="k")
    rows = {(r.k, r.v) for r in catalog.read("race_mrg").collect()}
    assert rows == {(i, i) for i in range(5)} \
        | {(i, i) for i in range(100, 103)}
    # the racing insert's commit (epoch 2) was never regressed
    assert catalog.current_epoch("race_mrg") == 2
    # re-running the merge after the conflict succeeds and sees the batch
    res = catalog.merge_into("race_mrg", src, on="k")
    assert res["matched"] == 2 and res["inserted"] == 2
    rows = {(r.k, r.v) for r in catalog.read("race_mrg").collect()}
    assert rows == {(0, 0), (1, 1), (2, 2), (3, 30), (4, 40),
                    (5, 50), (6, 60), (100, 100), (101, 101), (102, 102)}


def test_rename_column_conflict_leaves_schema_untouched(
        spark, catalog, monkeypatch):
    # a conflicted RENAME COLUMN rewrite must abort without having saved
    # the renamed schema (round-4 code saved meta BEFORE the rewrite)
    from cstore_fdw_spark.catalog import (CStoreCatalog,
                                          CStoreConcurrentWriteError)
    catalog.create_table("race_ren", "k long, v long")
    catalog.insert("race_ren",
                   spark.range(5).selectExpr("id as k", "id as v"))
    orig = CStoreCatalog._commit_swap
    state = {"injected": False}

    def racy(self, name, base_epoch, tmp_path, mutate=None):
        if not state["injected"]:
            state["injected"] = True
            self.insert(name, spark.range(10, 12)
                        .selectExpr("id as k", "id as v"))
        return orig(self, name, base_epoch, tmp_path, mutate=mutate)

    monkeypatch.setattr(CStoreCatalog, "_commit_swap", racy)
    with pytest.raises(CStoreConcurrentWriteError):
        catalog.rename_column("race_ren", "v", "val")
    assert catalog._load_meta("race_ren").schema().fieldNames() \
        == ["k", "v"]
    # both row sets intact under the original name, retry works
    assert catalog.read("race_ren").count() == 7
    catalog.rename_column("race_ren", "v", "val")
    assert {r.val for r in catalog.read("race_ren").collect()} \
        == set(range(5)) | {10, 11}


def test_compact_keeps_rows_when_another_rewrite_staged_meanwhile(
        spark, catalog, monkeypatch):
    # two full rewrites of one table in flight: a compact reaches its
    # commit while a DELETE rewrite has staged but not committed. Each
    # rewrite stages into its own directory, so the compact swaps in
    # its own output (all rows) — never the DELETE's uncommitted rows
    from cstore_fdw_spark.catalog import CStoreCatalog

    class Paused(Exception):
        """The DELETE stops right before its commit."""

    catalog.create_table("race_stage", "a int")
    catalog.insert("race_stage",
                   spark.range(30).selectExpr("cast(id as int) a")
                   .coalesce(1))
    orig = CStoreCatalog._commit_swap
    state = {"calls": 0}

    def racy(self, name, base_epoch, tmp_path, mutate=None):
        state["calls"] += 1
        if state["calls"] == 1:  # the compact's commit
            # a second full rewrite (one file, all touched) stages now
            with pytest.raises(Paused):
                self.delete_where(name, "a >= 5")
        elif state["calls"] == 2:  # the DELETE's commit: never happens
            raise Paused()
        return orig(self, name, base_epoch, tmp_path, mutate=mutate)

    monkeypatch.setattr(CStoreCatalog, "_commit_swap", racy)
    catalog.compact("race_stage")
    assert state["calls"] == 2
    assert sorted(r.a for r in catalog.read("race_stage").collect()) \
        == list(range(30))
    # the paused DELETE's stage was removed by its own writer
    data = catalog._data_path(catalog._load_meta("race_stage"))
    assert [d for d in os.listdir(os.path.dirname(data))
            if d.startswith("data.")] == []


def test_vacuum_and_clone_link_cstore_footer_sidecars(spark, catalog):
    # a v1.7 data file is unreadable without its .footer sidecar: the
    # files vacuum keeps and the files a clone shares are hard-linked
    # together with their footers
    catalog.create_table("cf", "a int", storage_format="cstore")
    for i in range(3):
        catalog.insert("cf", spark.range(i * 10, i * 10 + 10)
                       .selectExpr("cast(id as int) a"))
    assert catalog.vacuum("cf", keep_epochs=1) >= 1
    assert catalog.read("cf").count() == 30
    catalog.clone_table("cf", "cf2")
    assert sorted(r.a for r in catalog.read("cf2").collect()) \
        == list(range(30))


def _file_inventory(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            p = os.path.join(root, fn)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_ino, st.st_size,
                                             st.st_mtime_ns)
    return out


def test_delete_file_pruning_leaves_untouched_files_byte_identical(
        spark, catalog):
    # selective DELETE must rewrite ONLY the files containing matching
    # rows; the others keep their inode, size, and mtime (at 100 TB a
    # selective delete is O(affected files), not a table rewrite)
    catalog.create_table("fpd", "k long, v long")
    for lo in (0, 100, 200):
        catalog.insert("fpd", spark.range(lo, lo + 100).coalesce(1)
                       .selectExpr("id as k", "id as v"))
    data = os.path.join(catalog.table_path("fpd"), "data")
    before = _file_inventory(data)
    assert len(before) == 3
    deleted = catalog.delete_where("fpd", "k >= 110 and k < 130")
    assert deleted == 20
    after = _file_inventory(data)
    untouched = {r for r in before if after.get(r) == before[r]}
    assert len(untouched) == 2          # [0,99] and [200,299] intact
    assert len(set(before) - set(after)) == 1   # the touched file gone
    new = set(after) - set(before)
    assert new and all(os.path.basename(r).startswith("e000000000004-")
                       for r in new)    # replacement stamped commit epoch
    rows = sorted(r.k for r in catalog.read("fpd").collect())
    assert rows == [k for k in range(300) if not (110 <= k < 130)]
    assert catalog.row_count("fpd") == 280
    meta = catalog._load_meta("fpd")
    assert meta.dropped_files == []     # tombstones GC'd in-commit
    assert meta.write_epoch == 4 and meta.history_floor == 4
    # replaced files break older snapshots — clear error, never wrong rows
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("fpd", as_of_epoch=3)


def test_merge_file_pruning_matches_full_answer(spark, catalog):
    # a merge whose source key range misses a file's zone map leaves
    # that file byte-identical AND produces exactly the rows a full
    # rewrite would
    catalog.create_table("fpm", "k long, v long")
    for lo in (0, 100, 200):
        catalog.insert("fpm", spark.range(lo, lo + 100).coalesce(1)
                       .selectExpr("id as k", "id as v"))
    data = os.path.join(catalog.table_path("fpm"), "data")
    before = _file_inventory(data)
    # keys 150-159 update file [100,199]; key 400 is a fresh insert;
    # the source range [150,400] overlaps [200,299] too — only [0,99]
    # is provably untouched
    src = spark.createDataFrame(
        [(k, k + 10000) for k in range(150, 160)] + [(400, 10400)],
        "k long, v long")
    res = catalog.merge_into("fpm", src, on="k")
    assert res == {"matched": 10, "inserted": 1, "removed_unmatched": 0}
    after = _file_inventory(data)
    untouched = {r for r in before if after.get(r) == before[r]}
    assert len(untouched) == 1          # the [0,99] file survived as-is
    expected = {(k, k) for k in range(300) if not (150 <= k < 160)}
    expected |= {(k, k + 10000) for k in range(150, 160)}
    expected |= {(400, 10400)}
    assert {(r.k, r.v) for r in catalog.read("fpm").collect()} == expected
    assert catalog.row_count("fpm") == 301
    assert catalog._load_meta("fpm").dropped_files == []


def test_merge_pruning_skipped_with_by_source_clause(spark, catalog):
    # WHEN NOT MATCHED BY SOURCE touches every target row — no pruning
    # may apply, and rows outside the source range must still be deleted
    catalog.create_table("fps", "k long, v long")
    for lo in (0, 100):
        catalog.insert("fps", spark.range(lo, lo + 100).coalesce(1)
                       .selectExpr("id as k", "id as v"))
    src = spark.range(100, 200).selectExpr("id as k", "id + 1 as v")
    res = catalog.merge_into("fps", src, on="k",
                             when_not_matched_by_source="delete")
    assert res == {"matched": 100, "inserted": 0,
                   "removed_unmatched": 100}
    assert {(r.k, r.v) for r in catalog.read("fps").collect()} \
        == {(k, k + 1) for k in range(100, 200)}


def test_merge_narrower_source_schema_evolution(spark, catalog):
    # PG-equivalent: UPDATE SET lists only supplied columns (omitted
    # keep target values); INSERT fills omitted columns with the column
    # DEFAULT, else NULL; merge keys must be present
    catalog.create_table("mn", "k int, v string, note string")
    catalog.insert("mn", spark.createDataFrame(
        [(1, "a", "n1"), (2, "b", "n2")], "k int, v string, note string"))
    catalog.add_column("mn", "score", "int", default=7)
    src = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    res = catalog.merge_into("mn", src, on="k")
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    rows = {(r.k, r.v, r.note, r.score)
            for r in catalog.read("mn").collect()}
    assert rows == {
        (1, "a", "n1", 7),     # untouched (old row reads its default)
        (2, "B", "n2", 7),     # updated: v from source, note+score kept
        (3, "C", None, 7),     # inserted: note NULL, score DEFAULT 7
    }
    # a missing merge KEY is still an error
    with pytest.raises(CStoreError, match="merge key"):
        catalog.merge_into(
            "mn", spark.createDataFrame([("x",)], "v string"), on="k")


def test_vacuum_after_pruned_merge(spark, catalog):
    """Retention across a FILE-PRUNED merge: _commit_partial supersedes
    files outside the epoch chain that vacuum's arithmetic was designed
    around — time travel, the snapshot-below-floor error contract, and
    post-vacuum reads must all stay exact."""
    catalog.create_table("vpm", "k long, v long")
    for lo in (0, 100, 200):  # epochs 1..3, one file each
        catalog.insert("vpm", spark.range(lo, lo + 100).coalesce(1)
                       .selectExpr("id as k", "id as v"))
    # pruned merge: only the [100,199] file is rewritten (epoch 4);
    # the partial commit raises the history floor to 4
    src = spark.createDataFrame([(150, -1)], "k long, v long")
    res = catalog.merge_into("vpm", src, on="k")
    assert res == {"matched": 1, "inserted": 0, "removed_unmatched": 0}
    meta = catalog._load_meta("vpm")
    assert meta.write_epoch == 4 and meta.history_floor == 4
    # snapshots below the floor die with the contract error, the current
    # snapshot reads exactly
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("vpm", as_of_epoch=3)
    expect = {(k, k) for k in range(300) if k != 150} | {(150, -1)}
    assert {(r.k, r.v) for r in catalog.read("vpm").collect()} == expect

    # append one more epoch, then vacuum keeping it: the pruned-merge
    # output (epoch-4 file) and the untouched epoch-1..3 files
    # consolidate at the cutoff; the kept epoch stays time-travelable
    catalog.insert("vpm", spark.createDataFrame(
        [(500, 555)], "k long, v long"))
    reclaimed = catalog.vacuum("vpm", keep_epochs=1)  # cutoff = epoch 4
    assert reclaimed >= 1
    meta = catalog._load_meta("vpm")
    assert meta.history_floor == 4 and meta.dropped_files == []
    assert {(r.k, r.v)
            for r in catalog.read("vpm", as_of_epoch=4).collect()} \
        == expect
    assert {(r.k, r.v) for r in catalog.read("vpm").collect()} \
        == expect | {(500, 555)}
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("vpm", as_of_epoch=3)
    # zone maps stayed in sync through the whole sequence
    data = os.path.join(catalog.table_path("vpm"), "data")
    files = {os.path.relpath(p, data)
             for p in catalog._visible_files(meta)}
    assert files <= set(meta.file_stats)


def test_merge_evolve_schema_adds_source_columns(spark, catalog):
    """evolve_schema=True (the Delta mergeSchema analog): a source
    column the target lacks becomes ADD COLUMN before the merge —
    pre-existing rows read NULL, merged/inserted rows carry values."""
    catalog.create_table("mev", "k int, v string")
    catalog.insert("mev", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"))
    src = spark.createDataFrame(
        [(2, "B", 9.5), (3, "C", 7.5)], "k int, v string, score double")
    res = catalog.merge_into("mev", src, on="k", evolve_schema=True)
    assert res == {"matched": 1, "inserted": 1, "removed_unmatched": 0}
    assert [f.name for f in catalog._load_meta("mev").schema().fields] \
        == ["k", "v", "score"]
    rows = {(r.k, r.v, r.score) for r in catalog.read("mev").collect()}
    assert rows == {(1, "a", None), (2, "B", 9.5), (3, "C", 7.5)}
    # default (no evolve): extra source columns stay ignored
    src2 = spark.createDataFrame(
        [(3, "c3", 1.0, "x")], "k int, v string, score double, extra string")
    catalog.merge_into("mev", src2, on="k")
    assert "extra" not in catalog._load_meta("mev").schema().fieldNames()
    assert {(r.k, r.v, r.score) for r in catalog.read("mev").collect()} \
        == {(1, "a", None), (2, "B", 9.5), (3, "c3", 1.0)}


def test_clone_table_zero_copy_snapshot(spark, catalog):
    """SHALLOW-CLONE semantics: the clone shares immutable data files
    (hardlinks), sees exactly the source's committed rows at clone time,
    and the two tables diverge independently afterward — source
    appends, deletes, even DROP leave the clone intact."""
    import os

    import pytest

    from cstore_fdw_spark.catalog import CStoreError

    catalog.create_table("src", "k long, v string")
    catalog.insert("src", spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"))
    catalog.insert("src", spark.createDataFrame(
        [(3, "c")], "k long, v string"))

    catalog.clone_table("src", "snap")
    rows = lambda t: sorted(tuple(r) for r in catalog.read(t).collect())
    assert rows("snap") == rows("src") == [(1, "a"), (2, "b"), (3, "c")]
    # hardlinked, not copied: link count 2 on shared files
    smeta = catalog._load_meta("snap")
    shared = catalog._visible_files(smeta)
    assert shared and all(os.stat(p).st_nlink >= 2 for p in shared)

    # divergence: source mutations never leak into the clone
    catalog.insert("src", spark.createDataFrame(
        [(4, "d")], "k long, v string"))
    catalog.delete_where("src", "k = 1")
    assert rows("snap") == [(1, "a"), (2, "b"), (3, "c")]
    assert rows("src") == [(2, "b"), (3, "c"), (4, "d")]
    # clone mutations never leak into the source
    catalog.insert("snap", spark.createDataFrame(
        [(9, "z")], "k long, v string"))
    assert (9, "z") not in set(rows("src"))

    # time travel works on the clone for retained epochs
    assert sorted(tuple(r) for r in
                  catalog.read("snap", as_of_epoch=1).collect()) \
        == [(1, "a"), (2, "b")]

    # dropping the source leaves the clone fully readable (hardlinks)
    catalog.drop_table("src")
    assert rows("snap")[:3] == [(1, "a"), (2, "b"), (3, "c")]

    with pytest.raises(CStoreError, match="already exists"):
        catalog.create_table("snap2", "k long")
        catalog.clone_table("snap", "snap2")


def test_clone_table_as_of_epoch_restores_snapshot(spark, catalog):
    """Restore idiom: clone a historical epoch as a live table —
    zero-copy — with the epoch counter resumed from the restored point
    and vacuumed snapshots refused."""
    import pytest

    from cstore_fdw_spark.catalog import CStoreError

    catalog.create_table("src", "k long")
    for i in range(3):
        catalog.insert("src", spark.createDataFrame(
            [(i,)], "k long"))  # epochs 1..3

    catalog.clone_table("src", "restored", as_of_epoch=2)
    assert sorted(r.k for r in catalog.read("restored").collect()) == [0, 1]
    assert catalog.current_epoch("restored") == 2
    # the restored table continues its own history from epoch 2
    catalog.insert("restored", spark.createDataFrame([(9,)], "k long"))
    assert catalog.current_epoch("restored") == 3
    assert sorted(r.k for r in catalog.read("restored").collect()) \
        == [0, 1, 9]
    # original untouched
    assert sorted(r.k for r in catalog.read("src").collect()) == [0, 1, 2]

    catalog.compact("src")  # floor rises past old epochs
    with pytest.raises(CStoreError, match="vacuumed"):
        catalog.clone_table("src", "too_old", as_of_epoch=1)


def test_analyze_histograms_and_selectivity(spark, catalog):
    """Equi-depth histograms persist in metadata and the textbook
    range-selectivity estimator lands within a sane band of the true
    count on a SKEWED distribution (where uniform min/max estimation is
    off by an order of magnitude)."""
    from pyspark.sql import functions as F

    catalog.create_table("t", "x long, y double, s string")
    # skew: 90% of values in [0, 100), tail to 10_000
    df = (spark.range(0, 20_000)
          .select(F.when(F.col("id") % 10 < 9, F.col("id") % 100)
                  .otherwise(F.col("id") % 10_000).alias("x"),
                  (F.col("id") % 7).cast("double").alias("y"),
                  F.lit("z").alias("s")))
    catalog.insert("t", df)

    hists = catalog.analyze_histograms("t", bins=32)
    assert set(hists) == {"x", "y"}  # strings have no histogram
    assert len(hists["x"]) == 33
    assert hists["x"] == sorted(hists["x"])

    true_n = catalog.read("t").filter(
        (F.col("x") >= 0) & (F.col("x") < 100)).count()
    est = catalog.estimate_rows("t", "x", 0, 100)
    assert est is not None
    assert 0.5 * true_n <= est <= 1.5 * true_n, (est, true_n)
    # uniform-assumption estimate for comparison would be
    # rows * 100/10000 = 200 — the histogram must beat it decisively
    assert est > 5 * 200

    # no histogram -> honest None, never a guess
    assert catalog.estimate_rows("t", "s", 0, 1) is None
    catalog.create_table("t2", "x long")
    assert catalog.estimate_rows("t2", "x", 0, 1) is None

    # histograms survive unrelated metadata writes (zorder compact)
    catalog.insert("t", spark.createDataFrame([(1, 1.0, "q")],
                                              "x long, y double, s string"))
    assert catalog.estimate_rows("t", "x", 0, 100) == est


def test_alter_table_layout_rewrites_in_place(spark, catalog):
    """ALTER layout: add a sort order (zone maps start pruning), then a
    partitioning (hive dirs appear), then remove it — rows identical
    throughout, every step crash-safe via the compact swap; snapshots
    below the rewrite are honestly refused."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from cstore_fdw_spark.catalog import CStoreError
    from cstore_fdw_spark.plans import scan_metrics

    catalog.create_table("t", "k long, tag string, v long",
                         block_row_count=1000)
    df = (spark.range(0, 30_000)
          .select((F.col("id") * 2654435761 % 50_000).alias("k"),
                  (F.col("id") % 3).cast("string").alias("tag"),
                  F.col("id").alias("v")))
    catalog.insert("t", df)
    before = sorted(tuple(r) for r in catalog.read("t").collect())
    pred = (F.col("k") >= 10) & (F.col("k") < 60)
    m0 = scan_metrics(catalog.read("t").filter(pred))

    catalog.alter_table_layout("t", sort_by="k")
    assert sorted(tuple(r) for r in catalog.read("t").collect()) == before
    m1 = scan_metrics(catalog.read("t").filter(pred))
    assert m1["result_rows"] == m0["result_rows"]
    assert m1["scan_rows"] < m0["scan_rows"], (m1, m0)

    catalog.alter_table_layout("t", sort_by=None, partition_by="tag")
    assert sorted(tuple(r) for r in catalog.read("t").collect()) == before
    meta = catalog._load_meta("t")
    assert meta.options.get("partition_by") == "tag"
    assert "sort_by" not in meta.options
    assert os.path.isdir(os.path.join(catalog._data_path(meta), "tag=0"))

    catalog.alter_table_layout("t", partition_by=None)
    assert sorted(tuple(r) for r in catalog.read("t").collect()) == before

    # rewrites collapse history
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("t", as_of_epoch=1)
    # invalid combos and banned keys fail BEFORE data moves
    with pytest.raises(CStoreError, match="alter_table_layout"):
        catalog.alter_table_layout("t", zorder_by="k")
    catalog.compact("t", zorder_by=["k"])  # persist a z-order layout
    with pytest.raises(CStoreError, match="competing"):
        catalog.alter_table_layout("t", sort_by="k")


def test_analyze_histograms_does_not_clobber_concurrent_insert(
        spark, catalog, monkeypatch):
    """ADVICE r8 (high): analyze_histograms used to snapshot the table
    metadata BEFORE its long distributed aggregate and save the stale
    dict afterwards — a concurrent insert committing mid-analyze had
    its write_epoch rolled back, making its epoch-stamped files look
    uncommitted so the next writer's _recover_orphans deleted committed
    data. Now the aggregate runs lock-free and only a FRESH meta is
    mutated under the writer lock. Simulate the race by committing an
    insert inside the analyze window (between the aggregate and the
    locked save, via the row_count hook)."""
    from pyspark.sql import functions as F

    from cstore_fdw_spark.catalog import CStoreCatalog

    catalog.create_table("h", "a long")
    catalog.insert("h", spark.range(100).select(F.col("id").alias("a")))

    orig = CStoreCatalog.row_count
    fired = []

    def racy_row_count(self, name):
        if not fired:
            fired.append(1)
            # a concurrent writer commits DURING the analyze
            catalog.insert("h", spark.range(5).select(
                (F.col("id") + 1000).alias("a")))
        return orig(self, name)

    monkeypatch.setattr(CStoreCatalog, "row_count", racy_row_count)
    hists = catalog.analyze_histograms("h")
    monkeypatch.undo()
    assert fired and "a" in hists

    # the concurrently committed batch must stay visible...
    assert catalog.read("h").count() == 105
    # ...including across the next writer's orphan GC
    catalog.insert("h", spark.range(1).select(
        (F.col("id") + 2000).alias("a")))
    assert catalog.read("h").count() == 106
    # and the histogram landed
    assert catalog.estimate_rows("h", "a", 0, 100) is not None


def test_clone_table_recovers_crashed_compact(spark, catalog):
    """ADVICE r8 (low): a compact() crash between its two swap renames
    leaves all rows in data.compact.old and no data dir; clone_table
    must repair that state (like read() does) instead of silently
    committing an EMPTY clone."""
    import os

    from pyspark.sql import functions as F

    catalog.create_table("cc", "a long")
    catalog.insert("cc", spark.range(10).select(F.col("id").alias("a")))
    data = catalog._data_path(catalog._load_meta("cc"))
    # crash window: first swap rename done, second not yet
    os.rename(data, data + ".compact.old")

    catalog.clone_table("cc", "cc2")
    assert catalog.read("cc2").count() == 10
    assert catalog.read("cc").count() == 10


def _plant_uncommitted_copy(catalog, name, with_footer):
    """Copy one committed data file under the next, never-committed
    epoch stamp: what a writer killed inside its move-in leaves behind
    (a cstore move renames ``x.cstore`` before ``x.cstore.footer``)."""
    import shutil

    meta = catalog._load_meta(name)
    src = catalog._visible_files(meta)[0]
    fn = os.path.basename(src)
    dest = os.path.join(os.path.dirname(src),
                        f"e{meta.write_epoch + 1:012d}-{fn[14:]}")
    shutil.copy(src, dest)
    if with_footer:
        shutil.copy(src + ".footer", dest + ".footer")
    return meta.write_epoch


def test_killed_cstore_insert_keeps_table_readable(spark, catalog):
    """A cstore insert killed between renaming a data file and its
    footer leaves a footerless file stamped above the committed epoch.
    Readers see only committed files, so the table reads its committed
    rows, whole and projected, before any writer cleans up."""
    catalog.create_table("kc", "a long, b long", storage_format="cstore")
    catalog.insert("kc", spark.range(10).selectExpr("id as a", "id as b"))
    _plant_uncommitted_copy(catalog, "kc", with_footer=False)

    assert sorted(r.a for r in catalog.read("kc").collect()) == \
        list(range(10))
    assert catalog.read("kc", columns=["b"]).count() == 10
    assert catalog.row_count("kc") == 10


@pytest.mark.parametrize("with_footer", [True, False])
def test_cstore_read_pinned_to_its_snapshot(spark, catalog, with_footer):
    """read() of a cstore table opens the files of the snapshot it was
    built on: a batch another writer moves in before the query runs, not
    yet committed, adds no rows (with its footer landed) and breaks
    nothing (without it)."""
    catalog.create_table("pin", "a long", storage_format="cstore")
    catalog.insert("pin", spark.range(10).selectExpr("id as a"))
    df = catalog.read("pin")
    _plant_uncommitted_copy(catalog, "pin", with_footer=with_footer)

    assert sorted(r.a for r in df.collect()) == list(range(10))


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_snapshot_past_current_epoch_refused(spark, catalog, fmt):
    """A snapshot epoch above the committed one names rows no commit
    made visible: read(as_of_epoch=...) and clone_table(as_of_epoch=...)
    refuse it with the current epoch, like a snapshot below the floor."""
    catalog.create_table("fe", "a long", storage_format=fmt)
    catalog.insert("fe", spark.range(10).selectExpr("id as a"))
    epoch = _plant_uncommitted_copy(catalog, "fe",
                                    with_footer=fmt == "cstore")

    assert catalog.read("fe").count() == 10
    assert catalog.read("fe", as_of_epoch=epoch).count() == 10
    with pytest.raises(CStoreError, match=f"current epoch {epoch}"):
        catalog.read("fe", as_of_epoch=epoch + 1)
    with pytest.raises(CStoreError, match=f"current epoch {epoch}"):
        catalog.clone_table("fe", "fe_clone", as_of_epoch=epoch + 5)
    assert not catalog.exists("fe_clone")


def test_copy_to_stdout_and_program_write_one_header(spark, catalog,
                                                     tmp_path):
    """COPY ... TO STDOUT / PROGRAM WITH HEADER writes the header once,
    first, however many part files the export stages."""
    import io as _io

    from cstore_fdw_spark.io import copy_to_program, copy_to_stdout

    catalog.create_table("h", "a long, b long")
    catalog.insert("h", spark.range(40).repartition(4)
                   .selectExpr("id as a", "id * 2 as b"))
    expected = ["a,b"] + sorted(f"{i},{2 * i}" for i in range(40))

    out = _io.StringIO()
    n = copy_to_stdout(catalog, "h", out, header=True)
    lines = out.getvalue().splitlines()
    assert n == len(out.getvalue())
    assert [lines[0]] + sorted(lines[1:]) == expected

    sink = tmp_path / "sink.csv"
    copy_to_program(catalog, "h", f"cat > {sink}", header=True)
    lines = sink.read_text().splitlines()
    assert [lines[0]] + sorted(lines[1:]) == expected


# --------------------------------------------------------------------------
# Emptying commits and metadata saves race no writer: TRUNCATE, a DELETE
# of every row and a MERGE that leaves none commit through the locked
# tombstone commit, and every load-mutate-save of the metadata re-loads
# it under the writer lock.

def _inject_insert_at_commits(monkeypatch, spark, rows):
    """Make the first of truncate / _commit_partial / _commit_swap
    commit an insert of ``rows`` (k = v) first: a concurrent writer
    landing between a statement's read snapshot and its commit."""
    from cstore_fdw_spark.catalog import CStoreCatalog
    orig_truncate = CStoreCatalog.truncate
    orig_swap = CStoreCatalog._commit_swap
    orig_partial = CStoreCatalog._commit_partial
    state = {"injected": False}

    def inject(self, name):
        if not state["injected"]:
            state["injected"] = True
            self.insert(name, spark.createDataFrame(
                [(k, k) for k in rows], "k long, v long"))

    def racy_truncate(self, *names):
        inject(self, names[0])
        return orig_truncate(self, *names)

    def racy_swap(self, name, base_epoch, tmp_path, mutate=None):
        inject(self, name)
        return orig_swap(self, name, base_epoch, tmp_path, mutate=mutate)

    def racy_partial(self, name, base_epoch, staged, dropped):
        inject(self, name)
        return orig_partial(self, name, base_epoch, staged, dropped)

    monkeypatch.setattr(CStoreCatalog, "truncate", racy_truncate)
    monkeypatch.setattr(CStoreCatalog, "_commit_swap", racy_swap)
    monkeypatch.setattr(CStoreCatalog, "_commit_partial", racy_partial)
    return state


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_truncate_between_insert_stage_and_commit_keeps_the_insert(
        spark, catalog, monkeypatch, fmt):
    """TRUNCATE removes committed files only: an insert staged before
    it and committed after it keeps its rows (an unlocked truncate
    deleted the insert's stage and lock file, and the insert committed
    an empty epoch)."""
    from cstore_fdw_spark.catalog import CStoreCatalog
    catalog.create_table("tr_ins", "k long", storage_format=fmt)
    catalog.insert("tr_ins", spark.range(3).selectExpr("id as k"))
    orig_stage = CStoreCatalog._stage
    fired = []

    def racy_stage(self, meta, df):
        staged = orig_stage(self, meta, df)
        if not fired:
            fired.append(1)
            self.truncate(meta.name)  # between the stage and the commit
        return staged

    monkeypatch.setattr(CStoreCatalog, "_stage", racy_stage)
    catalog.insert("tr_ins", spark.range(100, 105).selectExpr("id as k"))
    monkeypatch.undo()
    assert fired
    assert sorted(r.k for r in catalog.read("tr_ins").collect()) \
        == list(range(100, 105))
    assert catalog.row_count("tr_ins") == 5


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_emptying_delete_retries_when_concurrent_insert_commits(
        spark, catalog, monkeypatch, fmt):
    """A DELETE matching every committed row empties the table through
    the epoch-checked commit: a batch committed after the DELETE's scan
    refuses it, and the retry deletes only what it matches."""
    catalog.create_table("race_empty", "k long, v long",
                         storage_format=fmt)
    catalog.insert("race_empty",
                   spark.range(10).selectExpr("id as k", "id as v"))
    state = _inject_insert_at_commits(monkeypatch, spark, range(100, 105))
    assert catalog.delete_where("race_empty", "k < 10") == 10
    monkeypatch.undo()
    assert state["injected"]
    assert {r.k for r in catalog.read("race_empty").collect()} \
        == set(range(100, 105))


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_emptying_merge_conflict_surfaces_error_and_loses_nothing(
        spark, catalog, monkeypatch, fmt):
    """A MERGE that leaves no row commits like every MERGE: a batch
    committed after its join refuses it with the serialization error,
    and the old rows and the batch are both kept."""
    from cstore_fdw_spark.catalog import CStoreConcurrentWriteError
    catalog.create_table("race_mempty", "k long, v long",
                         storage_format=fmt)
    catalog.insert("race_mempty",
                   spark.range(5).selectExpr("id as k", "id as v"))
    state = _inject_insert_at_commits(monkeypatch, spark, range(100, 103))
    empty = spark.createDataFrame([], "k long, v long")
    with pytest.raises(CStoreConcurrentWriteError):
        catalog.merge_into("race_mempty", empty, on="k",
                           when_not_matched_by_source="delete")
    monkeypatch.undo()
    assert state["injected"]
    assert {(r.k, r.v) for r in catalog.read("race_mempty").collect()} \
        == {(i, i) for i in range(5)} | {(i, i) for i in range(100, 103)}
    assert catalog.current_epoch("race_mempty") == 2
    # re-run after the conflict: the table empties, history ends there
    catalog.merge_into("race_mempty", empty, on="k",
                       when_not_matched_by_source="delete")
    assert catalog.row_count("race_mempty") == 0
    with pytest.raises(CStoreError, match="history floor"):
        catalog.read("race_mempty", as_of_epoch=2)


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_emptying_delete_keeps_lock_and_ingest_ledger(
        spark, catalog, tmp_path, fmt):
    """A DELETE of every row removes data files only: the writer lock
    and the stream-ingest ledger stay, so a replayed batch is still
    suppressed afterwards."""
    from cstore_fdw_spark.streaming.ingest import batch_writer
    catalog.create_table("del_all", "a long", storage_format=fmt)
    write = batch_writer(catalog, "del_all", str(tmp_path / "ckpt"))
    batch = spark.range(4).selectExpr("id as a")
    write(batch, 0)
    assert catalog.delete_where("del_all", "a >= 0") == 4
    assert os.path.exists(os.path.join(catalog.table_path("del_all"),
                                       "_cstore_writer.lock"))
    write(batch, 0)  # a replay of the committed batch stays a no-op
    assert catalog.row_count("del_all") == 0
    write(batch, 1)
    assert catalog.row_count("del_all") == 4


def test_register_table_does_not_clobber_concurrent_insert(
        spark, catalog, monkeypatch):
    """register_table records its session-catalog name on a meta
    re-loaded under the writer lock: an insert committed during its
    CREATE TABLE stays visible, also across the next writer's orphan
    GC (a meta loaded before the DDL and saved after it rolled the
    insert's epoch back)."""
    catalog.create_table("reg_race", "a long")
    catalog.insert("reg_race", spark.range(10).selectExpr("id as a"))
    session = type(spark)
    orig_sql = session.sql
    fired = []

    def racy_sql(self, query, *args, **kwargs):
        if not fired and query.startswith("CREATE TABLE"):
            fired.append(1)
            catalog.insert("reg_race",
                           spark.range(100, 105).selectExpr("id as a"))
        return orig_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(session, "sql", racy_sql)
    try:
        catalog.register_table("reg_race", "reg_race_spark")
    finally:
        monkeypatch.undo()
    try:
        assert fired
        assert catalog.row_count("reg_race") == 15
        catalog.insert("reg_race", spark.range(200, 201)
                       .selectExpr("id as a"))
        assert catalog.row_count("reg_race") == 16
        assert catalog._load_meta("reg_race").registered_names \
            == ["reg_race_spark"]
    finally:
        catalog.drop_table("reg_race")  # drops the registration too


def test_rename_table_does_not_clobber_concurrent_insert(
        spark, catalog, monkeypatch):
    """rename_table saves a meta re-loaded under the writer lock: an
    insert committed while it drops the session-catalog registrations
    moves with the table."""
    from cstore_fdw_spark.catalog import CStoreCatalog
    catalog.create_table("ren_race", "a long")
    catalog.insert("ren_race", spark.range(10).selectExpr("id as a"))
    orig_drop = CStoreCatalog._drop_registered
    fired = []

    def racy_drop(self, meta):
        if not fired:
            fired.append(1)
            self.insert("ren_race",
                        spark.range(100, 105).selectExpr("id as a"))
        return orig_drop(self, meta)

    monkeypatch.setattr(CStoreCatalog, "_drop_registered", racy_drop)
    catalog.rename_table("ren_race", "ren_race2")
    monkeypatch.undo()
    assert fired and not catalog.exists("ren_race")
    assert catalog.row_count("ren_race2") == 15
    catalog.insert("ren_race2", spark.range(200, 201).selectExpr("id as a"))
    assert catalog.row_count("ren_race2") == 16
