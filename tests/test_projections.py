"""C-Store-style projections: sorted redundant copies synced by epoch
deltas, chosen by the reader only when fresh, crash-safe on refresh."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import cstore_fdw_spark.catalog as catalog_mod
import cstore_fdw_spark.projections as proj_mod
from cstore_fdw_spark.catalog import CStoreError
from cstore_fdw_spark.plans import scan_metrics
from cstore_fdw_spark.projections import (
    best_projection, create_projection, list_projections,
    read_optimized, refresh_projection)


def _base_df(spark, n=40_000):
    # hash-scattered k: file order uncorrelated with k, so the BASE's
    # zone maps cannot prune a k-range; the sorted projection can
    return (spark.range(0, n)
            .select((F.col("id") * 2654435761 % 100_000).alias("k"),
                    F.col("id").alias("v")))


def test_projection_prunes_where_base_cannot(spark, catalog):
    catalog.create_table("b", "k long, v long", block_row_count=1000)
    catalog.insert("b", _base_df(spark))
    create_projection(catalog, "b", "b_byk", sort_by=["k"])
    r = refresh_projection(catalog, "b_byk")
    assert r["mode"] == "incremental" and r["to_epoch"] == 1

    pred = (F.col("k") >= 10) & (F.col("k") < 60)
    m_base = scan_metrics(catalog.read("b").filter(pred))
    m_proj = scan_metrics(catalog.read("b_byk").filter(pred))
    assert m_proj["result_rows"] == m_base["result_rows"] > 0
    assert m_proj["scan_rows"] < m_base["scan_rows"] / 4, (m_proj, m_base)

    # same rows, different physical order
    a = sorted(tuple(x) for x in catalog.read("b").collect())
    p = sorted(tuple(x) for x in catalog.read("b_byk").collect())
    assert a == p


def test_projection_incremental_reads_only_delta(spark, catalog,
                                                 monkeypatch):
    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "p", sort_by=["k"])
    for i in range(3):
        catalog.insert("b", spark.createDataFrame(
            [(i, i)], "k long, v long"))
    refresh_projection(catalog, "p")  # watermark -> 3

    seen = []
    orig = catalog_mod.CStoreCatalog._scan

    def spy(self, meta, paths, *args, **kwargs):
        seen.append(sorted(paths))
        return orig(self, meta, paths, *args, **kwargs)

    monkeypatch.setattr(catalog_mod.CStoreCatalog, "_scan", spy)
    catalog.insert("b", spark.createDataFrame([(9, 9)], "k long, v long"))
    r = refresh_projection(catalog, "p")
    assert r["mode"] == "incremental"
    base_reads = [ps for ps in seen if ps and all("/b/" in p for p in ps)]
    assert base_reads and all(
        all("e000000000004-" in p for p in ps) for ps in base_reads)
    assert catalog.read("p").count() == 4


def test_projection_refresh_crash_never_duplicates(spark, catalog,
                                                   monkeypatch):
    """Both crash windows: before the append (redo lands delta once)
    and after the append (recovery finalizes, no re-append)."""
    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "p", sort_by=["k"])
    catalog.insert("b", spark.createDataFrame([(1, 1)], "k long, v long"))
    refresh_projection(catalog, "p")
    catalog.insert("b", spark.createDataFrame([(2, 2)], "k long, v long"))

    real_insert = catalog_mod.CStoreCatalog.insert

    def crash_insert(self, name, df, overwrite=False):
        if name == "p":
            raise RuntimeError("injected pre-append crash")
        return real_insert(self, name, df, overwrite)

    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", crash_insert)
    with pytest.raises(RuntimeError, match="pre-append"):
        refresh_projection(catalog, "p")
    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", real_insert)
    assert refresh_projection(catalog, "p")["mode"] == "incremental"
    assert catalog.read("p").count() == 2  # delta landed exactly once

    # crash AFTER the append, before the watermark finalize
    catalog.insert("b", spark.createDataFrame([(3, 3)], "k long, v long"))
    real_save = proj_mod._PROJECTIONS.save_spec
    fired = []

    def crash_finalize(cat, name, spec):
        if spec.get("pending") is None and not fired:
            fired.append(1)
            raise RuntimeError("injected post-append crash")
        return real_save(cat, name, spec)

    monkeypatch.setattr(proj_mod._PROJECTIONS, "save_spec", crash_finalize)
    with pytest.raises(RuntimeError, match="post-append"):
        refresh_projection(catalog, "p")
    monkeypatch.setattr(proj_mod._PROJECTIONS, "save_spec", real_save)
    assert refresh_projection(catalog, "p")["mode"] == "noop"
    assert catalog.read("p").count() == 3  # NOT 4: no double append


def test_projection_rebuild_on_rewrite_and_recreate(spark, catalog):
    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "p", sort_by=["k"])
    catalog.insert("b", spark.createDataFrame(
        [(1, 1), (2, 2)], "k long, v long"))
    refresh_projection(catalog, "p")

    catalog.delete_where("b", "k = 2")
    r = refresh_projection(catalog, "p")
    assert r["mode"] == "full"
    assert [tuple(x) for x in catalog.read("p").collect()] == [(1, 1)]

    catalog.drop_table("b")
    catalog.create_table("b", "k long, v long")
    catalog.insert("b", spark.createDataFrame([(7, 7)], "k long, v long"))
    r = refresh_projection(catalog, "p")
    assert r["mode"] == "full"
    assert [tuple(x) for x in catalog.read("p").collect()] == [(7, 7)]


def test_best_projection_freshness_guard(spark, catalog):
    """Selection prefers the matching sorted copy ONLY while fresh;
    a base commit past the watermark falls back to the base (never
    silently missing rows), refresh restores the pick."""
    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "p_k", sort_by=["k"])
    create_projection(catalog, "b", "p_v", sort_by=["v", "k"])
    catalog.insert("b", spark.createDataFrame([(1, 10)], "k long, v long"))
    refresh_projection(catalog, "p_k")
    refresh_projection(catalog, "p_v")

    assert sorted(list_projections(catalog, "b")) == ["p_k", "p_v"]
    assert best_projection(catalog, "b", ["k"]) == "p_k"
    assert best_projection(catalog, "b", ["v"]) == "p_v"
    assert best_projection(catalog, "b", ["nope"]) == "b"

    catalog.insert("b", spark.createDataFrame([(2, 20)], "k long, v long"))
    # stale now: reader must see the new row, so base wins
    assert best_projection(catalog, "b", ["k"]) == "b"
    assert read_optimized(catalog, "b", ["k"]).count() == 2
    refresh_projection(catalog, "p_k")
    assert best_projection(catalog, "b", ["k"]) == "p_k"
    assert read_optimized(catalog, "b", ["k"]).count() == 2

    with pytest.raises(CStoreError, match="not a projection"):
        refresh_projection(catalog, "b")
    with pytest.raises(CStoreError, match="not in"):
        create_projection(catalog, "b", "bad", sort_by=["zz"])


def test_streaming_projection_matches_batch_refresh(spark, catalog,
                                                    tmp_path):
    """The projection streaming twin: base epochs applied as sorted
    micro-batch appends land the same ROWS as the batch refresh (order
    differs — content equality is the contract)."""
    from cstore_fdw_spark.streaming.projections import (
        maintain_projection_stream)

    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "pb", sort_by=["k"])
    create_projection(catalog, "b", "ps", sort_by=["k"])
    for rows in ([(5, 1), (1, 2)], [(3, 3)], [(9, 4), (2, 5)]):
        catalog.insert("b", spark.createDataFrame(rows, "k long, v long"))

    refresh_projection(catalog, "pb")
    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    q.awaitTermination(120)

    rows = lambda t: sorted(tuple(r) for r in catalog.read(t).collect())
    assert rows("ps") == rows("pb") == rows("b")
    # another epoch: both twins advance and agree again
    catalog.insert("b", spark.createDataFrame([(0, 6)], "k long, v long"))
    refresh_projection(catalog, "pb")
    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    q.awaitTermination(120)
    assert rows("ps") == rows("pb") == rows("b")


def test_streaming_projection_fails_loudly_after_base_rewrite(
        spark, catalog, tmp_path):
    """ADVICE r8 (medium): a base rewrite (compact) re-delivers
    rewritten rows to the projection's file stream as fresh batches —
    double-appends. The ledger's floor/identity guard must fail the
    stream loudly instead, leaving the projection uncorrupted."""
    from cstore_fdw_spark.streaming.projections import (
        maintain_projection_stream)

    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "ps", sort_by=["k"])
    catalog.insert("b", spark.createDataFrame(
        [(5, 1), (1, 2)], "k long, v long"))
    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    q.awaitTermination(120)
    before = sorted(tuple(r) for r in catalog.read("ps").collect())
    assert len(before) == 2

    catalog.insert("b", spark.createDataFrame([(3, 3)], "k long, v long"))
    catalog.compact("b")

    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    with pytest.raises(Exception, match="rewritten under a running stream"):
        q.awaitTermination(120)
    assert sorted(tuple(r) for r in catalog.read("ps").collect()) == before


def test_streaming_projection_crash_between_append_and_ledger(
        spark, catalog, tmp_path, monkeypatch):
    """Crash injected between the projection stream's append and its
    ledger finalize: the restarted stream replays the batch, recovery
    sees the append's epoch stamp, finishes the ledger entry, and does
    NOT append the batch a second time."""
    import cstore_fdw_spark.derived as derived
    from cstore_fdw_spark.streaming.projections import (
        maintain_projection_stream)

    catalog.create_table("b", "k long, v long")
    create_projection(catalog, "b", "ps", sort_by=["k"])
    # one partition per insert: one non-empty file each, so batch 0 (one
    # file per micro-batch) carries rows whose double append would show
    for rows in ([(5, 1), (1, 2), (3, 3)], [(9, 4)]):
        catalog.insert("b", spark.createDataFrame(
            rows, "k long, v long").coalesce(1))

    real_save = derived._save_ledger
    calls = []

    def crash_on_finalize(path, ledger):
        entry = next(iter(ledger.values()))
        if entry.get("pending") is None and entry.get("last_batch") == 0:
            calls.append(1)
            raise RuntimeError("injected ledger-finalize crash")
        return real_save(path, ledger)

    monkeypatch.setattr(derived, "_save_ledger", crash_on_finalize)
    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash fails the streaming query
    assert calls, "injection never fired"
    monkeypatch.setattr(derived, "_save_ledger", real_save)
    landed = catalog.read("ps").count()
    assert landed > 0  # batch 0's append committed before the crash

    # restart replays batch 0; recovery must finish it, not re-append
    q = maintain_projection_stream(catalog, "ps", str(tmp_path / "pck"))
    q.awaitTermination(120)
    rows = lambda t: sorted(tuple(r) for r in catalog.read(t).collect())
    assert rows("ps") == rows("b")  # a double append repeats batch 0


def test_projection_routed_scan_prunes(spark, sf_dir):
    """The REGISTERED projection query (verdict r8 task 4): the scan
    must be served by the o_custkey-sorted projection and its zone maps
    must admit far fewer rows than the table holds — the base's natural
    o_orderkey order cannot prune this filter, so pruning here proves
    routing happened."""
    from cstore_fdw_spark.operators import load_all

    df = load_all()["projection_routed_scan"].builder(spark, sf_dir)
    total = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    m = scan_metrics(df)
    expected = (spark.read.parquet(f"{sf_dir}/orders.parquet")
                .filter(F.col("o_custkey").between(100, 120)).count())
    assert m["result_rows"] == expected
    assert m["scan_rows"] < total / 2, m
