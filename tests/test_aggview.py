"""Incremental aggregate views: refreshes scan only the epochs since the
watermark, merge bit-exactly with stored state, and fall back to a full
recompute whenever the source's history collapses (rewrites)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import cstore_fdw_spark.aggview as aggview_mod
import cstore_fdw_spark.catalog as catalog_mod
from cstore_fdw_spark.aggview import create_agg_view, refresh_agg_view
from cstore_fdw_spark.catalog import CStoreError


def _full(spark, catalog, source, keys, measures):
    df = catalog.read(source).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[e for m in measures for e in
          (F.sum(m).alias(f"{m}_sum"), F.min(m).alias(f"{m}_min"),
           F.max(m).alias(f"{m}_max"))])
    return sorted(tuple(r) for r in df.collect())


def _view(catalog):
    return sorted(tuple(r) for r in catalog.read("v").collect())


def test_incremental_refresh_matches_full_recompute(spark, catalog):
    catalog.create_table("src", "g string, x long, y double")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x", "y"])

    def batch(rows):
        catalog.insert("src", spark.createDataFrame(
            rows, "g string, x long, y double"))

    batch([("a", 1, 0.5), ("a", 3, 1.5), ("b", 10, -2.0)])
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental" and r["to_epoch"] == 1
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x", "y"])

    # second batch: new group + updates to both existing groups
    batch([("a", 7, 9.0), ("b", -1, 4.0), ("c", 100, 0.0)])
    r = refresh_agg_view(catalog, "v")
    assert r == {"mode": "incremental", "from_epoch": 1, "to_epoch": 2}
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x", "y"])

    # no new commits -> noop, state untouched
    before = _view(catalog)
    assert refresh_agg_view(catalog, "v")["mode"] == "noop"
    assert _view(catalog) == before


def test_incremental_reads_only_delta_files(spark, catalog, monkeypatch):
    """The incremental path must hand _scan ONLY the files stamped
    after the watermark — the 100 TB contract."""
    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    for i in range(3):
        catalog.insert("src", spark.createDataFrame(
            [("a", i), ("b", 10 * i)], "g string, x long"))
    refresh_agg_view(catalog, "v")  # watermark -> 3

    seen: list[list[str]] = []
    orig = catalog_mod.CStoreCatalog._scan

    def spy(self, meta, paths, *args, **kwargs):
        seen.append(sorted(paths))
        return orig(self, meta, paths, *args, **kwargs)

    monkeypatch.setattr(catalog_mod.CStoreCatalog, "_scan", spy)
    catalog.insert("src", spark.createDataFrame(
        [("a", 999)], "g string, x long"))
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental"
    delta_reads = [ps for ps in seen
                   if ps and all("/src/" in p for p in ps)]
    assert delta_reads and all(
        all("e000000000004-" in p for p in ps) for ps in delta_reads)
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])


def test_rewrite_forces_full_recompute(spark, catalog):
    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "g string, x long"))
    refresh_agg_view(catalog, "v")

    catalog.delete_where("src", "x = 2")  # history collapses
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])
    assert {(t[0], t[1]) for t in _view(catalog)} == {("a", 1), ("b", 1)}

    # compact also moves the floor: full again, values unchanged
    catalog.insert("src", spark.createDataFrame(
        [("c", 9)], "g string, x long"))
    catalog.compact("src")
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])


def test_agg_view_validation(spark, catalog):
    catalog.create_table("src", "g string, x long")
    with pytest.raises(CStoreError, match="not in source"):
        create_agg_view(catalog, "v", "src", ["g"], ["nope"])
    with pytest.raises(CStoreError, match="at least one"):
        create_agg_view(catalog, "v", "src", [], ["x"])
    with pytest.raises(CStoreError, match="non-numeric"):
        create_agg_view(catalog, "v", "src", ["x"], ["g"])
    with pytest.raises(CStoreError, match="not an aggregate view"):
        catalog.create_table("plain", "a int")
        refresh_agg_view(catalog, "plain")


def test_refresh_crash_after_state_commit_never_double_counts(
        spark, catalog, monkeypatch):
    """Crash INJECTED between the state commit and the watermark
    finalize — the exact window where the pre-r8 design re-merged the
    delta on the next refresh and silently doubled n_rows/sums. The
    pending-record recovery must see the committed view epoch stamp,
    finalize the watermark, and NOT re-merge (mirror of the insert
    protocol's test_insert_crash_batch_invisible_and_collected)."""
    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("b", 2)], "g string, x long"))
    refresh_agg_view(catalog, "v")
    catalog.insert("src", spark.createDataFrame(
        [("a", 10)], "g string, x long"))

    real_save = aggview_mod._VIEWS.save_spec

    def crash_on_finalize(cat, view, spec):
        if spec.get("pending") is None and spec.get("last_epoch", 0) == 2:
            raise RuntimeError("injected crash before watermark finalize")
        return real_save(cat, view, spec)

    monkeypatch.setattr(aggview_mod._VIEWS, "save_spec", crash_on_finalize)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_agg_view(catalog, "v")
    monkeypatch.setattr(aggview_mod._VIEWS, "save_spec", real_save)

    # state committed but watermark is stale + pending: recovery must
    # finalize (noop), not re-merge epoch 2's delta a second time
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "noop"
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])
    [(_, n_a, s_a, _, _)] = [t for t in _view(catalog) if t[0] == "a"]
    assert (n_a, s_a) == (2, 11)  # doubled would read (3, 21)


def test_refresh_crash_before_state_commit_redoes_cleanly(
        spark, catalog, monkeypatch):
    """Crash between the pending write and the state commit: recovery
    finds no view file stamped with the pending epoch, discards the
    record, and the redo merges the delta against the intact old state
    exactly once."""
    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1)], "g string, x long"))
    refresh_agg_view(catalog, "v")
    catalog.insert("src", spark.createDataFrame(
        [("a", 10)], "g string, x long"))

    real_insert = catalog_mod.CStoreCatalog.insert

    def crash_on_state_commit(self, name, df, overwrite=False):
        if name == "v":
            raise RuntimeError("injected crash before state commit")
        return real_insert(self, name, df, overwrite)

    monkeypatch.setattr(
        catalog_mod.CStoreCatalog, "insert", crash_on_state_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_agg_view(catalog, "v")
    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", real_insert)

    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental" and r["from_epoch"] == 1
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])
    [(_, n_a, s_a, _, _)] = _view(catalog)
    assert (n_a, s_a) == (2, 11)


def test_full_recompute_pinned_to_snapshot_under_concurrent_insert(
        spark, catalog, monkeypatch):
    """A source commit landing between the refresh's metadata snapshot
    and its execution must NOT be folded into state stamped with the
    older watermark (it would then merge AGAIN on the next incremental
    refresh = double count). The pinned ``_scan`` list excludes
    it; the next refresh picks it up exactly once."""
    _check_full_recompute_pinned(spark, catalog, monkeypatch)


def test_full_recompute_pinned_on_cstore_source(spark, catalog,
                                                monkeypatch):
    """The same pin over a cstore source, whose data source lists a
    directory only when the query runs: the refresh must read its
    snapshot's files, never the data directory."""
    _check_full_recompute_pinned(spark, catalog, monkeypatch,
                                 storage_format="cstore")


def _check_full_recompute_pinned(spark, catalog, monkeypatch, **options):
    catalog.create_table("src", "g string, x long", **options)
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "g string, x long"))
    refresh_agg_view(catalog, "v")
    catalog.delete_where("src", "x = 2")  # floor up -> next refresh full
    pre_race_epoch = catalog.current_epoch("src")

    late = spark.createDataFrame([("a", 100)], "g string, x long")
    real_insert = catalog_mod.CStoreCatalog.insert
    fired = []

    def racing(self, name, df, overwrite=False):
        # land a source commit mid-refresh, right before the view's
        # state commit executes the (lazy) full-recompute plan
        if name == "v" and not fired:
            fired.append(1)
            real_insert(self, "src", late)
        return real_insert(self, name, df, overwrite)

    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", racing)
    r = refresh_agg_view(catalog, "v")
    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", real_insert)

    assert fired and r["mode"] == "full"
    assert r["to_epoch"] == pre_race_epoch  # watermark = the snapshot
    # the late row is NOT in the committed state...
    [(_, n_a, s_a, _, _)] = [t for t in _view(catalog) if t[0] == "a"]
    assert (n_a, s_a) == (1, 1)
    # ...and arrives exactly once on the next refresh
    r2 = refresh_agg_view(catalog, "v")
    assert r2["mode"] == "incremental" and r2["from_epoch"] == pre_race_epoch
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])
    [(_, n_a, s_a, _, _)] = [t for t in _view(catalog) if t[0] == "a"]
    assert (n_a, s_a) == (2, 101)


def test_drop_recreate_source_forces_full_recompute(spark, catalog):
    """Same-name drop+recreate restarts the source's epoch counter, so
    the old watermark would read as 'up to date' and serve state from
    the DEAD table. The stored created_at identity unmasks it."""
    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "v", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("a", 2)], "g string, x long"))
    refresh_agg_view(catalog, "v")
    [(g, n, s, _, _)] = _view(catalog)
    assert (g, n, s) == ("a", 2, 3)

    catalog.drop_table("src")
    catalog.create_table("src", "g string, x long")
    catalog.insert("src", spark.createDataFrame(
        [("b", 7)], "g string, x long"))  # epoch 1 again — same watermark

    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["x"])
    [(g, n, s, _, _)] = _view(catalog)
    assert (g, n, s) == ("b", 1, 7)
    # and the identity is re-pinned: next refresh is an ordinary noop
    assert refresh_agg_view(catalog, "v")["mode"] == "noop"


def test_agg_view_survives_source_schema_evolution(spark, catalog):
    """Backfill defaults flow through the delta read: a measure column
    added with a default aggregates the values the READER returns."""
    catalog.create_table("src", "g string, x long")
    catalog.insert("src", spark.createDataFrame(
        [("a", 1)], "g string, x long"))
    catalog.add_column("src", "w", "long", default=5)
    create_agg_view(catalog, "v", "src", ["g"], ["w"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 2, 7)], "g string, x long, w long"))
    refresh_agg_view(catalog, "v")
    assert _view(catalog) == _full(spark, catalog, "src", ["g"], ["w"])
    [(g, n, s, mn, mx)] = _view(catalog)
    assert (g, n, s, mn, mx) == ("a", 2, 12, 5, 7)


def _jfull(spark, catalog, keys, measures):
    df = (catalog.read("f").join(catalog.read("d"), ["dk"])
          .groupBy(*keys).agg(
              F.count(F.lit(1)).alias("n_rows"),
              *[e for m in measures for e in
                (F.sum(m).alias(f"{m}_sum"), F.min(m).alias(f"{m}_min"),
                 F.max(m).alias(f"{m}_max"))]))
    return sorted(tuple(r) for r in df.collect())


def test_join_agg_view_incremental_both_sides(spark, catalog):
    """Delta-join maintenance: fact-only appends (ΔF ⋈ D), dim-only
    appends retroactively joining OLD fact rows (F_old ⋈ ΔD), and
    both-sides appends in one interval all merge to exactly the full
    recompute."""
    from cstore_fdw_spark.aggview import (
        create_join_agg_view, refresh_join_agg_view)

    catalog.create_table("f", "dk long, x long")
    catalog.create_table("d", "dk long, region string")
    create_join_agg_view(catalog, "jv", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    catalog.insert("d", spark.createDataFrame(
        [(1, "eu"), (2, "us")], "dk long, region string"))
    catalog.insert("f", spark.createDataFrame(
        [(1, 10), (1, 20), (2, 5), (3, 99)], "dk long, x long"))
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "incremental"
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])

    # fact-only append
    catalog.insert("f", spark.createDataFrame(
        [(2, 7)], "dk long, x long"))
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "incremental" and r["to_fact_epoch"] == 2
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])

    # dim-only append: dk=3's fact row (x=99) retroactively joins
    catalog.insert("d", spark.createDataFrame(
        [(3, "eu")], "dk long, region string"))
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "incremental" and r["to_dim_epoch"] == 2
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])
    [(_, n_eu, s_eu, _, _)] = [t for t in _view2(catalog, "jv")
                               if t[0] == "eu"]
    assert (n_eu, s_eu) == (3, 129)

    # both sides in one interval, then noop
    catalog.insert("f", spark.createDataFrame(
        [(4, 1)], "dk long, x long"))
    catalog.insert("d", spark.createDataFrame(
        [(4, "ap")], "dk long, region string"))
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "incremental"
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])
    assert refresh_join_agg_view(catalog, "jv")["mode"] == "noop"


def _view2(catalog, name):
    return sorted(tuple(r) for r in catalog.read(name).collect())


def test_join_agg_view_rewrite_and_crash(spark, catalog, monkeypatch):
    """A rewrite on EITHER side forces full recompute; the shared
    crash-atomic commit protocol protects join views identically."""
    from cstore_fdw_spark.aggview import (
        create_join_agg_view, refresh_join_agg_view)

    catalog.create_table("f", "dk long, x long")
    catalog.create_table("d", "dk long, region string")
    create_join_agg_view(catalog, "jv", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    catalog.insert("d", spark.createDataFrame(
        [(1, "eu"), (2, "us")], "dk long, region string"))
    catalog.insert("f", spark.createDataFrame(
        [(1, 10), (2, 5), (2, 2)], "dk long, x long"))
    refresh_join_agg_view(catalog, "jv")

    catalog.delete_where("f", "x = 2")  # fact history collapses
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "full"
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])

    # crash between state commit and finalize: recovery must not
    # re-merge the delta
    catalog.insert("f", spark.createDataFrame(
        [(1, 100)], "dk long, x long"))
    real_save = aggview_mod._VIEWS.save_spec
    fired = []

    def crash_on_finalize(cat, view, spec):
        if spec.get("pending") is None and fired == []:
            fired.append(1)
            raise RuntimeError("injected crash")
        return real_save(cat, view, spec)

    monkeypatch.setattr(aggview_mod._VIEWS, "save_spec", crash_on_finalize)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_join_agg_view(catalog, "jv")
    monkeypatch.setattr(aggview_mod._VIEWS, "save_spec", real_save)
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "noop"
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])
    [(_, n_eu, s_eu, _, _)] = [t for t in _view2(catalog, "jv")
                               if t[0] == "eu"]
    assert (n_eu, s_eu) == (2, 110)  # doubled would read (3, 210)


def test_join_agg_view_validation(spark, catalog):
    from cstore_fdw_spark.aggview import create_join_agg_view

    catalog.create_table("f", "dk long, x long, shared string")
    catalog.create_table("d", "dk long, region string, shared string")
    with pytest.raises(CStoreError, match="both"):
        create_join_agg_view(catalog, "jv", "f", "d", on=["dk"],
                             keys=["region"], measures=["x"])
    catalog.create_table("d2", "dk long, region string")
    with pytest.raises(CStoreError, match="non-numeric"):
        create_join_agg_view(catalog, "jv", "f", "d2", on=["dk"],
                             keys=["region"], measures=["region"])
    with pytest.raises(CStoreError, match="not in"):
        create_join_agg_view(catalog, "jv", "f", "d2", on=["dk"],
                             keys=["nope"], measures=["x"])


def test_join_refresh_reads_only_delta_fact_files(spark, catalog,
                                                  monkeypatch):
    """The fact side of ΔF ⋈ D must hand _scan ONLY the fact files
    stamped after the fact watermark — a fact-only append never rescans
    old fact data (the 100 TB contract for star-schema views)."""
    from cstore_fdw_spark.aggview import (
        create_join_agg_view, refresh_join_agg_view)

    catalog.create_table("f", "dk long, x long")
    catalog.create_table("d", "dk long, region string")
    create_join_agg_view(catalog, "jv", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    catalog.insert("d", spark.createDataFrame(
        [(1, "eu")], "dk long, region string"))
    for i in range(3):
        catalog.insert("f", spark.createDataFrame(
            [(1, i)], "dk long, x long"))
    refresh_join_agg_view(catalog, "jv")  # fact watermark -> 3

    seen: list[list[str]] = []
    orig = catalog_mod.CStoreCatalog._scan

    def spy(self, meta, paths, *args, **kwargs):
        seen.append(sorted(paths))
        return orig(self, meta, paths, *args, **kwargs)

    monkeypatch.setattr(catalog_mod.CStoreCatalog, "_scan", spy)
    catalog.insert("f", spark.createDataFrame(
        [(1, 999)], "dk long, x long"))
    r = refresh_join_agg_view(catalog, "jv")
    assert r["mode"] == "incremental"
    fact_reads = [ps for ps in seen if ps and all("/f/" in p for p in ps)]
    # exactly two fact-side reads: the delta (epoch 4 only) and the
    # old-fact side of F_old x ΔD (empty dim delta -> join prunes it,
    # but the file list is still the <= watermark set)
    delta_reads = [ps for ps in fact_reads
                   if all("e000000000004-" in p for p in ps)]
    assert delta_reads, f"no delta-only fact read in {fact_reads}"
    assert _view2(catalog, "jv") == _jfull(spark, catalog,
                                           ["region"], ["x"])


# ------------------------------------------------------ HLL sketch views

def _hll_full_regs(catalog, source, keys, column):
    from cstore_fdw_spark.operators.analytics import hll_registers
    return sorted(tuple(r) for r in
                  hll_registers(catalog.read(source), keys, column)
                  .collect())


def test_hll_view_delta_refresh_register_equality(spark, catalog):
    """The maintained register table must be REGISTER-EQUAL to the
    batch rollup over the full source after every incremental refresh —
    the MAX-merge across epoch deltas is the same algebra that merges
    partitions, so no tolerance, exact row equality."""
    from cstore_fdw_spark.aggview import (
        create_hll_agg_view, hll_view_estimate)
    from cstore_fdw_spark.operators.analytics import (
        hll_estimate_from_registers, hll_registers)

    catalog.create_table("src", "g string, k long")
    create_hll_agg_view(catalog, "v", "src", keys=["g"], column="k")

    def batch(rows):
        catalog.insert("src", spark.createDataFrame(
            rows, "g string, k long"))

    batch([("a", i) for i in range(200)] + [("b", i) for i in range(50)])
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental" and r["to_epoch"] == 1
    assert _view(catalog) == _hll_full_regs(catalog, "src", ["g"], "k")

    # second append: overlapping keys (a: 100 repeats + 100 new) + new
    # group — repeats must not move any register (MAX idempotence)
    batch([("a", i) for i in range(100, 400)] + [("c", 7)])
    r = refresh_agg_view(catalog, "v")
    assert r == {"mode": "incremental", "from_epoch": 1, "to_epoch": 2}
    assert _view(catalog) == _hll_full_regs(catalog, "src", ["g"], "k")

    # noop leaves state untouched
    assert refresh_agg_view(catalog, "v")["mode"] == "noop"

    # the view's estimate == the batch finisher over a full-source
    # rollup (same registers in, same integer arithmetic through)
    est_view = {r["g"]: r["distinct_estimate"]
                for r in hll_view_estimate(catalog, "v").collect()}
    batch_regs = hll_registers(
        catalog.read("src").select(F.col("g").alias("grp"), "k"),
        ["grp"], "k")
    est_batch = {r["grp"]: r["distinct_estimate"]
                 for r in hll_estimate_from_registers(batch_regs).collect()}
    assert est_view == est_batch
    # sanity: estimates track the exact distinct counts (small range ->
    # linear counting regime, well within 10%)
    exact = {r["g"]: r["d"] for r in
             catalog.read("src").groupBy("g")
             .agg(F.countDistinct("k").alias("d")).collect()}
    for g, d in exact.items():
        assert abs(est_view[g] - d) <= max(3, 0.1 * d), (g, est_view[g], d)


def test_hll_view_rewrite_falls_back_to_full(spark, catalog):
    from cstore_fdw_spark.aggview import create_hll_agg_view

    catalog.create_table("src", "g string, k long")
    create_hll_agg_view(catalog, "v", "src", keys=["g"], column="k")
    catalog.insert("src", spark.createDataFrame(
        [("a", i) for i in range(100)], "g string, k long"))
    refresh_agg_view(catalog, "v")

    # a rewrite collapses history: registers set by deleted rows must
    # disappear, which only a full recompute can guarantee
    catalog.delete_where("src", "k >= 50")
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _hll_full_regs(catalog, "src", ["g"], "k")


def test_hll_view_crash_before_state_commit_redoes_cleanly(
        spark, catalog, monkeypatch):
    """The shared crash-atomic commit tail, exercised on the MAX-merge
    kind: a crash between the pending write and the state commit leaves
    the old state intact, and the redo merges the delta exactly once."""
    from cstore_fdw_spark.aggview import create_hll_agg_view

    catalog.create_table("src", "g string, k long")
    create_hll_agg_view(catalog, "v", "src", keys=["g"], column="k")
    catalog.insert("src", spark.createDataFrame(
        [("a", i) for i in range(40)], "g string, k long"))
    refresh_agg_view(catalog, "v")
    catalog.insert("src", spark.createDataFrame(
        [("a", i) for i in range(40, 80)], "g string, k long"))

    real_insert = catalog_mod.CStoreCatalog.insert

    def crash_on_state_commit(self, name, df, overwrite=False):
        if name == "v":
            raise RuntimeError("injected crash before state commit")
        return real_insert(self, name, df, overwrite)

    monkeypatch.setattr(
        catalog_mod.CStoreCatalog, "insert", crash_on_state_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        refresh_agg_view(catalog, "v")
    monkeypatch.setattr(catalog_mod.CStoreCatalog, "insert", real_insert)

    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental" and r["from_epoch"] == 1
    assert _view(catalog) == _hll_full_regs(catalog, "src", ["g"], "k")


def test_hll_view_validation_and_kind_guards(spark, catalog):
    from cstore_fdw_spark.aggview import (
        create_hll_agg_view, hll_view_estimate)

    catalog.create_table("src", "g string, k long")
    with pytest.raises(CStoreError, match="not in source"):
        create_hll_agg_view(catalog, "v", "src", ["g"], "nope")
    with pytest.raises(CStoreError, match="at least one key"):
        create_hll_agg_view(catalog, "v", "src", [], "k")
    with pytest.raises(CStoreError, match="cannot also be a key"):
        create_hll_agg_view(catalog, "v", "src", ["k"], "k")
    # a key named like a reserved state column would collide with the
    # register table's own output columns — rejected at create time
    catalog.create_table("src_res", "reg string, m_rho string, k long")
    with pytest.raises(CStoreError, match="reserved HLL state column"):
        create_hll_agg_view(catalog, "v", "src_res", ["reg"], "k")
    with pytest.raises(CStoreError, match="reserved HLL state column"):
        create_hll_agg_view(catalog, "v", "src_res",
                            ["reg", "m_rho"], "k")
    create_agg_view(catalog, "plain_v", "src", ["g"], ["k"])
    with pytest.raises(CStoreError, match="not an HLL sketch view"):
        hll_view_estimate(catalog, "plain_v")


# ---------------------------------------------------- Bloom filter views

def _bloom_full_bits(catalog, source, keys, column, m, k):
    from cstore_fdw_spark.operators.analytics import bloom_bits
    return sorted(tuple(r) for r in
                  bloom_bits(catalog.read(source), keys, column, m, k)
                  .collect())


def test_bloom_view_delta_refresh_bit_equality(spark, catalog):
    """The maintained set-bit table must equal the full-source filter
    after every incremental refresh (distinct-union OR merge), and the
    membership probe must honor the no-false-negative guarantee."""
    from cstore_fdw_spark.aggview import (
        bloom_view_membership, create_bloom_agg_view)

    catalog.create_table("src", "g string, k long")
    create_bloom_agg_view(catalog, "v", "src", keys=["g"], column="k",
                          m=256, k=3)

    def batch(rows):
        catalog.insert("src", spark.createDataFrame(
            rows, "g string, k long"))

    batch([("a", i) for i in range(50)])
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental"
    assert _view(catalog) == _bloom_full_bits(
        catalog, "src", ["g"], "k", 256, 3)

    # overlapping + new keys, new group: OR idempotence
    batch([("a", i) for i in range(25, 80)] + [("b", 5)])
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental"
    assert _view(catalog) == _bloom_full_bits(
        catalog, "src", ["g"], "k", 256, 3)

    # membership: every inserted key is a member (no false negatives)
    # — including a DUPLICATED probe row, which explodes to 2k bit rows
    # and used to break the all-positions-set test when it counted
    # SUM == k instead of MIN == 1
    probes = spark.createDataFrame(
        [("a", i) for i in range(80)] + [("b", 5), ("b", 999),
                                         ("a", 5), ("b", 5)],
        "g string, k long")
    got = {(r["g"], r["k"]): r["bloom_member"] for r in
           bloom_view_membership(catalog, "v", probes).collect()}
    for i in range(80):
        assert got[("a", i)] is True, i
    assert got[("b", 5)] is True


def test_bloom_view_rewrite_clears_bits_via_full_recompute(
        spark, catalog):
    """Bloom filters can't delete; a source rewrite must fall back to a
    full rebuild so bits set by deleted keys disappear."""
    from cstore_fdw_spark.aggview import (
        bloom_view_membership, create_bloom_agg_view)

    catalog.create_table("src", "g string, k long")
    create_bloom_agg_view(catalog, "v", "src", keys=[], column="k",
                          m=4096, k=4)  # sparse: FP-free at this size
    catalog.insert("src", spark.createDataFrame(
        [("a", i) for i in range(20)], "g string, k long"))
    refresh_agg_view(catalog, "v")

    catalog.delete_where("src", "k >= 10")
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _bloom_full_bits(
        catalog, "src", [], "k", 4096, 4)
    probes = spark.createDataFrame([(i,) for i in range(20)], "k long")
    got = {r["k"]: r["bloom_member"] for r in
           bloom_view_membership(catalog, "v", probes).collect()}
    assert all(got[i] for i in range(10))
    # with 10 keys in 4096 bits the deleted keys must read absent
    assert not any(got[i] for i in range(10, 20))


def test_bloom_view_validation(spark, catalog):
    from cstore_fdw_spark.aggview import (
        bloom_view_membership, create_bloom_agg_view)

    catalog.create_table("src", "g string, k long")
    with pytest.raises(CStoreError, match="not in source"):
        create_bloom_agg_view(catalog, "v", "src", ["g"], "nope")
    with pytest.raises(CStoreError, match="cannot also be a key"):
        create_bloom_agg_view(catalog, "v", "src", ["k"], "k")
    with pytest.raises(CStoreError, match="geometry"):
        create_bloom_agg_view(catalog, "v", "src", [], "k", m=1)
    # reserved state-column collision: both a key and the filtered
    # column named "bit" would break the state table / probe plan
    catalog.create_table("src_bit", "bit string, k long")
    with pytest.raises(CStoreError, match="reserved Bloom"):
        create_bloom_agg_view(catalog, "v", "src_bit", ["bit"], "k")
    catalog.create_table("src_bit2", "g string, bit long")
    with pytest.raises(CStoreError, match="reserved Bloom"):
        create_bloom_agg_view(catalog, "v", "src_bit2", ["g"], "bit")
    create_agg_view(catalog, "plain_v2", "src", ["g"], ["k"])
    with pytest.raises(CStoreError, match="not a Bloom filter view"):
        bloom_view_membership(catalog, "plain_v2",
                              spark.createDataFrame([(1,)], "k long"))


# ---------------------------------------------- quantile sketch views

def _q_full_buckets(catalog, source, keys, column, lo, hi, nb):
    from cstore_fdw_spark.operators.analytics import quantile_buckets
    return sorted(tuple(r) for r in
                  quantile_buckets(catalog.read(source), keys, column,
                                   lo, hi, nb).collect())


def test_quantile_view_delta_refresh_count_equality(spark, catalog):
    """The maintained bucket table must be COUNT-EQUAL to the batch
    histogram over the full source after every incremental refresh —
    the SUM-merge across epoch deltas is the same algebra that merges
    partitions, so no tolerance, exact row equality (the fourth sketch
    merge kind, after MAX/HLL and OR/Bloom)."""
    from cstore_fdw_spark.aggview import (
        create_quantile_agg_view, quantile_view_estimate)
    from cstore_fdw_spark.operators.analytics import (
        quantile_buckets, quantile_estimate_from_buckets)

    catalog.create_table("src", "g string, x double")
    create_quantile_agg_view(catalog, "v", "src", keys=["g"],
                             column="x", lo=0.0, hi=100.0, nbuckets=16)

    def batch(rows):
        catalog.insert("src", spark.createDataFrame(
            rows, "g string, x double"))

    batch([("a", float(i % 100)) for i in range(200)]
          + [("b", float(i)) for i in range(50)])
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "incremental" and r["to_epoch"] == 1
    assert _view(catalog) == _q_full_buckets(
        catalog, "src", ["g"], "x", 0.0, 100.0, 16)

    # second append: overlapping values + a new group — the SUM merge
    # must add counts, not replace them
    batch([("a", float(i % 50)) for i in range(300)] + [("c", 7.0)])
    r = refresh_agg_view(catalog, "v")
    assert r == {"mode": "incremental", "from_epoch": 1, "to_epoch": 2}
    assert _view(catalog) == _q_full_buckets(
        catalog, "src", ["g"], "x", 0.0, 100.0, 16)

    # noop leaves state untouched
    assert refresh_agg_view(catalog, "v")["mode"] == "noop"

    # the view's estimate == the batch finisher over a full-source
    # histogram (same counts in, same arithmetic through)
    est_view = {(r["g"], r["q"]): (r["n"], r["rnk"], r["bucket"],
                                   r["q_lo"], r["q_hi"])
                for r in quantile_view_estimate(catalog, "v").collect()}
    batch_counts = quantile_buckets(
        catalog.read("src").select(F.col("g").alias("grp"), "x"),
        ["grp"], "x", 0.0, 100.0, 16)
    est_batch = {(r["grp"], r["q"]): (r["n"], r["rnk"], r["bucket"],
                                      r["q_lo"], r["q_hi"])
                 for r in quantile_estimate_from_buckets(
                     batch_counts, 0.0, 100.0, 16).collect()}
    assert est_view == est_batch

    # the certificate: each picked bucket contains the exact rank-rnk
    # order statistic
    rows = sorted((r["g"], float(r["x"])) for r in
                  catalog.read("src").collect())
    by_g = {}
    for g, x in rows:
        by_g.setdefault(g, []).append(x)
    for (g, q), (n, rnk, bucket, q_lo, q_hi) in est_view.items():
        vals = sorted(by_g[g])
        assert n == len(vals)
        exact = vals[rnk - 1]
        assert q_lo <= exact < q_hi, (g, q, exact, q_lo, q_hi)


def test_quantile_view_rewrite_falls_back_to_full(spark, catalog):
    from cstore_fdw_spark.aggview import create_quantile_agg_view

    catalog.create_table("src", "g string, x double")
    create_quantile_agg_view(catalog, "v", "src", keys=["g"],
                             column="x", lo=0.0, hi=100.0, nbuckets=16)
    catalog.insert("src", spark.createDataFrame(
        [("a", float(i)) for i in range(100)], "g string, x double"))
    refresh_agg_view(catalog, "v")

    # a rewrite shrinks counts, which only a full recompute expresses
    catalog.delete_where("src", "x >= 50")
    r = refresh_agg_view(catalog, "v")
    assert r["mode"] == "full"
    assert _view(catalog) == _q_full_buckets(
        catalog, "src", ["g"], "x", 0.0, 100.0, 16)


def test_quantile_view_validation(spark, catalog):
    from cstore_fdw_spark.aggview import (
        create_quantile_agg_view, quantile_view_estimate)

    catalog.create_table("src", "g string, x double, s string")
    with pytest.raises(CStoreError, match="not in source"):
        create_quantile_agg_view(catalog, "v", "src", ["g"], "nope",
                                 0.0, 1.0)
    with pytest.raises(CStoreError, match="at least one key"):
        create_quantile_agg_view(catalog, "v", "src", [], "x", 0.0, 1.0)
    with pytest.raises(CStoreError, match="cannot also be a key"):
        create_quantile_agg_view(catalog, "v", "src", ["x"], "x",
                                 0.0, 1.0)
    with pytest.raises(CStoreError, match="non-numeric"):
        create_quantile_agg_view(catalog, "v", "src", ["g"], "s",
                                 0.0, 1.0)
    with pytest.raises(CStoreError, match="geometry"):
        create_quantile_agg_view(catalog, "v", "src", ["g"], "x",
                                 1.0, 1.0)
    with pytest.raises(CStoreError, match="geometry"):
        create_quantile_agg_view(catalog, "v", "src", ["g"], "x",
                                 0.0, 1.0, nbuckets=1)
    catalog.create_table("src_res2", "bucket string, cnt string, x long")
    with pytest.raises(CStoreError, match="reserved quantile"):
        create_quantile_agg_view(catalog, "v", "src_res2", ["bucket"],
                                 "x", 0.0, 1.0)
    create_agg_view(catalog, "plain_v3", "src", ["g"], ["x"])
    with pytest.raises(CStoreError, match="not a quantile sketch view"):
        quantile_view_estimate(catalog, "plain_v3")


def test_countmin_state_maintained_by_standard_agg_view(spark, catalog):
    """The Count-Min docstring's claim, live: the sketch's per-(i, b)
    COUNT is exactly the state shape the STANDARD agg view maintains —
    feed the exploded bucket rows through create_agg_view and the
    maintained n_rows must equal the batch countmin_rollup counts after
    incremental refreshes."""
    from cstore_fdw_spark.operators.analytics import (
        _cm_bucket_arr, countmin_rollup)

    catalog.create_table("hits", "i int, b long")

    def explode_batch(user_ids):
        ev = spark.createDataFrame([(u,) for u in user_ids],
                                   "user_id long")
        rows = ev.select(F.explode(_cm_bucket_arr()).alias("x")) \
                 .select(F.col("x.i").alias("i"), F.col("x.b").alias("b"))
        catalog.insert("hits", rows)
        return ev

    create_agg_view(catalog, "cmv", "hits", keys=["i", "b"],
                    measures=["b"])
    all_users = []
    for batch_users in ([1, 2, 3, 4, 5] * 3, [5, 6, 7] * 4):
        all_users += batch_users
        explode_batch(batch_users)
        assert refresh_agg_view(catalog, "cmv")["mode"] == "incremental"
        ev_all = spark.createDataFrame([(u,) for u in all_users],
                                       "user_id long")
        want = sorted((r["i"], r["b"], r["cnt"]) for r in
                      countmin_rollup(ev_all).collect())
        got = sorted((r["i"], r["b"], r["n_rows"]) for r in
                     catalog.read("cmv").collect())
        assert got == want


def test_hll_view_multi_key(spark, catalog):
    """The HLL kind's keys are a LIST — prove register equality and the
    estimate finisher on a two-key view (the struct-packed grp path)."""
    from cstore_fdw_spark.aggview import (
        create_hll_agg_view, hll_view_estimate)

    catalog.create_table("src", "g string, h string, k long")
    create_hll_agg_view(catalog, "v", "src", keys=["g", "h"], column="k")
    catalog.insert("src", spark.createDataFrame(
        [("a", "x", i) for i in range(120)]
        + [("a", "y", i) for i in range(40)]
        + [("b", "x", i) for i in range(60)], "g string, h string, k long"))
    refresh_agg_view(catalog, "v")
    catalog.insert("src", spark.createDataFrame(
        [("a", "x", i) for i in range(100, 300)],
        "g string, h string, k long"))
    assert refresh_agg_view(catalog, "v")["mode"] == "incremental"
    assert _view(catalog) == _hll_full_regs(
        catalog, "src", ["g", "h"], "k")
    est = {(r["g"], r["h"]): r["distinct_estimate"]
           for r in hll_view_estimate(catalog, "v").collect()}
    exact = {(r["g"], r["h"]): r["d"] for r in
             catalog.read("src").groupBy("g", "h")
             .agg(F.countDistinct("k").alias("d")).collect()}
    assert set(est) == set(exact)
    for key, d in exact.items():
        assert abs(est[key] - d) <= max(3, 0.1 * d), (key, est[key], d)
