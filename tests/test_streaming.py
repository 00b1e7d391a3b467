"""Structured Streaming tests: each streaming operator must produce the
same result as its batch twin when run to completion (availableNow)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cstore_fdw_spark.operators import load_all, table
from cstore_fdw_spark.streaming import events as se
from cstore_fdw_spark.streaming.runner import drain, fixture_stream, run_twin

REGISTRY = load_all()
#: the queries that declare a streaming twin on their registry entry
TWINS = sorted(name for name, spec in REGISTRY.items() if spec.twin)


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    out = drain(se.tumbling_counts(fixture_stream(spark, sf_dir, "events")),
                "t_tumbling", "complete")
    batch = (REGISTRY["events_tumbling_hourly"].builder(spark, sf_dir)
             .select("hour_start", "event_type", "n"))
    srows = {tuple(r) for r in out.collect()}
    brows = {tuple(r) for r in batch.collect()}
    assert srows == brows


def test_streaming_dedup(spark, sf_dir):
    out = drain(se.dedup_events(fixture_stream(spark, sf_dir, "events")),
                "t_dedup", "append")
    n_distinct = (table(spark, sf_dir, "events")
                  .select("event_id").distinct().count())
    assert out.count() == n_distinct


def test_streaming_sessionize_matches_batch(spark, sf_dir):
    out = drain(se.sessionize(fixture_stream(spark, sf_dir, "events")),
                "t_sessions", "complete")
    batch = (REGISTRY["events_sessionize"].builder(spark, sf_dir)
             .select("user_id", "session_start", "n_events"))
    srows = {tuple(r) for r in out.collect()}
    brows = {tuple(r) for r in batch.collect()}
    assert srows == brows


def test_streaming_is_actually_streaming(spark, sf_dir):
    stream = fixture_stream(spark, sf_dir, "events")
    assert stream.isStreaming
    assert se.tumbling_counts(stream).isStreaming


def test_stream_into_managed_table(spark, sf_dir, tmp_path, catalog):
    """Streaming ingestion: events stream → managed columnar table; rows
    land as appended stripes and are queryable mid-pipeline."""
    from cstore_fdw_spark.streaming.ingest import stream_into_table

    catalog.create_table(
        "events_ingested",
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string")
    stream = fixture_stream(spark, sf_dir, "events")
    q = stream_into_table(catalog, "events_ingested", stream,
                          checkpoint=str(tmp_path / "ckpt"),
                          trigger_available_now=True)
    q.awaitTermination(120)
    n_src = table(spark, sf_dir, "events").count()
    assert catalog.row_count("events_ingested") == n_src
    # restart with same checkpoint: no duplicate appends (exactly-once)
    stream2 = fixture_stream(spark, sf_dir, "events")
    q2 = stream_into_table(catalog, "events_ingested", stream2,
                           checkpoint=str(tmp_path / "ckpt"),
                           trigger_available_now=True)
    q2.awaitTermination(120)
    assert catalog.row_count("events_ingested") == n_src


def test_stateful_running_spend(spark, sf_dir, tmp_path):
    """applyInPandasWithState custom operator: final per-user totals must
    equal the batch aggregate over the same events."""
    from cstore_fdw_spark.streaming.stateful import running_spend

    stream = fixture_stream(spark, sf_dir, "events")
    out = running_spend(stream)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("t_spend")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # last update per user == batch totals
    got = {r.user_id: (r.event_count, round(r.total_value, 6))
           for r in spark.table("t_spend").collect()}
    want = {r.user_id: (r.n, round(r.total, 6))
            for r in table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .collect()}
    assert got == want


def test_stream_static_join_matches_batch(spark, sf_dir):
    customer = table(spark, sf_dir, "customer")
    out = drain(se.enrich_with_customer(
        fixture_stream(spark, sf_dir, "events"), customer),
        "t_enrich", "complete")
    e = table(spark, sf_dir, "events")
    dim = customer.select(F.col("c_custkey").alias("user_id"),
                          "c_mktsegment")
    batch = (e.join(dim, "user_id")
             .groupBy(F.window("ts", "1 hour").alias("w"),
                      F.col("c_mktsegment").alias("segment"))
             .agg(F.count(F.lit(1)).alias("n"))
             .select(F.col("w.start").alias("hour_start"), "segment", "n"))
    assert {tuple(r) for r in out.collect()} \
        == {tuple(r) for r in batch.collect()}


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    # the canonical two-stream join: watermarks on BOTH sides + a bounded
    # event-time interval condition (state can expire); results must
    # equal the batch interval join exactly
    import tempfile
    from cstore_fdw_spark.operators import load_all
    from cstore_fdw_spark.streaming.events import (
        click_purchase_interval_join)

    reg = load_all()
    batch = sorted(
        tuple(r) for r in
        reg["events_click_purchase_interval_join"].builder(
            spark, sf_dir).collect())
    stream = fixture_stream(spark, sf_dir, "events")
    out = click_purchase_interval_join(stream, stream)
    with tempfile.TemporaryDirectory() as ckpt:
        q = (out.writeStream.format("memory").queryName("ssj")
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("ssj").collect())
    assert got == batch
    assert len(got) > 0


def test_concurrent_stream_ledgers_do_not_lose_entries(spark, catalog):
    # two streams (distinct checkpoints) appending to one table: the
    # flock-guarded ledger read-modify-write must not lose either
    # stream's replay marker under interleaving (an unlocked
    # load->insert->replace could drop the other writer's entry and
    # re-enable duplicate appends on replay)
    import threading
    from cstore_fdw_spark.fsutil import read_json_or_empty
    from cstore_fdw_spark.streaming.ingest import _ledger_path, batch_writer

    catalog.create_table("tcl", "a int")
    df = spark.createDataFrame([(1,)], "a int")
    writers = [batch_writer(catalog, "tcl", f"/tmp/ck_tcl_{i}")
               for i in range(4)]
    errs = []

    def run(w, base):
        try:
            for b in range(3):
                w(df, b)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run, args=(w, i))
               for i, w in enumerate(writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    ledger = read_json_or_empty(_ledger_path(catalog, "tcl"))
    # every stream's marker survived at its final batch id
    assert sorted(ledger.values()) == [2, 2, 2, 2], ledger
    assert catalog.row_count("tcl") == 12
    # replays are now suppressed for every stream
    for w in writers:
        w(df, 2)
    assert catalog.row_count("tcl") == 12


def test_stateful_pattern_detection_matches_batch(spark, sf_dir, tmp_path):
    # CEP A-then-B: streaming stateful matcher == batch min-signup +
    # interval-join formulation on the same data. The real events at
    # small SFs can contain ZERO in-window pairs (sf0.01 does), which
    # would make the equivalence vacuously true — so a synthetic
    # guaranteed-match user is injected into BOTH sides, keeping the
    # nonemptiness assertion meaningful at every scale factor.
    import os
    import shutil
    from datetime import datetime, timedelta
    from pyspark.sql import functions as F
    from cstore_fdw_spark.streaming.stateful import (
        PATTERN_WINDOW_US, signup_purchase_pattern)

    src_dir = tmp_path / "events_src"
    src_dir.mkdir()
    real = f"{sf_dir}/events.parquet"
    if os.path.isdir(real):
        for fn in os.listdir(real):
            if fn.endswith(".parquet"):
                shutil.copy(os.path.join(real, fn), src_dir / fn)
    else:
        shutil.copy(real, src_dir / "events.parquet")
    schema = spark.read.parquet(real).schema
    base = datetime(2030, 1, 1, 12, 0, 0)
    synth = spark.createDataFrame(
        [(10**12 + 1, base, 10**9, "signup", 0.0, "{}"),
         (10**12 + 2, base + timedelta(minutes=10), 10**9,
          "purchase", 5.0, "{}")], schema)
    synth.coalesce(1).write.mode("append").parquet(str(src_dir))

    e = spark.read.schema(schema).parquet(str(src_dir))
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id")
         .agg(F.min(F.unix_micros("ts")).alias("signup_us")))
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("purchase_us"))
    batch = sorted(
        tuple(r) for r in
        s.join(p, "user_id")
        .filter((F.col("purchase_us") > F.col("signup_us"))
                & (F.col("purchase_us") - F.col("signup_us")
                   <= PATTERN_WINDOW_US))
        .select("user_id", "signup_us", "purchase_us",
                (F.col("purchase_us") - F.col("signup_us"))
                .alias("micros_between")).collect())
    stream = spark.readStream.schema(schema).parquet(str(src_dir))
    out = signup_purchase_pattern(stream)
    q = (out.writeStream.format("memory").queryName("cep")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(tuple(r) for r in spark.table("cep").collect())
    assert got == batch
    assert len(got) > 0  # the injected pair guarantees nonemptiness


def test_cep_out_of_order_across_batches(spark, tmp_path):
    # a purchase whose signup arrives in a LATER micro-batch (event-time
    # earlier — bounded disorder) must still match: the state buffers
    # unmatched purchases for PATTERN_DISORDER_US of event time
    from datetime import datetime, timedelta
    from cstore_fdw_spark.streaming.stateful import signup_purchase_pattern

    from cstore_fdw_spark.streaming.stateful import MATCH_SCHEMA

    schema = "user_id long, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    base = datetime(2024, 1, 1, 12, 0, 0)

    def drain():
        # file sink (not memory): it supports restart from the checkpoint,
        # which is the whole point of the two-drain replay
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (signup_purchase_pattern(stream)
             .writeStream.format("parquet").option("path", out_dir)
             .outputMode("append").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.schema(MATCH_SCHEMA).parquet(out_dir)

    # batch 1: the purchase alone — no anchor yet, nothing may be emitted
    spark.createDataFrame(
        [(7, "purchase", base + timedelta(minutes=10))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    assert drain().count() == 0
    # batch 2: its signup arrives late (event time BEFORE the purchase)
    spark.createDataFrame(
        [(7, "signup", base)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    rows = drain().collect()
    assert [(r.user_id, r.micros_between) for r in rows] \
        == [(7, 10 * 60 * 1_000_000)]


def test_cep_update_mode_corrects_late_earlier_signup(spark, tmp_path):
    # the append-mode-impossible case: a match was already emitted, then
    # a LATE signup with an EARLIER event time arrives — update mode
    # re-emits the match with the corrected anchor, and the correction
    # stream reduces (min signup per user+purchase) to the batch answer
    from datetime import datetime, timedelta
    from cstore_fdw_spark.streaming.stateful import (
        MATCH_SCHEMA, signup_purchase_pattern)

    schema = "user_id long, event_type string, ts timestamp"
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    base = datetime(2024, 1, 1, 12, 0, 0)

    def drain():
        # foreachBatch: the file sink is append-only, but an update-mode
        # correction stream lands fine through a per-batch append write
        # (the classic CDC-sink pattern) — and it restarts from the
        # checkpoint, which the two-drain replay needs
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = (signup_purchase_pattern(stream, mode="update")
             .writeStream
             .foreachBatch(lambda df, _bid:
                           df.write.mode("append").parquet(out_dir))
             .outputMode("update").option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return spark.read.schema(MATCH_SCHEMA).parquet(out_dir)

    # batch 1: signup at +5min, purchase at +10min → match emitted with
    # the +5min anchor (5 minutes between)
    spark.createDataFrame(
        [(9, "signup", base + timedelta(minutes=5)),
         (9, "purchase", base + timedelta(minutes=10))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    first = [(r.user_id, r.micros_between) for r in drain().collect()]
    assert first == [(9, 5 * 60 * 1_000_000)]
    # batch 2: the TRUE first signup (event time = base) arrives late →
    # a correction row re-anchors the same purchase at 10 minutes
    spark.createDataFrame(
        [(9, "signup", base)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    rows = drain().collect()
    assert sorted((r.user_id, r.micros_between) for r in rows) \
        == [(9, 5 * 60 * 1_000_000), (9, 10 * 60 * 1_000_000)]
    # reduce the correction stream: min anchor per (user, purchase)
    from pyspark.sql import functions as F
    reduced = (spark.read.schema(MATCH_SCHEMA).parquet(out_dir)
               .groupBy("user_id", "purchase_us")
               .agg(F.min("signup_us").alias("signup_us"))
               .collect())
    assert [(r.user_id, r.purchase_us - r.signup_us)
            for r in reduced] == [(9, 10 * 60 * 1_000_000)]
    # equal to the batch formulation over the full event set
    e = spark.read.schema(schema).parquet(str(src))
    s = (e.filter("event_type = 'signup'")
         .groupBy("user_id")
         .agg(F.min(F.unix_micros("ts")).alias("signup_us")))
    p = e.filter("event_type = 'purchase'").select(
        "user_id", F.unix_micros("ts").alias("purchase_us"))
    batch = sorted(
        (r.user_id, r.purchase_us - r.signup_us) for r in
        s.join(p, "user_id")
        .filter("purchase_us > signup_us").collect())
    assert sorted((r.user_id, r.purchase_us - r.signup_us)
                  for r in reduced) == batch


def test_streaming_curation_accounting_matches_batch(spark, sf_dir):
    """The curation recipe's projection stages stream unchanged: quality
    gate + PII accounting per (lang, source) over the documents stream
    equals the same stages computed in batch."""
    from cstore_fdw_spark.streaming import text as st

    out = drain(st.curation_accounting(
        fixture_stream(spark, sf_dir, "documents")),
        "t_curation", "complete")
    batch = st.curation_accounting(table(spark, sf_dir, "documents"))
    srows = {tuple(r) for r in out.collect()}
    brows = {tuple(r) for r in batch.collect()}
    assert srows and srows == brows


def test_streaming_aggview_matches_batch_refresh(spark, catalog, tmp_path):
    """Materialized-view maintenance twin: the SAME source epochs applied
    (a) by batch refresh_agg_view and (b) as streaming micro-batches
    through foreachBatch must land bit-identical state — the mergeable
    aggregate operator is driver-agnostic."""
    from cstore_fdw_spark.aggview import create_agg_view, refresh_agg_view
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "vb", "src", keys=["g"], measures=["x"])
    create_agg_view(catalog, "vs", "src", keys=["g"], measures=["x"])
    for rows in ([("a", 1), ("b", 2)], [("a", 3), ("c", 4)], [("c", -5)]):
        catalog.insert("src", spark.createDataFrame(
            rows, "g string, x long"))

    refresh_agg_view(catalog, "vb")
    q = maintain_agg_view_stream(catalog, "vs",
                                 str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    vb = sorted(tuple(r) for r in catalog.read("vb").collect())
    vs = sorted(tuple(r) for r in catalog.read("vs").collect())
    assert vb == vs and len(vb) == 3

    # another epoch: both drivers advance and agree again
    catalog.insert("src", spark.createDataFrame(
        [("a", 100)], "g string, x long"))
    refresh_agg_view(catalog, "vb")
    q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    vb = sorted(tuple(r) for r in catalog.read("vb").collect())
    vs = sorted(tuple(r) for r in catalog.read("vs").collect())
    assert vb == vs
    [(_, n_a, s_a, _, _)] = [t for t in vs if t[0] == "a"]
    assert (n_a, s_a) == (3, 104)


def test_streaming_aggview_crash_between_commit_and_ledger(
        spark, catalog, tmp_path, monkeypatch):
    """Crash injected between the stream sink's state commit and its
    ledger finalize: the restarted stream replays the batch, recovery
    sees the stamped view epoch, finalizes, and does NOT re-merge."""
    import cstore_fdw_spark.derived as derived
    from cstore_fdw_spark.aggview import create_agg_view
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "vs", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("a", 10)], "g string, x long"))

    real_save = derived._save_ledger
    calls = []

    def crash_on_finalize(path, ledger):
        entry = next(iter(ledger.values()))
        if entry.get("pending") is None and entry.get("last_batch") == 0:
            calls.append(1)
            raise RuntimeError("injected ledger-finalize crash")
        return real_save(path, ledger)

    monkeypatch.setattr(derived, "_save_ledger", crash_on_finalize)
    q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ck"))
    try:
        q.awaitTermination(120)
    except Exception:
        pass  # the injected crash fails the streaming query
    assert calls, "injection never fired"
    monkeypatch.setattr(derived, "_save_ledger", real_save)

    # restart replays batch 0; recovery must finalize, not re-merge
    q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ck"))
    q.awaitTermination(120)
    [(g, n, s, mn, mx)] = [tuple(r) for r in catalog.read("vs").collect()]
    assert (g, n, s, mn, mx) == ("a", 2, 11, 1, 10)  # doubled = (4, 22)


@pytest.mark.parametrize("kind", ["hll", "bloom", "quantile"])
def test_streaming_sketch_view_matches_batch_refresh(spark, catalog,
                                                     tmp_path, kind):
    """Sketch views stream too: the sink merges each micro-batch through
    the view kind's own (partial aggregate, merge) pair, so after every
    append the streamed state equals the batch refresh of a twin view
    (the sink used to hard-code the measures kind and died with
    KeyError: 'measures')."""
    from cstore_fdw_spark.aggview import (
        create_bloom_agg_view, create_hll_agg_view,
        create_quantile_agg_view, refresh_agg_view)
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("src", "g string, x long")
    for view in ("vb", "vs"):
        if kind == "hll":
            create_hll_agg_view(catalog, view, "src", ["g"], "x")
        elif kind == "bloom":
            create_bloom_agg_view(catalog, view, "src", ["g"], "x",
                                  m=64, k=3)
        else:
            create_quantile_agg_view(catalog, view, "src", ["g"], "x",
                                     lo=0.0, hi=100.0, nbuckets=16)

    def state(view):
        return sorted(tuple(r) for r in catalog.read(view).collect())

    for rows in ([("a", 1), ("a", 7), ("b", 40)],
                 [("a", 7), ("b", 99), ("c", 3), ("a", 55)]):
        catalog.insert("src", spark.createDataFrame(rows, "g string, x long"))
        refresh_agg_view(catalog, "vb")
        q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ck"))
        q.awaitTermination(120)
        assert state("vs") == state("vb") and state("vb")


def test_agg_view_streams_refuse_the_other_view_shape(spark, catalog,
                                                      tmp_path):
    """A join view given to the single-table stream entry, or a
    single-table view given to the join entry, is refused with a
    CStoreError naming the right entry point (it used to die with
    KeyError: 'source' / 'fact'), and no stream is left running."""
    from cstore_fdw_spark.aggview import (
        create_agg_view, create_join_agg_view)
    from cstore_fdw_spark.catalog import CStoreError
    from cstore_fdw_spark.streaming.aggview import (
        maintain_agg_view_stream, maintain_join_agg_view_stream)

    catalog.create_table("f", "dk long, x long")
    catalog.create_table("d", "dk long, region string")
    create_join_agg_view(catalog, "jv", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    create_agg_view(catalog, "sv", "f", keys=["dk"], measures=["x"])
    with pytest.raises(CStoreError,
                       match="join aggregate view — use "
                             "maintain_join_agg_view_stream"):
        maintain_agg_view_stream(catalog, "jv", str(tmp_path / "a"))
    with pytest.raises(CStoreError,
                       match="single-table aggregate view — use "
                             "maintain_agg_view_stream"):
        maintain_join_agg_view_stream(catalog, "sv", str(tmp_path / "b"))
    assert not spark.streams.active


def test_streaming_join_aggview_matches_batch_refresh(spark, catalog,
                                                      tmp_path):
    """Join-view streaming twin under a static dimension: fact epochs
    applied as stream-static micro-batches land state identical to the
    batch delta-join refresh."""
    from cstore_fdw_spark.aggview import (
        create_join_agg_view, refresh_join_agg_view)
    from cstore_fdw_spark.streaming.aggview import (
        maintain_join_agg_view_stream)

    catalog.create_table("f", "dk long, x long")
    catalog.create_table("d", "dk long, region string")
    create_join_agg_view(catalog, "jb", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    create_join_agg_view(catalog, "js", "f", "d", on=["dk"],
                         keys=["region"], measures=["x"])
    catalog.insert("d", spark.createDataFrame(
        [(1, "eu"), (2, "us")], "dk long, region string"))
    for rows in ([(1, 10), (2, 5)], [(1, 20)], [(2, 1), (1, 3)]):
        catalog.insert("f", spark.createDataFrame(
            rows, "dk long, x long"))

    refresh_join_agg_view(catalog, "jb")
    q = maintain_join_agg_view_stream(catalog, "js",
                                      str(tmp_path / "jck"))
    q.awaitTermination(120)

    jb = sorted(tuple(r) for r in catalog.read("jb").collect())
    js = sorted(tuple(r) for r in catalog.read("js").collect())
    assert jb == js and len(jb) == 2
    [(_, n_eu, s_eu, _, _)] = [t for t in jb if t[0] == "eu"]
    assert (n_eu, s_eu) == (3, 33)


def test_streaming_aggview_fails_loudly_after_source_rewrite(
        spark, catalog, tmp_path):
    """ADVICE r8 (medium): the file-source stream replays FILES, so a
    source rewrite (compact here — moves history_floor) would deliver
    rewritten rows as fresh micro-batches and silently double-merge
    them into the view. The ledger now records the source's floor and
    identity at first batch and the next batch FAILS LOUDLY when they
    move, mirroring the batch refresh's full-recompute trigger."""
    from cstore_fdw_spark.aggview import create_agg_view
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("src", "g string, x long")
    create_agg_view(catalog, "vs", "src", keys=["g"], measures=["x"])
    catalog.insert("src", spark.createDataFrame(
        [("a", 1), ("b", 2)], "g string, x long"))
    q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ck"))
    q.awaitTermination(120)
    state = sorted(tuple(r) for r in catalog.read("vs").collect())
    assert len(state) == 2

    # rewrite the source: compact replaces every file, floor moves
    catalog.insert("src", spark.createDataFrame(
        [("a", 10)], "g string, x long"))
    catalog.compact("src")

    q = maintain_agg_view_stream(catalog, "vs", str(tmp_path / "ck"))
    with pytest.raises(Exception, match="rewritten under a running stream"):
        q.awaitTermination(120)
    # the view was NOT corrupted by a double-merge
    assert sorted(tuple(r) for r in catalog.read("vs").collect()) == state


def test_streaming_aggview_fails_loudly_after_quiet_truncate(
        spark, catalog, tmp_path):
    """ADVICE r9 (low, but a guard hole): truncate sets history_floor =
    write_epoch, so a truncate issued when NO appends landed since the
    last floor raise used to leave the floor unchanged and slip past
    _guard_source_stability — the streaming view silently kept
    pre-truncate aggregates, never retracted. Truncate now commits its
    own epoch before raising the floor, so the guard trips."""
    from cstore_fdw_spark.aggview import create_agg_view
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("srcq", "g string, x long")
    create_agg_view(catalog, "vq", "srcq", keys=["g"], measures=["x"])
    catalog.insert("srcq", spark.createDataFrame(
        [("a", 1), ("b", 2)], "g string, x long"))
    # compact raises the floor to the current epoch: the exact state in
    # which the old truncate was floor-invisible
    catalog.compact("srcq")
    q = maintain_agg_view_stream(catalog, "vq", str(tmp_path / "ckq"))
    q.awaitTermination(120)
    assert catalog.read("vq").count() == 2

    catalog.truncate("srcq")  # no appends since the compact
    catalog.insert("srcq", spark.createDataFrame(
        [("c", 3)], "g string, x long"))

    q = maintain_agg_view_stream(catalog, "vq", str(tmp_path / "ckq"))
    with pytest.raises(Exception, match="rewritten under a running stream"):
        q.awaitTermination(120)


def test_streaming_aggview_over_orc_source(spark, catalog, tmp_path):
    """ADVICE r8 (low): source_stream used to hardcode the parquet file
    source even though storage_format='orc' is a valid table option —
    streaming maintenance over an ORC source must dispatch like the
    batch readers and land the same state."""
    from cstore_fdw_spark.aggview import create_agg_view
    from cstore_fdw_spark.streaming.aggview import maintain_agg_view_stream

    catalog.create_table("osrc", "g string, x long", storage_format="orc")
    create_agg_view(catalog, "ov", "osrc", keys=["g"], measures=["x"])
    catalog.insert("osrc", spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], "g string, x long"))
    q = maintain_agg_view_stream(catalog, "ov", str(tmp_path / "ock"))
    q.awaitTermination(120)
    rows = {r["g"]: tuple(r) for r in catalog.read("ov").collect()}
    assert rows["a"][1:3] == (2, 4)  # count=2, sum=4
    assert rows["b"][1:3] == (1, 2)
# append to tests/test_streaming.py

def test_every_readstream_guarded_or_exempt():
    """Round-9 verdict task 5: no readStream in the package without
    either the source-rewrite guard (_guard_source_stability wired into
    its foreachBatch) or a documented exemption marker. The two fixture
    readers stream the READ-ONLY testdata parquet directly — there is
    no catalog table whose history_floor/created_at could move, so the
    guard is inapplicable; they carry the exemption marker and this
    audit pins the rule for future stream sources."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "cstore_fdw_spark"
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        if ".readStream" not in src:
            continue
        guarded = "_guard_source_stability" in src
        exempt = "stream-rewrite-guard: exempt" in src
        if not (guarded or exempt):
            offenders.append(str(py))
    assert not offenders, (
        "readStream without rewrite guard or documented exemption: "
        f"{offenders}")


@pytest.mark.parametrize("query", TWINS)
def test_declared_twin_equals_batch(spark, sf_dir, query):
    """Every streaming twin declared on the registry equals its batch
    query row for row: ``run_twin`` drains the query's own mergeable
    states and runs the finisher the batch query ends in."""
    batch = sorted(tuple(r) for r in
                   REGISTRY[query].builder(spark, sf_dir).collect())
    streamed = sorted(tuple(r) for r in
                      run_twin(spark, sf_dir, query).collect())
    assert streamed == batch and len(batch) > 0


def test_bloom_streaming_twin_matches_batch_bits(spark, sf_dir):
    """The Bloom filter's set-bit table is OR-mergeable: ``bloom_bits``
    over a stream of the pending orders' keys, drained in append mode,
    sets exactly the bits the batch build sets. (The filter's finisher
    probes the static customer table, so its query declares no twin.)"""
    from cstore_fdw_spark.operators.analytics import bloom_bits

    def pending(orders):
        return (orders.filter(F.col("o_orderstatus") == "P")
                .select("o_custkey"))

    batch = sorted(r["bit"] for r in bloom_bits(
        pending(table(spark, sf_dir, "orders")).distinct(), [],
        "o_custkey").collect())
    streamed = sorted(r["bit"] for r in drain(
        bloom_bits(pending(fixture_stream(spark, sf_dir, "orders")), [],
                   "o_custkey"), "bloom_bits_twin", "append").collect())
    assert streamed == batch and len(batch) > 0


@pytest.mark.parametrize(
    "query", [q for q in TWINS if REGISTRY[q].twin[0] == "events"])
def test_events_twins_read_nanos_timestamps(spark, sf_dir, tmp_path,
                                            query):
    """An events fixture that stores ts as TIMESTAMP(NANOS) (a shape
    conftest accepts) reaches the streaming twins as a timestamp, the
    same as the batch reader: each twin still equals its batch query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    events = pq.read_table(f"{sf_dir}/events.parquet")
    ts_at = events.schema.get_field_index("ts")
    pq.write_table(
        events.set_column(ts_at, "ts",
                          events["ts"].cast(pa.timestamp("ns"))),
        tmp_path / "events.parquet")
    nanos_dir = str(tmp_path)
    assert str(pq.read_schema(tmp_path / "events.parquet")
               .field("ts").type) == "timestamp[ns]"

    batch = sorted(tuple(r) for r in
                   REGISTRY[query].builder(spark, nanos_dir).collect())
    streamed = sorted(tuple(r) for r in
                      run_twin(spark, nanos_dir, query).collect())
    assert streamed == batch and len(batch) > 0


def test_timed_out_drain_raises_and_stops(spark, sf_dir, monkeypatch):
    """A drain that outlives its timeout is stopped and reported, never
    returned as a partial memory table."""
    from cstore_fdw_spark.streaming import runner

    monkeypatch.setattr(runner, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError, match="did not drain"):
        drain(se.tumbling_counts(fixture_stream(spark, sf_dir, "events")),
              "t_timeout", "complete")
    assert spark.streams.active == []
