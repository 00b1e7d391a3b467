"""Incrementally-maintained aggregate views over managed tables.

The reference is append-only (stripes accumulate per COPY/INSERT,
``cstore_writer.c``); this extension exploits exactly that property the
way a lakehouse materialized view does: an aggregate view records the
source's write epoch at every refresh, and the next refresh scans ONLY
the data files committed since (epoch stamps are already the insert
commit protocol — no new bookkeeping), merging mergeable aggregate
state (count/sum/min/max — avg is sum/count at read time) into the
stored per-group rows. At 100 TB this turns a nightly
full-table-group-by into a scan of one day's appends.

Rewrites (compact / DELETE / MERGE / vacuum / overwrite) collapse epoch
history — they raise the source's ``history_floor``, and the view
cannot tell a byte-identical compact from a destructive delete, so any
floor advance past the view's watermark triggers an honest FULL
recompute (same contract as ``read(as_of_epoch)`` refusing vacuumed
snapshots: never silently-wrong rows). A drop+recreate of the source
under the same name is detected the same way: the sidecar stores the
source's ``created_at`` identity, and a mismatch forces a full
recompute instead of serving state built from a dead table.

Crash atomicity. The state commit (``insert(view, state,
overwrite=True)``) and the watermark advance live in different files,
so a crash between them could otherwise re-merge the same delta on the
next refresh and silently double-count — violating this module's own
contract. The refresh therefore runs a write-ahead pending record:

1. the sidecar records ``pending = {view_epoch, finalize}`` where
   ``view_epoch`` is the epoch the state commit WILL stamp and
   ``finalize`` the watermark fields that advance applies;
2. the state commits through the ordinary insert protocol;
3. the sidecar applies ``finalize`` and clears ``pending``.

Recovery on the next refresh inspects the pending record against the
view's own epoch-stamped data files — the stamp IS the commit marker,
no new machinery: a visible file stamped ``e{view_epoch}-`` proves step
2's visibility commit happened (finalize the watermark, no re-merge); no
such file proves it did not (discard pending, redo the delta against the
still-intact old state). Either way exactly-once. Refreshes serialize on
a per-view flock so two concurrent refreshes cannot interleave their
pending records (the same discipline as the catalog's writer lock).

Full recomputes pin their scan to the metadata snapshot taken at
refresh start (explicit ``_read_files`` list, never a re-resolving
``read()``): a source commit landing while the refresh executes is NOT
folded into state stamped with the older watermark — it is picked up,
exactly once, by the next incremental refresh.

The view itself is an ordinary managed table — readable, SQL-exposable
via ``register_table``, time-travelable — plus one JSON sidecar holding
the spec and the refresh watermark.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, functions as F

from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError
from cstore_fdw_spark.fsutil import _file_epoch, flocked, write_json_atomic

SIDECAR = "_cstore_aggview.json"
REFRESH_LOCK = "_cstore_aggview.refresh.lock"


def _sidecar_path(catalog: CStoreCatalog, view: str) -> str:
    return os.path.join(catalog.table_path(view), SIDECAR)


def _load_spec(catalog: CStoreCatalog, view: str) -> dict[str, Any]:
    try:
        with open(_sidecar_path(catalog, view)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise CStoreError(
            f'"{view}" is not an aggregate view (no {SIDECAR})') from None


def _save_spec(catalog: CStoreCatalog, view: str,
               spec: dict[str, Any]) -> None:
    write_json_atomic(_sidecar_path(catalog, view), spec)


def _refresh_lock(catalog: CStoreCatalog, view: str):
    """Per-view refresh mutex. A separate file from the catalog's writer
    lock because ``insert()`` takes THAT lock internally — flock is not
    reentrant across file descriptors, so holding it here would deadlock
    the state commit."""
    return flocked(os.path.join(catalog.table_path(view), REFRESH_LOCK))


def _agg_exprs(measures: list[str]) -> list:
    exprs = [F.count(F.lit(1)).alias("n_rows")]
    for m in measures:
        exprs += [F.sum(m).alias(f"{m}_sum"),
                  F.min(m).alias(f"{m}_min"),
                  F.max(m).alias(f"{m}_max")]
    return exprs


def _merge_exprs(measures: list[str]) -> list:
    """Combine two partial-state row sets: every stored aggregate is
    MERGEABLE (that's the selection criterion), so the merge is the same
    function over the partials."""
    exprs = [F.sum("n_rows").alias("n_rows")]
    for m in measures:
        exprs += [F.sum(f"{m}_sum").alias(f"{m}_sum"),
                  F.min(f"{m}_min").alias(f"{m}_min"),
                  F.max(f"{m}_max").alias(f"{m}_max")]
    return exprs


def _aggregate(df: DataFrame, keys: list[str],
               measures: list[str]) -> DataFrame:
    return df.groupBy(*keys).agg(*_agg_exprs(measures))


def create_hll_agg_view(catalog: CStoreCatalog, view: str, source: str,
                        keys: list[str], column: str) -> None:
    """Declare an incrementally-maintained HyperLogLog sketch view: the
    state table is the (keys..., reg, m_rho) register rollup of
    ``operators.analytics.hll_registers`` over ``column``, and the merge
    kind is per-(keys, reg) MAX — the sketch algebra that combines
    partitions and micro-batches also combines EPOCH DELTAS, so
    ``refresh_agg_view`` maintains an always-current distinct-count
    sketch from appends without ever rescanning history (the "archived
    sketches" leg of HLL mergeability). Read the estimate with
    :func:`hll_view_estimate`. Shares the single-table refresh skeleton:
    epoch-delta scans, rewrite/identity full-recompute fallback, and the
    crash-atomic pending commit."""
    from cstore_fdw_spark.operators.analytics import hll_registers

    smeta = catalog._load_meta(source)
    fields = set(smeta.schema().fieldNames())
    for c in keys + [column]:
        if c not in fields:
            raise CStoreError(
                f'column "{c}" not in source table "{source}"')
    if not keys:
        raise CStoreError("hll agg view needs at least one key")
    if column in keys:
        raise CStoreError("the counted column cannot also be a key")
    # the state table appends its own columns next to the keys: a key
    # named like one of them would make hll_registers emit a duplicate
    # column and fail much later with an opaque AnalysisException —
    # reject at create time, mirroring the counted-column guard
    for c in keys:
        if c in ("reg", "m_rho", "rho", "__hll_h"):
            raise CStoreError(
                f'key "{c}" collides with a reserved HLL state column')
    probe = hll_registers(catalog.read(source), keys, column)
    catalog.create_table(view, probe.schema)
    _save_spec(catalog, view, {
        "kind": "hll", "source": source, "keys": keys, "column": column,
        "last_epoch": 0, "source_created_at": smeta.created_at,
        "pending": None, "version": 2})


def hll_view_estimate(catalog: CStoreCatalog, view: str) -> DataFrame:
    """Finish the maintained register table into per-group distinct
    estimates — the batch operator's own finisher
    (``hll_estimate_from_registers``) over the stored state, so a
    dashboard read costs |groups| x 1024 rows, never a source scan."""
    from cstore_fdw_spark.operators.analytics import (
        hll_estimate_from_registers)

    spec = _load_spec(catalog, view)
    if spec.get("kind") != "hll":
        raise CStoreError(f'"{view}" is not an HLL sketch view')
    keys = spec["keys"]
    regs = (catalog.read(view)
            .select(F.struct(*keys).alias("grp"), "reg", "m_rho"))
    est = hll_estimate_from_registers(regs)
    return est.select(
        *[F.col(f"grp.{k}").alias(k) for k in keys],
        "zero_registers", "denom", "raw_estimate", "distinct_estimate")


def create_bloom_agg_view(catalog: CStoreCatalog, view: str, source: str,
                          keys: list[str], column: str,
                          m: int = 1024, k: int = 4) -> None:
    """Declare an incrementally-maintained Bloom filter: the state table
    is the DISTINCT (keys..., bit) set-bit table of
    ``operators.analytics.bloom_bits`` over ``column`` (<= |groups| x m
    rows no matter how many keys stream in), and the merge kind is
    distinct union — the OR that combines filters across partitions and
    batches also combines EPOCH DELTAS, completing the three sketch
    merge algebras the aggview family maintains (SUM for counters, MAX
    for HLL registers, OR for bit sets). ``keys`` may be empty (one
    global filter). Probe with :func:`bloom_view_membership`. Shares
    the single-table refresh skeleton: epoch-delta scans,
    rewrite/identity full-recompute fallback (a rewrite can CLEAR bits,
    which only a rebuild expresses — Bloom filters famously don't
    support deletion), and the crash-atomic pending commit."""
    from cstore_fdw_spark.operators.analytics import bloom_bits

    smeta = catalog._load_meta(source)
    fields = set(smeta.schema().fieldNames())
    for c in keys + [column]:
        if c not in fields:
            raise CStoreError(
                f'column "{c}" not in source table "{source}"')
    if column in keys:
        raise CStoreError("the filtered column cannot also be a key")
    # same reserved-name guard as the HLL view: the state table and the
    # membership probe both add a "bit" column next to the keys (and
    # the probe also carries ``column`` itself)
    for c in keys + [column]:
        if c == "bit":
            raise CStoreError(
                f'column "{c}" collides with the reserved Bloom '
                'state column "bit"')
    if m < 2 or k < 1:
        raise CStoreError("bloom geometry needs m >= 2 and k >= 1")
    probe = bloom_bits(catalog.read(source), keys, column, m, k)
    catalog.create_table(view, probe.schema)
    _save_spec(catalog, view, {
        "kind": "bloom", "source": source, "keys": keys,
        "column": column, "m": m, "k": k,
        "last_epoch": 0, "source_created_at": smeta.created_at,
        "pending": None, "version": 2})


def bloom_view_membership(catalog: CStoreCatalog, view: str,
                          probes: DataFrame) -> DataFrame:
    """Probe the maintained filter: ``probes`` carries the view's key
    columns (if any) plus a column named like the filtered source
    column; returns the probe columns plus ``bloom_member`` (true iff
    all k positions are set — never false for a present key, the
    one-sided guarantee). The set-bit table broadcasts (<= |groups| x m
    rows), so probing any corpus is one map-side join."""
    from cstore_fdw_spark.functions.portable_hash import spark_w32

    spec = _load_spec(catalog, view)
    if spec.get("kind") != "bloom":
        raise CStoreError(f'"{view}" is not a Bloom filter view')
    keys, column = spec["keys"], spec["column"]
    m, k = spec["m"], spec["k"]
    key = f"cast({column} as string)"
    arr = F.array(*[(F.expr(spark_w32(key, i)) % m) for i in range(k)])
    bits = catalog.read(view).withColumn("present", F.lit(1))
    cols = keys + [column]
    pb = probes.select(*cols, F.explode(arr).alias("bit"))
    # all-positions-set via MIN, not SUM == k: a duplicate probe row
    # contributes 2k exploded rows and would break the SUM count while
    # MIN stays a pure all() — the no-false-negative guarantee must
    # survive duplicate probes
    return (pb.join(F.broadcast(bits), keys + ["bit"], "left")
            .groupBy(*cols)
            .agg((F.min(F.coalesce("present", F.lit(0))) == 1)
                 .alias("bloom_member")))


def create_quantile_agg_view(catalog: CStoreCatalog, view: str,
                             source: str, keys: list[str], column: str,
                             lo: float, hi: float,
                             nbuckets: int = 1024) -> None:
    """Declare an incrementally-maintained quantile-histogram sketch:
    the state table is the (keys..., bucket, cnt) equi-width histogram
    of ``operators.analytics.quantile_buckets`` over ``column`` (<=
    |groups| x nbuckets rows for in-range data no matter how many rows
    stream in), and the merge kind is per-(keys, bucket) SUM — the
    counter algebra that combines partitions and micro-batches also
    combines EPOCH DELTAS, completing the fourth mergeable sketch the
    aggview family maintains (SUM counters, MAX HLL registers, OR Bloom
    bits, and now SUM histogram buckets). Read percentile bounds with
    :func:`quantile_view_estimate`. The geometry (lo, hi, nbuckets) is
    fixed at create time — identical bucket boundaries are what make
    the state mergeable and the [q_lo, q_hi) certificate deterministic.
    Nullable ``column``s are accepted: ``quantile_buckets`` filters
    NULLs in the one shared definition, so the maintained state never
    holds a bucket=NULL row and ``n`` counts non-null rows only (the
    ``percentile_cont`` convention).
    Shares the single-table refresh skeleton: epoch-delta scans,
    rewrite/identity full-recompute fallback (a rewrite can shrink
    counts, which only a rebuild expresses), and the crash-atomic
    pending commit."""
    from cstore_fdw_spark.operators.analytics import quantile_buckets

    smeta = catalog._load_meta(source)
    fields = set(smeta.schema().fieldNames())
    for c in keys + [column]:
        if c not in fields:
            raise CStoreError(
                f'column "{c}" not in source table "{source}"')
    if not keys:
        raise CStoreError("quantile agg view needs at least one key")
    if column in keys:
        raise CStoreError("the bucketed column cannot also be a key")
    for c in keys:
        if c in ("bucket", "cnt"):
            raise CStoreError(
                f'key "{c}" collides with a reserved quantile state '
                'column')
    dt = smeta.schema()[column].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint",
                  "float", "double"):
        raise CStoreError(
            f'bucketed column "{column}" has non-numeric type {dt}')
    if not (lo < hi) or nbuckets < 2:
        raise CStoreError(
            "quantile geometry needs lo < hi and nbuckets >= 2")
    probe = quantile_buckets(catalog.read(source), keys, column,
                             lo, hi, nbuckets)
    catalog.create_table(view, probe.schema)
    _save_spec(catalog, view, {
        "kind": "quantile", "source": source, "keys": keys,
        "column": column, "lo": float(lo), "hi": float(hi),
        "nbuckets": int(nbuckets),
        "last_epoch": 0, "source_created_at": smeta.created_at,
        "pending": None, "version": 2})


def quantile_view_estimate(catalog: CStoreCatalog, view: str,
                           qs: tuple = (50, 90, 99)) -> DataFrame:
    """Finish the maintained histogram into per-group percentile bound
    certificates — the batch operator's own finisher
    (``quantile_estimate_from_buckets``) over the stored state, so a
    dashboard read costs |groups| x nbuckets rows, never a source
    scan."""
    from cstore_fdw_spark.operators.analytics import (
        quantile_estimate_from_buckets)

    spec = _load_spec(catalog, view)
    if spec.get("kind") != "quantile":
        raise CStoreError(f'"{view}" is not a quantile sketch view')
    keys = spec["keys"]
    counts = (catalog.read(view)
              .select(F.struct(*keys).alias("grp"), "bucket", "cnt"))
    est = quantile_estimate_from_buckets(
        counts, spec["lo"], spec["hi"], spec["nbuckets"], qs)
    return est.select(
        *[F.col(f"grp.{k}").alias(k) for k in keys],
        "q", "n", "rnk", "bucket", "q_lo", "q_hi")


def create_agg_view(catalog: CStoreCatalog, view: str, source: str,
                    keys: list[str], measures: list[str]) -> None:
    """Declare an aggregate view: per-``keys`` group, ``n_rows`` plus
    ``{m}_sum/_min/_max`` for each measure. The view starts EMPTY at
    watermark 0 — the first :func:`refresh_agg_view` populates it (and,
    on a fresh source, is already the incremental path)."""
    smeta = catalog._load_meta(source)
    fields = set(smeta.schema().fieldNames())
    for c in keys + measures:
        if c not in fields:
            raise CStoreError(
                f'column "{c}" not in source table "{source}"')
    if not keys or not measures:
        raise CStoreError("agg view needs at least one key and one measure")
    for m in measures:
        dt = smeta.schema()[m].dataType.simpleString()
        if dt not in ("tinyint", "smallint", "int", "bigint",
                      "float", "double"):
            raise CStoreError(
                f'measure "{m}" has non-numeric type {dt}')
    # schema probe: a zero-row plan gives the exact aggregate types
    probe = _aggregate(catalog.read(source), keys, measures)
    catalog.create_table(view, probe.schema)
    _save_spec(catalog, view, {
        "source": source, "keys": keys, "measures": measures,
        "last_epoch": 0, "source_created_at": smeta.created_at,
        "pending": None, "version": 2})


def _recover_pending(catalog: CStoreCatalog, view: str,
                     spec: dict[str, Any]) -> bool:
    """Resolve a refresh that crashed between its state commit and its
    watermark finalize (or between the pending write and the commit).

    The view's data-file epoch stamps decide which side of the commit
    point the crash fell on: a visible file stamped with the pending
    ``view_epoch`` can only exist if the state insert's visibility
    commit happened (the stamp is baked under the writer lock right
    before the metadata save — the same evidence ``_recover_orphans``
    uses in the other direction). Note the view's ``write_epoch`` alone
    is NOT sufficient evidence: an overwrite-insert saves the bumped
    epoch before swapping the data directories, so a crash inside that
    window advances the epoch while the old state files remain — the
    stamp check reads as not-committed there, which is exactly right
    (the old state is still what's on disk, so the delta re-merges
    against it). Returns True if the watermark was finalized."""
    pending = spec.get("pending")
    if not pending:
        return False
    committed = catalog._epoch_committed(view, int(pending["view_epoch"]))
    if committed:
        spec.update(pending["finalize"])
    spec["pending"] = None
    _save_spec(catalog, view, spec)
    return committed


def refresh_agg_view(catalog: CStoreCatalog, view: str) -> dict[str, Any]:
    """Bring the view up to the source's current epoch. Returns
    ``{"mode": "noop"|"incremental"|"full", "from_epoch", "to_epoch"}``.

    - ``noop``: nothing committed since the watermark.
    - ``incremental``: only data files stamped in
      ``(last_epoch, write_epoch]`` are scanned; their partial
      aggregates merge with the stored state (count/sum via sum,
      min/max via min/max) and the small state table is rewritten.
    - ``full``: the source's ``history_floor`` moved past the watermark
      (some rewrite collapsed history — the epochs the view was built
      from no longer exist as files), or the source table was dropped
      and recreated under the same name (``created_at`` identity
      changed — its epoch counter restarted, so the watermark is
      meaningless). The state recomputes from a full scan pinned to the
      refresh-start metadata snapshot. Correct for every rewrite kind,
      including ones that changed no data.

    Crash-safe and serialized: see the module docstring's write-ahead
    pending protocol — a crash anywhere inside refresh never
    double-counts and never loses committed source rows."""
    with _refresh_lock(catalog, view):
        return _refresh_locked(catalog, view)


def _refresh_locked(catalog: CStoreCatalog, view: str) -> dict[str, Any]:
    spec = _load_spec(catalog, view)
    if spec.get("kind") == "join":
        raise CStoreError(
            f'"{view}" is a join aggregate view — use '
            "refresh_join_agg_view")
    _recover_pending(catalog, view, spec)
    smeta = catalog._load_meta(spec["source"])
    keys = spec["keys"]
    if spec.get("kind") == "hll":
        # MAX-merge state kind: the aggregate is the register rollup and
        # the delta merge is per-(keys, reg) MAX — idempotent as well as
        # mergeable, which is why the same crash-atomic commit tail needs
        # no changes (a hypothetical re-merge couldn't even drift)
        from cstore_fdw_spark.operators.analytics import hll_registers
        column = spec["column"]

        def _agg(df: DataFrame) -> DataFrame:
            return hll_registers(df, keys, column)

        def _merge(old: DataFrame, partial: DataFrame) -> DataFrame:
            return (old.unionByName(partial).groupBy(*keys, "reg")
                    .agg(F.max("m_rho").alias("m_rho")))
    elif spec.get("kind") == "bloom":
        # OR-merge state kind: the state is the distinct set-bit table,
        # and the delta merge is distinct union — idempotent like MAX
        from cstore_fdw_spark.operators.analytics import bloom_bits
        column, m, k = spec["column"], spec["m"], spec["k"]

        def _agg(df: DataFrame) -> DataFrame:
            return bloom_bits(df, keys, column, m, k)

        def _merge(old: DataFrame, partial: DataFrame) -> DataFrame:
            return old.unionByName(partial).distinct()
    elif spec.get("kind") == "quantile":
        # SUM-merge state kind over histogram buckets: the delta's
        # per-(keys, bucket) counts add onto the stored ones — the same
        # counter algebra as the standard measures kind, so the
        # crash-atomic commit tail (pending record -> state insert ->
        # finalize) provides the exactly-once the non-idempotent SUM
        # needs, exactly as it does for n_rows/_sum measures
        from cstore_fdw_spark.operators.analytics import quantile_buckets
        column = spec["column"]
        lo, hi, nb = spec["lo"], spec["hi"], spec["nbuckets"]

        def _agg(df: DataFrame) -> DataFrame:
            return quantile_buckets(df, keys, column, lo, hi, nb)

        def _merge(old: DataFrame, partial: DataFrame) -> DataFrame:
            return (old.unionByName(partial).groupBy(*keys, "bucket")
                    .agg(F.sum("cnt").cast("long").alias("cnt")))
    else:
        measures = spec["measures"]

        def _agg(df: DataFrame) -> DataFrame:
            return _aggregate(df, keys, measures)

        def _merge(old: DataFrame, partial: DataFrame) -> DataFrame:
            return (old.unionByName(partial).groupBy(*keys)
                    .agg(*_merge_exprs(measures)))
    last = int(spec["last_epoch"])
    cur = smeta.write_epoch
    # drop+recreate under the same name restarts the epoch counter: the
    # stored identity unmasks it (a fresh table can reuse watermark-low
    # epochs for entirely different data)
    same_source = spec.get("source_created_at",
                           smeta.created_at) == smeta.created_at
    if same_source and smeta.history_floor <= last and cur == last:
        return {"mode": "noop", "from_epoch": last, "to_epoch": cur}
    if not same_source or smeta.history_floor > last:
        # full recompute, pinned to the snapshot captured above: a
        # commit landing during execution stamps an epoch > cur and must
        # wait for the NEXT refresh (last_epoch records cur)
        state = _agg(
            catalog._read_files(smeta, catalog._visible_files(smeta)))
        mode = "full"
    else:
        delta_files = [p for p in catalog._visible_files(smeta)
                       if _file_epoch(p) > last]
        delta = catalog._read_files(smeta, delta_files)
        state = _merge(catalog.read(view), _agg(delta))
        mode = "incremental"
    # write-ahead pending record: the state commit below will stamp the
    # view's next epoch; recovery uses that stamp as the commit marker
    finalize = {"last_epoch": cur, "source_created_at": smeta.created_at}
    _commit_state(catalog, view, spec, state, finalize)
    return {"mode": mode, "from_epoch": last, "to_epoch": cur}


def _commit_state(catalog: CStoreCatalog, view: str, spec: dict[str, Any],
                  state: DataFrame, finalize: dict[str, Any]) -> None:
    """The shared crash-atomic commit tail: pending record → state
    insert → finalize. ``finalize`` holds exactly the spec fields the
    watermark advance sets; recovery applies it verbatim when the view's
    epoch stamp proves the insert committed."""
    vmeta = catalog._load_meta(view)
    spec["pending"] = {"view_epoch": vmeta.write_epoch + 1,
                       "finalize": finalize}
    _save_spec(catalog, view, spec)
    catalog.insert(view, state, overwrite=True)
    spec.update(finalize)
    spec["pending"] = None
    _save_spec(catalog, view, spec)


# ------------------------------------------------------- join agg views

def create_join_agg_view(catalog: CStoreCatalog, view: str, fact: str,
                         dim: str, on: list[str], keys: list[str],
                         measures: list[str]) -> None:
    """Declare an aggregate view over ``fact ⋈ dim`` (equi-join on
    ``on``): per-``keys`` group, ``n_rows`` plus ``{m}_sum/_min/_max``
    per measure — keys and measures may come from either side (the
    classic star-schema rollup: group fact measures by dim attributes).
    Non-join column names must not collide across the two tables (the
    delta algebra below re-joins slices of both; ambiguity would make
    the rollup ill-defined)."""
    fmeta = catalog._load_meta(fact)
    dmeta = catalog._load_meta(dim)
    ffields = set(fmeta.schema().fieldNames())
    dfields = set(dmeta.schema().fieldNames())
    overlap = (ffields & dfields) - set(on)
    if overlap:
        raise CStoreError(
            f"non-join columns {sorted(overlap)} exist in both "
            f'"{fact}" and "{dim}" — rename or project them first')
    for c in on:
        if c not in ffields or c not in dfields:
            raise CStoreError(f'join column "{c}" must exist in both tables')
    avail = (ffields | dfields)
    for c in keys + measures:
        if c not in avail:
            raise CStoreError(f'column "{c}" not in "{fact}" or "{dim}"')
    if not keys or not measures:
        raise CStoreError("agg view needs at least one key and one measure")
    mschema = {f.name: f.dataType.simpleString()
               for f in list(fmeta.schema().fields)
               + list(dmeta.schema().fields)}
    for m in measures:
        if mschema[m] not in ("tinyint", "smallint", "int", "bigint",
                              "float", "double"):
            raise CStoreError(
                f'measure "{m}" has non-numeric type {mschema[m]}')
    probe = _aggregate(catalog.read(fact).join(catalog.read(dim), on),
                       keys, measures)
    catalog.create_table(view, probe.schema)
    _save_spec(catalog, view, {
        "kind": "join", "fact": fact, "dim": dim, "on": on,
        "keys": keys, "measures": measures,
        "last_fact_epoch": 0, "last_dim_epoch": 0,
        "fact_created_at": fmeta.created_at,
        "dim_created_at": dmeta.created_at,
        "pending": None, "version": 2})


def refresh_join_agg_view(catalog: CStoreCatalog,
                          view: str) -> dict[str, Any]:
    """Bring a join view up to both sources' current epochs using the
    append-only delta-join algebra:

        F_new ⋈ D_new  =  F_old ⋈ D_old   (the stored state)
                        ⊎ ΔF ⋈ D_new      (new fact rows, full dim)
                        ⊎ F_old ⋈ ΔD      (old fact rows × new dim rows)

    The three terms partition the joined bag exactly (each (f, d) pair
    falls in one term by which side is new), so the two delta terms'
    partial aggregates merge into the stored state with the same
    mergeable-state arithmetic as single-table views. Cost honesty at
    100 TB: ΔF ⋈ D_new is delta-sized; F_old ⋈ ΔD scans old fact data
    pruned only by the join key (zone maps / dynamic pruning on ``on``
    help; a deployment appending to BOTH sides constantly should
    instead key the view on the fact side and treat the dim as slowly
    changing). Rewrites or drop+recreate on EITHER side force the same
    honest full recompute, pinned to both metadata snapshots, as the
    single-table path; the crash-atomic pending commit is shared."""
    with _refresh_lock(catalog, view):
        return _refresh_join_locked(catalog, view)


def _refresh_join_locked(catalog: CStoreCatalog,
                         view: str) -> dict[str, Any]:
    spec = _load_spec(catalog, view)
    if spec.get("kind") != "join":
        raise CStoreError(
            f'"{view}" is a single-table aggregate view — use '
            "refresh_agg_view")
    _recover_pending(catalog, view, spec)
    fmeta = catalog._load_meta(spec["fact"])
    dmeta = catalog._load_meta(spec["dim"])
    on, keys, measures = spec["on"], spec["keys"], spec["measures"]
    lastf = int(spec["last_fact_epoch"])
    lastd = int(spec["last_dim_epoch"])
    curf, curd = fmeta.write_epoch, dmeta.write_epoch
    same = (spec.get("fact_created_at") == fmeta.created_at
            and spec.get("dim_created_at") == dmeta.created_at)
    result = {"from_fact_epoch": lastf, "to_fact_epoch": curf,
              "from_dim_epoch": lastd, "to_dim_epoch": curd}
    if (same and fmeta.history_floor <= lastf and curf == lastf
            and dmeta.history_floor <= lastd and curd == lastd):
        return {"mode": "noop", **result}
    fact_all = catalog._visible_files(fmeta)
    dim_all = catalog._visible_files(dmeta)
    if (not same or fmeta.history_floor > lastf
            or dmeta.history_floor > lastd):
        state = _aggregate(
            catalog._read_files(fmeta, fact_all)
            .join(catalog._read_files(dmeta, dim_all), on),
            keys, measures)
        mode = "full"
    else:
        f_delta = [p for p in fact_all if _file_epoch(p) > lastf]
        f_old = [p for p in fact_all if _file_epoch(p) <= lastf]
        d_delta = [p for p in dim_all if _file_epoch(p) > lastd]
        new_fact = (catalog._read_files(fmeta, f_delta)
                    .join(catalog._read_files(dmeta, dim_all), on))
        old_x_newdim = (catalog._read_files(fmeta, f_old)
                        .join(catalog._read_files(dmeta, d_delta), on))
        cols = keys + measures
        partial = _aggregate(
            new_fact.select(*cols).unionByName(old_x_newdim.select(*cols)),
            keys, measures)
        state = (catalog.read(view).unionByName(partial)
                 .groupBy(*keys).agg(*_merge_exprs(measures)))
        mode = "incremental"
    finalize = {"last_fact_epoch": curf, "last_dim_epoch": curd,
                "fact_created_at": fmeta.created_at,
                "dim_created_at": dmeta.created_at}
    _commit_state(catalog, view, spec, state, finalize)
    return {"mode": mode, **result}
