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

Each view has a state KIND, one ``(partial aggregate, merge)`` pair in
``_KINDS``: the measures kind (SUM/MIN/MAX per group) and the HLL
(MAX), Bloom (OR) and quantile-histogram (SUM) sketches. The batch
refresh and the stream sink (``streaming.aggview``) both merge through
that one table. Join views (``create_join_agg_view``) keep measures
state over ``fact ⋈ dim``.

Refresh modes, the rewrite and drop+recreate fallback to a full
recompute, the crash-atomic write-ahead pending commit and the refresh
lock are the derived-table protocol of ``cstore_fdw_spark.derived``,
shared with projections and every stream maintainer. The view itself
is an ordinary managed table — readable, SQL-exposable via
``register_table``, time-travelable — plus one JSON sidecar holding the
spec and the refresh watermark.
"""

from __future__ import annotations

from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, functions as F

from cstore_fdw_spark import derived
from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError, TableMeta

SIDECAR = "_cstore_aggview.json"
REFRESH_LOCK = "_cstore_aggview.refresh.lock"
_VIEWS = derived.Family(SIDECAR, REFRESH_LOCK, "_cstore_aggview_stream.json",
                        "an aggregate view")
_NUMERIC = ("tinyint", "smallint", "int", "bigint", "float", "double")


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


class _Kind(NamedTuple):
    partial: Callable[[DataFrame], DataFrame]  # source rows -> state rows
    merge: Callable[[DataFrame], DataFrame]    # stored ∪ partial -> state


def _measures(spec: dict[str, Any]) -> _Kind:
    keys, measures = spec["keys"], spec["measures"]
    return _Kind(lambda df: df.groupBy(*keys).agg(*_agg_exprs(measures)),
                 lambda union: union.groupBy(*keys)
                 .agg(*_merge_exprs(measures)))


def _hll(spec: dict[str, Any]) -> _Kind:
    # MAX-merge state kind: the aggregate is the register rollup and the
    # delta merge is per-(keys, reg) MAX — idempotent as well as
    # mergeable (a hypothetical re-merge couldn't even drift)
    from cstore_fdw_spark.operators.analytics import hll_registers
    keys, column = spec["keys"], spec["column"]
    return _Kind(lambda df: hll_registers(df, keys, column),
                 lambda union: union.groupBy(*keys, "reg")
                 .agg(F.max("m_rho").alias("m_rho")))


def _bloom(spec: dict[str, Any]) -> _Kind:
    # OR-merge state kind: the state is the distinct set-bit table, and
    # the delta merge is distinct union — idempotent like MAX
    from cstore_fdw_spark.operators.analytics import bloom_bits
    keys, column, m, k = spec["keys"], spec["column"], spec["m"], spec["k"]
    return _Kind(lambda df: bloom_bits(df, keys, column, m, k),
                 lambda union: union.distinct())


def _quantile(spec: dict[str, Any]) -> _Kind:
    # SUM-merge state kind over histogram buckets: the delta's per-(keys,
    # bucket) counts add onto the stored ones — the counter algebra of
    # the measures kind, so it relies on the same exactly-once commit
    from cstore_fdw_spark.operators.analytics import quantile_buckets
    keys, column = spec["keys"], spec["column"]
    lo, hi, nb = spec["lo"], spec["hi"], spec["nbuckets"]
    return _Kind(lambda df: quantile_buckets(df, keys, column, lo, hi, nb),
                 lambda union: union.groupBy(*keys, "bucket")
                 .agg(F.sum("cnt").cast("long").alias("cnt")))


#: state kind -> its (partial aggregate, merge) pair for a view's spec
_KINDS = {"measures": _measures, "join": _measures, "hll": _hll,
          "bloom": _bloom, "quantile": _quantile}


def _kind(spec: dict[str, Any]) -> _Kind:
    return _KINDS[spec.get("kind", "measures")](spec)


def _state(catalog: CStoreCatalog, view: str, spec: dict[str, Any],
           partial: DataFrame, full: bool = False) -> tuple[DataFrame, bool]:
    """The view's next state (always an overwrite): ``partial`` itself
    after a full recompute, else ``partial`` merged into the stored
    state by the view's kind."""
    if full:
        return partial, True
    return _kind(spec).merge(catalog.read(view).unionByName(partial)), True


def _require(spec: dict[str, Any], view: str, join: bool, use: str) -> None:
    """Refuse a view of the other shape than the entry point serves,
    naming the entry point ``use`` that serves it."""
    if (spec.get("kind") == "join") != join:
        shape = "single-table" if join else "join"
        raise CStoreError(
            f'"{view}" is a {shape} aggregate view — use {use}')


def _source_meta(catalog: CStoreCatalog, source: str,
                 columns: list[str]) -> TableMeta:
    smeta = catalog._load_meta(source)
    fields = set(smeta.schema().fieldNames())
    for c in columns:
        if c not in fields:
            raise CStoreError(
                f'column "{c}" not in source table "{source}"')
    return smeta


def _create(catalog: CStoreCatalog, view: str, spec: dict[str, Any],
            metas: dict[str, TableMeta], rows: DataFrame) -> None:
    """Create the view empty: its state schema is the kind's partial
    aggregate over ``rows`` (a zero-row plan gives the exact types)."""
    derived.create(catalog, _VIEWS, view, _kind(spec).partial(rows).schema,
                   spec, metas, version=2)


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
    :func:`hll_view_estimate`. Maintained by the derived-table protocol
    like every view: epoch-delta scans, rewrite/identity full-recompute
    fallback, and the crash-atomic pending commit."""
    smeta = _source_meta(catalog, source, keys + [column])
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
    _create(catalog, view, {
        "kind": "hll", "source": source, "keys": keys, "column": column},
        {"source": smeta}, catalog.read(source))


def hll_view_estimate(catalog: CStoreCatalog, view: str) -> DataFrame:
    """Finish the maintained register table into per-group distinct
    estimates — the batch operator's own finisher
    (``hll_estimate_from_registers``) over the stored state, so a
    dashboard read costs |groups| x 1024 rows, never a source scan."""
    from cstore_fdw_spark.operators.analytics import (
        hll_estimate_from_registers)

    spec = _VIEWS.load_spec(catalog, view)
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
    global filter). Probe with :func:`bloom_view_membership`. Maintained
    by the derived-table protocol: epoch-delta scans, rewrite/identity
    full-recompute fallback (a rewrite can CLEAR bits, which only a
    rebuild expresses — Bloom filters famously don't support deletion),
    and the crash-atomic pending commit."""
    smeta = _source_meta(catalog, source, keys + [column])
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
    _create(catalog, view, {
        "kind": "bloom", "source": source, "keys": keys,
        "column": column, "m": m, "k": k},
        {"source": smeta}, catalog.read(source))


def bloom_view_membership(catalog: CStoreCatalog, view: str,
                          probes: DataFrame) -> DataFrame:
    """Probe the maintained filter: ``probes`` carries the view's key
    columns (if any) plus a column named like the filtered source
    column; returns the probe columns plus ``bloom_member`` (true iff
    all k positions are set — never false for a present key, the
    one-sided guarantee). The set-bit table broadcasts (<= |groups| x m
    rows), so probing any corpus is one map-side join."""
    from cstore_fdw_spark.operators.analytics import bloom_positions

    spec = _VIEWS.load_spec(catalog, view)
    if spec.get("kind") != "bloom":
        raise CStoreError(f'"{view}" is not a Bloom filter view')
    keys, column = spec["keys"], spec["column"]
    bits = catalog.read(view).withColumn("present", F.lit(1))
    cols = keys + [column]
    pb = probes.select(*cols, F.explode(bloom_positions(
        column, spec["m"], spec["k"])).alias("bit"))
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
    Maintained by the derived-table protocol: epoch-delta scans,
    rewrite/identity full-recompute fallback (a rewrite can shrink
    counts, which only a rebuild expresses), and the crash-atomic
    pending commit."""
    smeta = _source_meta(catalog, source, keys + [column])
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
    if dt not in _NUMERIC:
        raise CStoreError(
            f'bucketed column "{column}" has non-numeric type {dt}')
    if not (lo < hi) or nbuckets < 2:
        raise CStoreError(
            "quantile geometry needs lo < hi and nbuckets >= 2")
    _create(catalog, view, {
        "kind": "quantile", "source": source, "keys": keys,
        "column": column, "lo": float(lo), "hi": float(hi),
        "nbuckets": int(nbuckets)},
        {"source": smeta}, catalog.read(source))


def quantile_view_estimate(catalog: CStoreCatalog, view: str,
                           qs: tuple = (50, 90, 99)) -> DataFrame:
    """Finish the maintained histogram into per-group percentile bound
    certificates — the batch operator's own finisher
    (``quantile_estimate_from_buckets``) over the stored state, so a
    dashboard read costs |groups| x nbuckets rows, never a source
    scan."""
    from cstore_fdw_spark.operators.analytics import (
        quantile_estimate_from_buckets)

    spec = _VIEWS.load_spec(catalog, view)
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
    smeta = _source_meta(catalog, source, keys + measures)
    if not keys or not measures:
        raise CStoreError("agg view needs at least one key and one measure")
    for m in measures:
        dt = smeta.schema()[m].dataType.simpleString()
        if dt not in _NUMERIC:
            raise CStoreError(
                f'measure "{m}" has non-numeric type {dt}')
    _create(catalog, view, {
        "source": source, "keys": keys, "measures": measures},
        {"source": smeta}, catalog.read(source))


def refresh_agg_view(catalog: CStoreCatalog, view: str) -> dict[str, Any]:
    """Bring the view up to the source's current epoch. Returns
    ``{"mode": "noop"|"incremental"|"full", "from_epoch", "to_epoch"}``.

    - ``noop``: nothing committed since the watermark.
    - ``incremental``: only data files stamped in
      ``(last_epoch, write_epoch]`` are scanned; their partial
      aggregates merge with the stored state by the view's kind
      (count/sum via sum, min/max via min/max, registers via max, bits
      via union) and the small state table is rewritten.
    - ``full``: the source's ``history_floor`` moved past the watermark
      (some rewrite collapsed history — the epochs the view was built
      from no longer exist as files), or the source table was dropped
      and recreated under the same name (``created_at`` identity
      changed — its epoch counter restarted, so the watermark is
      meaningless). The state recomputes from a full scan pinned to the
      refresh-start metadata snapshot. Correct for every rewrite kind,
      including ones that changed no data.

    Crash-safe and serialized by ``derived.refresh``'s write-ahead
    pending commit — a crash anywhere inside refresh never
    double-counts and never loses committed source rows."""
    def build(spec, snaps, full):
        rows = snaps["source"].read("all" if full else "new")
        return _state(catalog, view, spec, _kind(spec).partial(rows), full)

    return derived.refresh(
        catalog, _VIEWS, view, ("source",), build,
        lambda spec: _require(spec, view, False, "refresh_join_agg_view"))


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
        if mschema[m] not in _NUMERIC:
            raise CStoreError(
                f'measure "{m}" has non-numeric type {mschema[m]}')
    _create(catalog, view, {
        "kind": "join", "fact": fact, "dim": dim, "on": on,
        "keys": keys, "measures": measures},
        {"fact": fmeta, "dim": dmeta},
        catalog.read(fact).join(catalog.read(dim), on))


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
    def build(spec, snaps, full):
        fact, dim, on = snaps["fact"], snaps["dim"], spec["on"]
        if full:
            rows = fact.read().join(dim.read(), on)
        else:
            cols = spec["keys"] + spec["measures"]
            rows = (fact.read("new").join(dim.read(), on).select(*cols)
                    .unionByName(fact.read("old").join(dim.read("new"), on)
                                 .select(*cols)))
        return _state(catalog, view, spec, _kind(spec).partial(rows), full)

    return derived.refresh(
        catalog, _VIEWS, view, ("fact", "dim"), build,
        lambda spec: _require(spec, view, True, "refresh_agg_view"))
