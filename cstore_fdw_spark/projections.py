"""C-Store-style projections: redundant sorted copies of a managed
table, each clustered for a different predicate family.

The reference's direct ancestor (Stonebraker et al., C-Store '05) made
this the central storage idea: a logical table is stored as several
*projections*, each sorted on different columns, and the planner scans
whichever one's sort order serves the query — min/max skip indexes are
only as good as the correlation between file order and the filtered
column. cstore_fdw kept the skip indexes but dropped multi-projection
storage (one foreign table = one file, README.md); this module restores
it Spark-natively over the epoch commit protocol:

- ``create_projection`` declares a sorted copy (an ordinary managed
  table with a ``sort_by`` layout) plus a sidecar watermark;
- ``refresh_projection`` syncs it INCREMENTALLY — only the base's data
  files stamped since the watermark are read, range-repartitioned on
  the sort key, sorted within partitions, and appended (a rewrite on
  the base — DELETE/MERGE/compact/drop+recreate — honestly rebuilds);
- ``best_projection`` picks the projection whose sort prefix matches
  the queried columns and is FRESH (watermark == base epoch); anything
  stale or unmatched falls back to the base, never silently serving
  missing rows.

Refresh modes, the rebuild fallback, the crash-atomic pending commit
(an append either fully lands or is redone, never held twice) and the
refresh lock are the derived-table protocol of
``cstore_fdw_spark.derived``; this module adds only the range-sorted
write (``_sorted``), which the batch refresh and the stream
(``streaming.projections``) share.

Scale: refresh cost is O(delta); the range repartition gives each
appended batch globally-ordered files so parquet row-group zone maps
prune range predicates on the sort key (asserted via scan metrics in
``tests/test_projections.py``). At 100 TB the projection trades ~1×
extra storage per sort order for scan-time pruning on a second
dimension — exactly C-Store's bargain.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from cstore_fdw_spark import derived
from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError

SIDECAR = "_cstore_projection.json"
LOCK = "_cstore_projection.refresh.lock"
_PROJECTIONS = derived.Family(SIDECAR, LOCK, "_cstore_projection_stream.json",
                              "a projection")


def _sorted(spec: dict[str, Any], rows: DataFrame,
            full: bool = False) -> tuple[DataFrame, bool]:
    """Write ``rows`` into the projection: appended, or overwriting on a
    rebuild. Range partitioning gives every output file a disjoint
    sort-key range, so zone maps prune within each write."""
    return rows.repartitionByRange(*spec["sort_by"]), full


def create_projection(catalog: CStoreCatalog, base: str, name: str,
                      sort_by: list[str]) -> None:
    """Declare a projection of ``base`` clustered on ``sort_by``. Starts
    empty at watermark 0 — the first refresh populates it."""
    bmeta = catalog._load_meta(base)
    fields = set(bmeta.schema().fieldNames())
    if not sort_by:
        raise CStoreError("projection needs at least one sort column")
    for c in sort_by:
        if c not in fields:
            raise CStoreError(f'sort column "{c}" not in "{base}"')
    # inherit the base's storage layout (block/stripe/compression/bloom)
    # so the projection's zone-map granularity matches; only the sort
    # order differs — that IS the projection
    opts = {k: v for k, v in bmeta.options.items()
            if k in ("compression", "stripe_row_count", "block_row_count",
                     "storage_format", "bloom_filter_columns",
                     "bloom_filter_ndv")}
    opts["sort_by"] = ",".join(sort_by)
    derived.create(catalog, _PROJECTIONS, name, bmeta.schema(),
                   {"base": base, "sort_by": sort_by}, {"base": bmeta},
                   version=1, **opts)


def refresh_projection(catalog: CStoreCatalog,
                       name: str) -> dict[str, Any]:
    """Sync the projection to the base's current epoch. Modes mirror the
    aggview contract: ``noop`` / ``incremental`` (delta files only,
    appended sorted) / ``full`` (base history collapsed or identity
    changed → rebuild via overwrite)."""
    def build(spec, snaps, full):
        return _sorted(spec, snaps["base"].read("all" if full else "new"),
                       full)

    return derived.refresh(catalog, _PROJECTIONS, name, ("base",), build)


def list_projections(catalog: CStoreCatalog, base: str) -> list[str]:
    return sorted(
        t for t in catalog.list_tables()
        if os.path.exists(_PROJECTIONS.sidecar_path(catalog, t))
        and _PROJECTIONS.load_spec(catalog, t).get("base") == base)


def best_projection(catalog: CStoreCatalog, base: str,
                    filter_cols: list[str]) -> str:
    """The read-side planner: pick the FRESH projection whose sort-key
    prefix covers the most leading filter columns; ties break on name.
    Stale projections (watermark behind the base epoch, floor passed,
    or identity changed) are never chosen — freshness beats pruning,
    the reader must not lose rows. Falls back to ``base``."""
    bmeta = catalog._load_meta(base)
    want = set(filter_cols)
    best_name, best_len = base, 0
    for t in list_projections(catalog, base):
        spec = _PROJECTIONS.load_spec(catalog, t)
        if derived.refresh_mode(spec, {"base": bmeta}) != "noop":
            continue
        n = 0
        for c in spec["sort_by"]:
            if c in want:
                n += 1
            else:
                break
        if n > best_len:
            best_name, best_len = t, n
    return best_name


def read_optimized(catalog: CStoreCatalog, base: str,
                   filter_cols: list[str]):
    """Scan the best available physical representation for a query
    filtering on ``filter_cols`` — C-Store's projection selection as a
    two-line reader API."""
    return catalog.read(best_projection(catalog, base, filter_cols))
