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
  the base — DELETE/MERGE/compact/drop+recreate — honestly rebuilds,
  same floor/identity discipline as the aggview family);
- ``best_projection`` picks the projection whose sort prefix matches
  the queried columns and is FRESH (watermark == base epoch); anything
  stale or unmatched falls back to the base, never silently serving
  missing rows.

Crash atomicity reuses the aggview write-ahead pattern with append
evidence: the sidecar records the epoch the append WILL stamp before
the insert; recovery finds a visible file with that stamp (append
committed → finalize watermark) or not (redo the delta — the old
projection content is untouched, appends either fully land or roll
back under the insert protocol). Either way the projection never holds
a delta twice.

Scale: refresh cost is O(delta); the range repartition gives each
appended batch globally-ordered files so parquet row-group zone maps
prune range predicates on the sort key (asserted via scan metrics in
``tests/test_projections.py``). At 100 TB the projection trades ~1×
extra storage per sort order for scan-time pruning on a second
dimension — exactly C-Store's bargain.
"""

from __future__ import annotations

import json
import os
from typing import Any

from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError
from cstore_fdw_spark.fsutil import _file_epoch, flocked, write_json_atomic

SIDECAR = "_cstore_projection.json"
LOCK = "_cstore_projection.refresh.lock"


def _sidecar_path(catalog: CStoreCatalog, name: str) -> str:
    return os.path.join(catalog.table_path(name), SIDECAR)


def _load_spec(catalog: CStoreCatalog, name: str) -> dict[str, Any]:
    try:
        with open(_sidecar_path(catalog, name)) as f:
            return json.load(f)
    except FileNotFoundError:
        raise CStoreError(
            f'"{name}" is not a projection (no {SIDECAR})') from None


def _save_spec(catalog: CStoreCatalog, name: str,
               spec: dict[str, Any]) -> None:
    write_json_atomic(_sidecar_path(catalog, name), spec)


def _refresh_lock(catalog: CStoreCatalog, name: str):
    """Per-projection refresh mutex, separate from the writer lock that
    ``insert()`` takes inside it (see ``aggview._refresh_lock``)."""
    return flocked(os.path.join(catalog.table_path(name), LOCK))


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
    catalog.create_table(name, bmeta.schema(), **opts)
    _save_spec(catalog, name, {
        "base": base, "sort_by": sort_by, "last_epoch": 0,
        "base_created_at": bmeta.created_at, "pending": None,
        "version": 1})


def _recover_pending(catalog: CStoreCatalog, name: str,
                     spec: dict[str, Any]) -> None:
    pending = spec.get("pending")
    if not pending:
        return
    if catalog._epoch_committed(name, int(pending["view_epoch"])):
        spec.update(pending["finalize"])
    spec["pending"] = None
    _save_spec(catalog, name, spec)


def refresh_projection(catalog: CStoreCatalog,
                       name: str) -> dict[str, Any]:
    """Sync the projection to the base's current epoch. Modes mirror the
    aggview contract: ``noop`` / ``incremental`` (delta files only,
    appended sorted) / ``full`` (base history collapsed or identity
    changed → rebuild via overwrite)."""
    with _refresh_lock(catalog, name):
        spec = _load_spec(catalog, name)
        _recover_pending(catalog, name, spec)
        bmeta = catalog._load_meta(spec["base"])
        last = int(spec["last_epoch"])
        cur = bmeta.write_epoch
        sort_by = spec["sort_by"]
        same = spec.get("base_created_at") == bmeta.created_at
        if same and bmeta.history_floor <= last and cur == last:
            return {"mode": "noop", "from_epoch": last, "to_epoch": cur}
        vis = catalog._visible_files(bmeta)
        if not same or bmeta.history_floor > last:
            df = catalog._read_files(bmeta, vis)
            overwrite, mode = True, "full"
        else:
            delta = [p for p in vis if _file_epoch(p) > last]
            df = catalog._read_files(bmeta, delta)
            overwrite, mode = False, "incremental"
        # global order per batch: range partitioning makes every output
        # file cover a disjoint sort-key range, so zone maps prune
        df = df.repartitionByRange(*sort_by)
        pmeta = catalog._load_meta(name)
        spec["pending"] = {"view_epoch": pmeta.write_epoch + 1,
                           "finalize": {
                               "last_epoch": cur,
                               "base_created_at": bmeta.created_at}}
        _save_spec(catalog, name, spec)
        catalog.insert(name, df, overwrite=overwrite)
        spec["last_epoch"] = cur
        spec["base_created_at"] = bmeta.created_at
        spec["pending"] = None
        _save_spec(catalog, name, spec)
        return {"mode": mode, "from_epoch": last, "to_epoch": cur}


def list_projections(catalog: CStoreCatalog, base: str) -> list[str]:
    out = []
    for t in catalog.list_tables():
        path = _sidecar_path(catalog, t)
        if os.path.exists(path):
            with open(path) as f:
                if json.load(f).get("base") == base:
                    out.append(t)
    return sorted(out)


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
        spec = _load_spec(catalog, t)
        fresh = (spec.get("base_created_at") == bmeta.created_at
                 and int(spec["last_epoch"]) == bmeta.write_epoch
                 and bmeta.history_floor <= int(spec["last_epoch"]))
        if not fresh:
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
