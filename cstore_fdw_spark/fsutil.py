"""Filesystem primitives shared by the catalog, its sidecar writers and
the cstore reader: the data-file epoch stamp, the atomic JSON replace
(the reference's footer temp-file + rename, cstore_writer.c:344-357)
and its tolerant reader, the exclusive flock and the per-user build
cache. Standard library only, so every module can import it without an
import cycle."""

from __future__ import annotations

import fcntl
import json
import os
from contextlib import contextmanager
from typing import Any, Iterator


#: the per-user build cache: the pglz kernels (one library per hash of
#: ``pglz.c``) and the shipped package archives (one per source digest)
CACHE_DIR = os.path.join(os.path.expanduser("~"), ".cache",
                         "cstore_fdw_spark")


def _file_epoch(path: str) -> int:
    """Epoch of a data file's ``e{epoch:012d}-`` name stamp (0 for
    unstamped/rewritten files)."""
    base = os.path.basename(path)
    if base.startswith("e") and len(base) > 13 and base[13] == "-" \
            and base[1:13].isdigit():
        return int(base[1:13])
    return 0


def write_json_atomic(path: str, obj: Any) -> None:
    """Replace ``path`` with ``obj`` as JSON: readers see the old or the
    new document, never a torn one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_json_or_empty(path: str) -> dict:
    """The JSON document :func:`write_json_atomic` left at ``path``; a
    missing or torn file reads as ``{}``. Every streaming sink's ledger
    (ingest and the derived-table sink) is read through it."""
    try:
        with open(path) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return {}


@contextmanager
def flocked(path: str) -> Iterator[None]:
    """Hold an exclusive flock on ``path`` (created if missing) for the
    block. flock is not reentrant across file descriptors: code holding
    one lock file must never re-take it, so nested locks use separate
    files."""
    with open(path, "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)
