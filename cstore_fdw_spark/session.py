"""SparkSession factory with the engine's scale-minded defaults.

The reference's tuning surface is four table options
(``filename/compression/stripe_row_count/block_row_count``,
reference ``cstore_fdw.h:26-41``). Our equivalents are Spark/Parquet
configs; everything else (pushdown, pruning, codegen, AQE) is Catalyst.

Designed for a 1000-executor cluster; tested on local[N]. Nothing here is
local-mode specific except the master URL default and the Python worker
launcher (:func:`ship_package`), which lives on the driver's disk.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import os
import shlex
import subprocess
import tempfile
import warnings
import zipfile
import zipimport
from collections.abc import Iterator
from importlib._bootstrap_external import _code_to_hash_pyc

from pyspark.sql import SparkSession

from cstore_fdw_spark.fsutil import CACHE_DIR

# Parquet analogs of the reference's stripe/block layout
# (reference cstore_fdw.h:34-35: stripe=150k rows, block=10k rows).
DEFAULT_PAGE_ROW_LIMIT = 10_000        # block analog: page-level stats granularity
DEFAULT_ROW_GROUP_BYTES = 128 * 1024 * 1024  # stripe analog: row-group size

#: executor threads and shuffle partitions: the CPUs this process may
#: run on, unless SPARK_GRAFT_CPUS says otherwise
_CPUS = os.environ.get("SPARK_GRAFT_CPUS",
                       str(len(os.sched_getaffinity(0))))

#: driver heap: a quarter of the host's RAM, at least 1g and at most
#: 16g (see get_spark for why not more), unless SPARK_GRAFT_DRIVER_MEM
#: says otherwise
_RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM",
                             f"{max(1024, min(16384, _RAM_MB // 4))}m")

#: the optimizer-rule exclusion list; :func:`conf_override` appends to
#: it instead of replacing it
EXCLUDED_RULES_CONF = "spark.sql.optimizer.excludedRules"

ENGINE_CONFS: dict[str, str] = {
    # --- Adaptive execution: runtime re-planning, skew-join handling,
    # shuffle-partition coalescing. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE re-plan (coalesce/broadcast) INSIDE persisted subtrees too:
    # the default pins a cached plan's output partitioning, so every
    # persist() in a pipeline otherwise executes with the full static
    # shuffle-partition count — for the dedup pipelines that meant ~35
    # stages of tiny tasks per query (measured 3-5x slower at sf0.1);
    # at 100 TB the same setting sizes cached partitions to the AQE
    # advisory target instead of the static count.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # AQE's parallelism-first coalescing floors reducer sizes at
    # minPartitionSize. The session default stays at Spark's 1m: an
    # earlier session-wide 256k floor helped CPU-dense-per-byte stages
    # but taxed every broadcast-heavy query with extra tiny-task
    # scheduling (A/B at sf0.1: q3 1.18 s @ 1m vs 1.46 s @ 256k).
    # Queries that NEED fine coalescing — hash self-joins over 8-byte
    # token digests carrying a few MB but seconds of CPU — declare a
    # 256k floor on their registry entry (QuerySpec.confs); the registry
    # restores this value when the query's caches are released, so the
    # override never leaks.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    # --- Columnar scan: pushdown + pruning (zone-map parity, SURVEY §4).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.recordLevelFilter.enabled": "false",
    # --- Writer: page rows ≈ reference block_row_count so page-level
    # statistics give the same skipping granularity.
    "spark.hadoop.parquet.page.row.count.limit": str(DEFAULT_PAGE_ROW_LIMIT),
    "spark.hadoop.parquet.block.size": str(DEFAULT_ROW_GROUP_BYTES),
    "spark.sql.parquet.compression.codec": "zstd",
    # --- Arrow for any pandas-UDF path (the sanctioned Python escape hatch).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- Deterministic semantics for oracle comparison.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries TIMESTAMP(NANOS); read as long + convert
    # (operators.table) instead of failing the scan.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python data source filter pushdown (the cstore-format source uses
    # pushed range/equality filters for skip-list block skipping)
    "spark.sql.python.filterPushdown.enabled": "true",
    # parquet TIMESTAMP(isAdjustedToUTC=false) reads as plain TIMESTAMP,
    # not TIMESTAMP_NTZ (Spark 3.4+ default infers NTZ, on which the
    # engine's unix_micros/interval arithmetic is ill-typed). With the
    # UTC session timezone the instant semantics match DuckDB's naive
    # read bit-for-bit — same contract the nanos path provides.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # ANSI off: the engine mirrors permissive PostgreSQL-executor behavior
    # for arithmetic edge cases; DuckDB oracle queries are written to agree.
    "spark.sql.ansi.enabled": "false",
    # --- Cost-based optimization (reference delegates costing to PG's
    # planner; Catalyst CBO + ANALYZE is our equivalent, SURVEY §4).
    # These confs bind to SESSION-CATALOG tables with collected stats:
    # CStoreCatalog.register_table() + analyze() runs the real `ANALYZE
    # TABLE … FOR ALL COLUMNS` (plan test: test_catalog.py asserts a
    # stats-driven broadcast decision). Bare-path reads (the benchmark
    # queries) are costed by file size + AQE runtime stats instead.
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    # --- Maintain stripe-like bounded files on write.
    "spark.sql.files.maxRecordsPerFile": "5000000",
    "spark.sql.shuffle.partitions": _CPUS,
    # --- No DataFrame call sites: with it on, every pyspark.sql.functions
    # or Column call runs pyspark's _with_origin wrapper (a conf.get, two
    # JVM calls and a stack walk that tries `import IPython`, then
    # `import ipykernel`). Where IPython is installed and ipykernel is
    # not, the first wrapped call of a process imports IPython (0.57 s
    # under cProfile) and every later one retries the failing import;
    # builder time per warm registry_queries pass went 0.98/1.00 ->
    # 0.80/0.85 s. Spark errors lose their "== DataFrame ==" block.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: archive -> ((st_mtime_ns, st_size) taken before its directory was
#: read, that directory)
_ZIP_DIRECTORIES: dict[str, tuple[tuple[int, int], dict]] = {}


def _keep_unchanged_zip_directory(importer) -> None:
    """``zipimporter.invalidate_caches`` that re-reads an archive's
    directory only when the archive changed since it was last read.

    pyspark's worker calls ``importlib.invalidate_caches()`` before
    every data-source planning call, task and commit; on CPython < 3.13
    that re-reads the central directory of every zip on the worker's
    path (12 importers over ``pyspark.zip`` alone, 2 over the spark-core
    jar), ~0.2 s per call. The stamp is taken before the read, so an
    archive rewritten during the read is read again next time."""
    path = importer.archive
    try:
        st = os.stat(path)
        stamp = (st.st_mtime_ns, st.st_size)
        known = _ZIP_DIRECTORIES.get(path)
        if known is None or known[0] != stamp:
            known = (stamp, zipimport._read_directory(path))
            _ZIP_DIRECTORIES[path] = known
    except (OSError, zipimport.ZipImportError):
        _ZIP_DIRECTORIES.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        importer._files = {}
        return
    importer._files = known[1]
    zipimport._zip_directory_cache[path] = known[1]


# Only inside a Spark Python worker (planner and executor workers have
# the factory secret, the driver does not), and only where the importer
# re-reads eagerly: 3.13's importers read lazily through _get_files.
if ("PYTHON_WORKER_FACTORY_SECRET" in os.environ
        and not hasattr(zipimport.zipimporter, "_get_files")):
    zipimport.zipimporter.invalidate_caches = _keep_unchanged_zip_directory


def get_spark(app_name: str = "cstore_fdw_spark", master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[N]``, N the CPUs this process may run
    on (``$SPARK_GRAFT_CPUS`` overrides it), when no cluster manager is
    configured; on a real cluster, pass ``None`` with ``--master``
    supplied externally and this just applies confs.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{_CPUS}]"
    if master:
        builder = builder.master(master)
    # In local[N] ONE JVM holds the driver, every executor thread, and
    # every cached block; the JVM-ergonomics default heap (~1/4 of RAM)
    # is memory-marginal for a 32-thread run (round-3 bench OOM'd there
    # — from unbounded cache accumulation, since fixed by track_cache).
    # 16g is the cap, and a quarter of RAM below it (_DRIVER_MEM): with
    # caches bounded to one query's working set the bench peaks far
    # below it, and a LARGER heap measurably hurts —
    # at 64g G1's young generation grows to tens of GB and one allocation
    # burst per bench run ate a multi-second collection pause (observed
    # as a random query 3-4x over its steady-state time). Set before JVM
    # launch (PySpark passes builder confs to spark-submit at gateway
    # start); env-overridable for bigger scale factors. On a real
    # cluster spark-submit's own --driver-memory wins.
    builder = builder.config("spark.driver.memory", _DRIVER_MEM)
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``cstore_fdw_spark`` importable on executors' Python workers,
    and on a ``local[...]`` master start every worker through
    :func:`_worker_python`'s launcher.

    The driver process may run from any cwd; Pandas-UDF closures reference
    this package by module name, so workers need it on their path. The
    :func:`package_archive` zip is shipped once per session via
    ``addPyFile`` (works on local and cluster mode alike). The launcher
    and its archive exist only on the driver's disk, so any other master
    keeps Spark's default interpreter.
    """
    if getattr(spark, "_cstore_pkg_shipped", False):
        return
    sc = spark.sparkContext
    sc.addPyFile(package_archive())
    if sc.master.split("[")[0] == "local":
        # what _wrap_function pickles into every UDF, mapInArrow and
        # registered data source: their workers and planner daemons
        # all start through it
        sc.pythonExec = _worker_python(sc.pythonExec, [
            p for p in sc._jvm.org.apache.spark.api.python.PythonUtils
            .sparkPythonPath().split(os.pathsep) if p.endswith(".zip")])
    spark._cstore_pkg_shipped = True  # type: ignore[attr-defined]


def package_archive() -> str:
    """The path of a zip of this package that imports without compiling.

    Every package file except ``__pycache__/`` goes in, and next to each
    ``.py`` its checked-hash ``.pyc``: zipimport reads a ``.pyc`` only
    from beside its source, never from ``__pycache__/``, so without one
    every worker compiles the package from source. A worker whose
    interpreter has another bytecode magic ignores the ``.pyc`` and
    compiles its ``.py``, as before.

    The zip is named by a digest of the sources and this interpreter's
    bytecode magic and built once by :func:`_cached_archive`."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    digest = hashlib.sha256(importlib.util.MAGIC_NUMBER)
    files: dict[str, bytes] = {}
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for fn in sorted(filenames):
            if fn.endswith(".pyc"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), root)
            with open(os.path.join(root, rel), "rb") as fh:
                files[rel] = data = fh.read()
            digest.update(b"%s\0%d\0" % (rel.encode(), len(data)) + data)
    return _cached_archive(f"cstore_fdw_spark-{digest.hexdigest()[:16]}.zip",
                           lambda: files)


#: (interpreter, the JVM zips' stamps) -> what :func:`_worker_python`
#: returned for them in this process
_WORKER_PYTHONS: dict[tuple[str, tuple], str] = {}


def _worker_python(python: str, zips: list[str]) -> str:
    """The interpreter local Python workers should run: a launcher that
    puts a compiled copy of ``zips`` first on the path, else ``python``.

    The JVM puts ``zips`` (``$SPARK_HOME/python/lib/pyspark.zip`` and
    the py4j source zip) first on every worker's ``PYTHONPATH``; they
    hold no bytecode, so every daemon compiled pyspark from source. The
    copy holds every entry of ``zips`` byte for byte plus a checked-hash
    ``.pyc`` beside each ``.py``, named by the zips' ``(path, size,
    mtime_ns)`` and the bytecode magic (one ``stat`` per zip per call).
    The launcher is a ``/bin/sh`` script beside it that execs
    ``python`` with the copy first. It is used only if, run once per
    process, it imports pyspark from the copy: a ``noexec`` cache, a
    broken interpreter or an unwritable cache keeps ``python``."""
    try:
        stamps = tuple((p, st.st_size, st.st_mtime_ns)
                       for p, st in ((p, os.stat(p)) for p in zips))
    except OSError:
        return python
    if not stamps or python in _WORKER_PYTHONS.values():
        return python  # nothing to compile, or already a launcher
    key = (python, stamps)
    if key not in _WORKER_PYTHONS:
        _WORKER_PYTHONS[key] = _launcher(python, zips, stamps) or python
    return _WORKER_PYTHONS[key]


def _launcher(python: str, zips: list[str], stamps: tuple) -> str | None:
    """Build :func:`_worker_python`'s archive and launcher; the launcher
    if it imports pyspark from the archive, else None."""
    digest = hashlib.sha256(importlib.util.MAGIC_NUMBER
                            + repr(stamps).encode()).hexdigest()[:16]
    try:
        archive = _cached_archive(f"pyspark-{digest}.zip",
                                  lambda: _zip_entries(zips))
        launcher = "%s-%s.sh" % (archive[:-4], hashlib.sha256(
            python.encode()).hexdigest()[:16])
        script = ("#!/bin/sh\nPYTHONPATH=%s${PYTHONPATH:+:$PYTHONPATH} "
                  "exec %s \"$@\"\n" % (shlex.quote(archive),
                                         shlex.quote(python)))
        _write_once(launcher, lambda fh: fh.write(script.encode()),
                    mode=0o755)
    except OSError:
        return None
    return launcher if _imports_pyspark_from(launcher, archive) else None


def _imports_pyspark_from(launcher: str, archive: str) -> bool:
    """Whether ``launcher`` runs and imports pyspark from ``archive``."""
    try:
        out = subprocess.run(
            [launcher, "-c", "import pyspark; print(pyspark.__file__)"],
            capture_output=True, text=True, timeout=120)
    except (OSError, subprocess.SubprocessError):
        return False
    return out.returncode == 0 and \
        out.stdout.strip().startswith(archive + os.sep)


def _zip_entries(zips: list[str]) -> dict[str, bytes]:
    """Every entry of ``zips`` (archive name -> bytes), in order."""
    files: dict[str, bytes] = {}
    for z in zips:
        with zipfile.ZipFile(z) as zf:
            for info in zf.infolist():
                files[info.filename] = zf.read(info)
    return files


def _cached_archive(name: str, entries) -> str:
    """The path of the archive ``name``, built once from ``entries()``
    by :func:`_write_archive` into ``~/.cache/cstore_fdw_spark/``, or
    into the temp dir when that cannot be written."""
    for cache in (CACHE_DIR, tempfile.gettempdir()):
        path = os.path.join(cache, name)
        try:
            os.makedirs(cache, mode=0o700, exist_ok=True)
            _write_once(path, lambda fh: _write_archive(fh, entries(), path))
            return path
        except OSError:
            continue
    raise OSError(f"no writable directory for {name}")


def _write_once(path: str, write, mode: int | None = None) -> None:
    """Create ``path`` by ``write(fh)`` into a temp file beside it and an
    atomic rename, unless it exists. Concurrent builders: last wins."""
    if os.path.exists(path):
        return
    fd, tmp = tempfile.mkstemp(suffix=".tmp", dir=os.path.dirname(path))
    try:
        with os.fdopen(fd, "wb") as fh:
            write(fh)
        if mode is not None:
            os.chmod(tmp, mode)
        os.replace(tmp, path)
    finally:
        with contextlib.suppress(FileNotFoundError):
            os.remove(tmp)


def _write_archive(fh, files: dict[str, bytes], archive: str) -> None:
    """Zip ``files`` (archive name -> bytes; a name ending in ``/`` is a
    directory) with a checked-hash ``.pyc`` beside each ``.py`` and an
    entry per directory, every entry dated 1980-01-01 so equal sources
    give equal bytes.

    Each ``.py`` is compiled under its full path ``<archive>/<name>``,
    the filename zipimport gives a module it compiles from source: pyspark
    drops from a worker's tracebacks only the frames under
    ``dirname(pyspark.__file__)``."""
    dirs = sorted({os.path.dirname(rel) for rel in files})
    with zipfile.ZipFile(fh, "w", zipfile.ZIP_DEFLATED) as zf, \
            warnings.catch_warnings():
        # e.g. pyspark's invalid escape sequences: a worker compiling
        # the source would warn, the build does not
        warnings.simplefilter("ignore")
        for d in dirs:
            zf.writestr(zipfile.ZipInfo(d + "/"), b"")
        for rel, data in files.items():
            if rel.endswith("/"):
                continue
            zf.writestr(zipfile.ZipInfo(rel), data, zipfile.ZIP_DEFLATED)
            if rel.endswith(".py"):
                code = compile(data, os.path.join(archive, rel), "exec",
                               dont_inherit=True)
                zf.writestr(zipfile.ZipInfo(rel + "c"), _code_to_hash_pyc(
                    code, importlib.util.source_hash(data), checked=True),
                    zipfile.ZIP_DEFLATED)


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session.

    The driver hands us its own SparkSession; static confs (codegen, arrow)
    can't change post-start, but the semantic ones (timezone, ANSI,
    pushdown) can and must.
    """
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on a live session — builder default applies
    ship_package(spark)
    return spark


@contextlib.contextmanager
def conf_override(spark: SparkSession,
                  confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of the ``with`` block.

    Each key's prior value is recorded first, and on exit every key goes
    back to it, including when the body raises; a key that was unset is
    unset again. Each key is restored on its own, so one failed restore
    does not skip the rest (the first failure is re-raised after all
    were tried). A rule for :data:`EXCLUDED_RULES_CONF` is appended to
    the session's existing exclusions, not written over them. The
    operator registry applies each query's ``QuerySpec.confs`` through
    this, for the lifetime of the query's tracked caches.
    """
    prior: list[tuple[str, str | None]] = []
    try:
        for key, value in confs.items():
            old = spark.conf.get(key, None)
            prior.append((key, old))
            if key == EXCLUDED_RULES_CONF and old:
                value = f"{old},{value}"
            spark.conf.set(key, value)
        yield
    finally:
        failed: list[Exception] = []
        for key, old in reversed(prior):
            try:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)
            except Exception as exc:  # noqa: BLE001 — restore the rest
                failed.append(exc)
        if failed:
            raise failed[0]
