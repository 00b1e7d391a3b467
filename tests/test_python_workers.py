"""Fixed costs of Spark's Python workers: a worker keeps the directory
of an unchanged zip on its path across ``importlib.invalidate_caches()``
(which pyspark calls before every task, planning call and commit), it
imports the shipped package archive without compiling, and the C pglz
kernels load wherever a C compiler exists, executors included."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: CPython 3.13+ importers read their directory lazily, and the package
#: leaves them alone there
eager_zip_importers_only = pytest.mark.skipif(
    hasattr(zipimport.zipimporter, "_get_files"),
    reason="zip importers re-read lazily on this Python")

#: run in a fresh interpreter; prints the _read_directory calls that
#: each step made for the probe archive
_ZIP_PROBE = textwrap.dedent("""
    import importlib, json, sys, time, zipfile, zipimport
    archive = sys.argv[1]

    def write(module):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr(module + ".py", "VALUE = %r" % module)

    write("first_module")
    import cstore_fdw_spark.session  # noqa: F401  (installs the cache)
    sys.path.insert(0, archive)
    import first_module  # noqa: F401
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)
    zipimport._read_directory = counting
    steps = {}
    for step in ("first", "unchanged"):
        del reads[:]
        importlib.invalidate_caches()
        steps[step] = len(reads)
    time.sleep(0.01)  # a new mtime as well as a new size
    write("second_module_after_rewrite")
    del reads[:]
    importlib.invalidate_caches()
    steps["rewritten"] = len(reads)
    import second_module_after_rewrite as m
    steps["imported"] = m.VALUE
    print(json.dumps(steps))
""")


def _zip_steps(tmp_path, worker: bool) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k != "PYTHON_WORKER_FACTORY_SECRET"}
    if worker:
        env["PYTHON_WORKER_FACTORY_SECRET"] = "probe"
    env["PYTHONPATH"] = REPO
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE,
         str(tmp_path / f"probe_{int(worker)}.zip")],
        env=env, cwd=str(tmp_path), capture_output=True, text=True,
        check=True)
    return json.loads(out.stdout.splitlines()[-1])


@eager_zip_importers_only
def test_worker_keeps_unchanged_zip_directories(tmp_path):
    """In a Spark Python worker (the factory secret is set) a second
    ``invalidate_caches()`` re-reads no unchanged zip, a rewritten zip
    is re-read once and its new module imports; outside a worker the
    stock importer re-reads the archive on every call."""
    steps = _zip_steps(tmp_path, worker=True)
    assert steps == {"first": 1, "unchanged": 0, "rewritten": 1,
                     "imported": "second_module_after_rewrite"}
    stock = _zip_steps(tmp_path, worker=False)
    assert stock == {"first": 1, "unchanged": 1, "rewritten": 1,
                     "imported": "second_module_after_rewrite"}


@eager_zip_importers_only
def test_spark_worker_rereads_no_archive_once_package_is_imported(spark):
    """Inside a ``mapInArrow`` worker, once the package is imported (as
    unpickling any of its code does), ``invalidate_caches()`` re-reads
    no archive on the worker's path after the first call."""

    def probe(batches):
        import importlib
        import zipimport

        import cstore_fdw_spark  # noqa: F401
        importlib.invalidate_caches()  # may read each archive once
        reads = []
        real = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return real(path)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"reads": len(reads), "zips": zips}])

    (row,) = spark.range(1).repartition(1).mapInArrow(
        probe, "reads long, zips long").collect()
    assert row.zips > 0  # the worker imports from zips at all
    assert row.reads == 0


#: run in a fresh interpreter with an archive first on its path; prints
#: where the package came from and which of its files were compiled
_ARCHIVE_PROBE = textwrap.dedent("""
    import builtins, json, sys
    sys.path.insert(0, sys.argv[1])
    compiled = []
    real = builtins.compile

    def counting(source, filename, *args, **kwargs):
        compiled.append(str(filename))
        return real(source, filename, *args, **kwargs)
    builtins.compile = counting
    import cstore_fdw_spark.catalog
    import cstore_fdw_spark.sources.cstore_datasource  # noqa: F401
    print(json.dumps({
        "file": cstore_fdw_spark.__file__,
        "compiled": [f for f in compiled if "cstore_fdw_spark" in f]}))
""")


def _import_from(archive: str, tmp_path) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _ARCHIVE_PROBE, archive], env=env,
        cwd=str(tmp_path), capture_output=True, text=True, check=True)
    return json.loads(out.stdout.splitlines()[-1])


def test_shipped_archive_imports_without_compiling(tmp_path):
    """The archive ``ship_package`` ships has a checked-hash ``.pyc``
    beside every ``.py`` and no ``__pycache__/``, so a fresh interpreter
    imports the package from it without compiling; a ``.pyc`` with
    another bytecode magic falls back to compiling its ``.py``."""
    from cstore_fdw_spark.session import package_archive

    archive = package_archive()
    assert package_archive() == archive  # built once per source digest
    names = zipfile.ZipFile(archive).namelist()
    assert not [n for n in names if "__pycache__" in n]
    assert {n for n in names if n.endswith(".py")} == \
        {n[:-1] for n in names if n.endswith(".pyc")}
    got = _import_from(archive, tmp_path)
    assert got["file"].startswith(archive + os.sep)
    assert got["compiled"] == []

    stale = str(tmp_path / "stale.zip")
    with zipfile.ZipFile(archive) as src, zipfile.ZipFile(stale, "w") as dst:
        for info in src.infolist():
            data = src.read(info)
            if info.filename == "cstore_fdw_spark/catalog.pyc":
                data = bytes([data[0] ^ 0xFF]) + data[1:]
            dst.writestr(info, data)
    got = _import_from(stale, tmp_path)
    assert {f.rsplit(os.sep + "cstore_fdw_spark" + os.sep, 1)[-1]
            for f in got["compiled"]} == {"catalog.py"}


def test_native_pglz_loads_where_cc_exists(spark):
    """The C pglz kernels load in the driver and in an executor's
    Python worker whenever ``cc`` is on the path there, so a broken
    build cannot fall back to the Python kernels unnoticed."""
    from cstore_fdw_spark.sources import cstore_format

    def probe(batches):
        import shutil

        from cstore_fdw_spark.sources import cstore_format
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{
                "cc": shutil.which("cc") is not None,
                "native": cstore_format._native_pglz() is not None}])

    assert (cstore_format._native_pglz() is not None) == \
        (shutil.which("cc") is not None)
    (row,) = spark.range(1).repartition(1).mapInArrow(
        probe, "cc boolean, native boolean").collect()
    assert row.native == row.cc
