"""Fixed costs of Spark's Python workers: every local worker, planner
daemons included, imports pyspark from a compiled copy of the JVM's
pyspark and py4j zips through one launcher, a worker keeps the
directory of an unchanged zip on its path across
``importlib.invalidate_caches()`` (which pyspark calls before every
task, planning call and commit), it imports the shipped package archive
without compiling, and the C pglz kernels load wherever a C compiler
exists, executors included."""

from __future__ import annotations

import json
import marshal
import os
import shlex
import shutil
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

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


def _jvm_zips(spark) -> list[str]:
    """The zips the JVM puts first on every Python worker's path."""
    return [p for p in spark.sparkContext._jvm.org.apache.spark.api.python
            .PythonUtils.sparkPythonPath().split(os.pathsep)
            if p.endswith(".zip")]


def _launcher_targets(spark) -> tuple[str, str]:
    """(archive, interpreter) of the session's worker launcher, whose
    second line reads ``PYTHONPATH=<archive>${PYTHONPATH:+:$PYTHONPATH}
    exec <interpreter> "$@"``."""
    with open(spark.sparkContext.pythonExec) as fh:
        words = shlex.split(fh.read().splitlines()[1])
    return words[0].split("=", 1)[1].split("$")[0], words[2]


def test_every_worker_kind_imports_pyspark_from_bytecode(spark):
    """A ``mapInArrow`` task and a data source's ``schema()``,
    ``pushFilters`` and ``partitions()`` (run by the
    ``create_data_source``, ``data_source_pushdown_filters`` and
    ``plan_data_source_read`` daemons) and ``read()`` all import pyspark
    from the launcher's archive, from a ``.pyc``."""
    from pyspark.sql.datasource import (DataSource, DataSourceReader,
                                        InputPartition)
    from pyspark.sql.types import StringType, StructField, StructType

    def pyspark_file():
        import pyspark
        return pyspark.__file__

    class ProbeReader(DataSourceReader):
        def __init__(self, schema_file):
            self.files = {"schema": schema_file}

        def pushFilters(self, filters):
            self.files["push"] = pyspark_file()
            yield from filters

        def partitions(self):
            return [InputPartition(dict(self.files, plan=pyspark_file()))]

        def read(self, partition):
            files = dict(partition.value, read=pyspark_file())
            yield tuple(files[k] for k in ("schema", "push", "plan", "read"))

    class ProbeSource(DataSource):
        @classmethod
        def name(cls):
            return "worker_probe"

        def schema(self):
            self.schema_file = pyspark_file()
            return StructType([StructField(c, StringType()) for c in
                               ("schema", "push", "plan", "read")])

        def reader(self, schema):
            return ProbeReader(self.schema_file)

    def probe(batches):
        for _ in batches:
            yield pa.RecordBatch.from_pylist([{"task": pyspark_file()}])

    spark.dataSource.register(ProbeSource)
    (row,) = (spark.read.format("worker_probe").load()
              .filter(F.col("read").isNotNull()).collect())
    (task,) = spark.range(1).repartition(1).mapInArrow(
        probe, "task string").collect()
    archive, _ = _launcher_targets(spark)
    assert os.path.basename(archive).startswith("pyspark-")
    files = dict(row.asDict(), task=task.task)
    assert files == dict.fromkeys(
        files, os.path.join(archive, "pyspark", "__init__.pyc"))


def test_pyspark_archive_holds_the_jvm_zips_compiled(spark):
    """The launcher's archive holds every file of the JVM's two zips
    byte for byte, and beside each ``.py`` a ``.pyc`` of its own source
    compiled under ``<archive>/<entry>``, the filename zipimport would
    give it."""
    import importlib.util

    archive, _ = _launcher_targets(spark)
    zips = _jvm_zips(spark)
    assert [os.path.basename(z).split("-")[0] for z in zips] == \
        ["pyspark.zip", "py4j"]
    with zipfile.ZipFile(archive) as got:
        names = set(got.namelist())
        for z in zips:
            with zipfile.ZipFile(z) as src:
                for info in src.infolist():
                    assert info.filename in names
                    if info.is_dir():
                        continue
                    data = src.read(info)
                    assert got.read(info.filename) == data
                    if not info.filename.endswith(".py"):
                        continue
                    pyc = got.read(info.filename + "c")
                    assert pyc[:4] == importlib.util.MAGIC_NUMBER
                    assert pyc[8:16] == importlib.util.source_hash(data)
                    assert marshal.loads(pyc[16:]).co_filename == \
                        os.path.join(archive, info.filename)


def test_failing_udf_error_shows_no_pyspark_frame(spark):
    """pyspark drops its own frames from a failing UDF's traceback only
    when their filenames lie under ``dirname(pyspark.__file__)``: the
    error keeps the user's frame and shows no ``pyspark/`` frame."""
    from pyspark.errors import PythonException

    def fail_in_udf(x):
        raise ValueError(f"no value for {x}")

    with pytest.raises(PythonException) as err:
        spark.range(1).select(F.udf(fail_in_udf, "long")("id")).collect()
    frames = [line for line in str(err.value).splitlines()
              if line.strip().startswith("File ")]
    assert any("in fail_in_udf" in f for f in frames), frames
    assert not [f for f in frames if "pyspark/" in f], frames
    assert "ValueError: no value for 0" in str(err.value)


def test_launcher_falls_back_where_it_cannot_run(spark, tmp_path,
                                                 monkeypatch):
    """Workers keep the session's interpreter when the launcher cannot
    run from the cache (a copy without its mode bit, as on a ``noexec``
    mount) or its interpreter cannot start."""
    from cstore_fdw_spark import session

    archive, python = _launcher_targets(spark)
    cache = tmp_path / "cache"
    cache.mkdir()
    for src in (archive, spark.sparkContext.pythonExec):
        shutil.copy(src, cache)
    os.chmod(cache / os.path.basename(spark.sparkContext.pythonExec), 0o644)
    monkeypatch.setattr(session, "CACHE_DIR", str(cache))
    monkeypatch.setattr(session, "_WORKER_PYTHONS", {})
    zips = _jvm_zips(spark)
    assert session._worker_python(python, zips) == python
    broken = str(tmp_path / "no-such-python")
    assert session._worker_python(broken, zips) == broken


#: run in a fresh interpreter: builds a session, one Column expression
#: and one failing expression
_CALL_SITE_PROBE = textwrap.dedent("""
    import json, sys
    from cstore_fdw_spark.session import get_spark
    from pyspark.sql import functions as F
    spark = get_spark(master="local[1]")
    spark.range(1).select(F.col("id") + 1).collect()
    try:
        spark.range(1).select(F.col("no_such_column")).collect()
        error = None
    except Exception as exc:
        error = type(exc).__module__ + "." + type(exc).__name__
    print(json.dumps({"ipython": "IPython" in sys.modules, "error": error}))
""")


def test_driver_captures_no_dataframe_call_sites(tmp_path):
    """With DataFrame call sites off, a session's Column expressions run
    no stack walk, so the driver never imports IPython for it; a failing
    expression raises the same exception class as with them on."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _CALL_SITE_PROBE], env=env,
                         cwd=str(tmp_path), capture_output=True, text=True,
                         check=True)
    assert json.loads(out.stdout.splitlines()[-1]) == {
        "ipython": False,
        "error": "pyspark.errors.exceptions.captured.AnalysisException"}
