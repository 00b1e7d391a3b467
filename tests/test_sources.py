"""Source/sink format round-trips (COPY FROM/TO generalized — SURVEY §2.A
A5/A6 plus json/orc the reference never had)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cstore_fdw_spark.sources import read_source, write_sink


@pytest.fixture(scope="module")
def sample(spark):
    return spark.createDataFrame(
        [(1, "x", 1.5, None), (2, "with,comma", -2.0, "q\"uote"),
         (3, None, None, "z")],
        "id int, name string, val double, note string")


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip(spark, sample, tmp_path, fmt):
    path = str(tmp_path / fmt)
    write_sink(sample, path, fmt)
    schema = "id int, name string, val double, note string"
    back = read_source(spark, path, fmt, schema=schema)
    want = {tuple(r) for r in sample.collect()}
    got = {tuple(r) for r in back.select("id", "name", "val", "note").collect()}
    assert got == want, f"{fmt}: {got} != {want}"


def test_partitioned_write(spark, sample, tmp_path):
    path = str(tmp_path / "bypart")
    write_sink(sample, path, "parquet", partition_by=["id"])
    import os
    assert any(d.startswith("id=") for d in os.listdir(path))
    back = read_source(spark, path, "parquet")
    assert back.count() == 3
    # partition pruning: only one directory is scanned for id=2
    pruned = back.filter(F.col("id") == 2)
    assert pruned.count() == 1


def test_unsupported_format(spark, sample, tmp_path):
    with pytest.raises(ValueError, match="unsupported format"):
        write_sink(sample, str(tmp_path / "x"), "avro")
    with pytest.raises(ValueError, match="unsupported format"):
        read_source(spark, str(tmp_path / "x"), "xml")


def test_csv_pg_dialect_nulls(spark, tmp_path):
    # PG COPY CSV parity: empty unquoted = NULL; quoted "" = empty string
    p = str(tmp_path / "nulls.csv")
    with open(p, "w") as f:
        f.write('1,\n2,""\n3,x\n')
    df = read_source(spark, p, "csv", schema="id int, s string")
    rows = {r.id: r.s for r in df.collect()}
    assert rows[1] is None
    assert rows[2] == ""
    assert rows[3] == "x"


def test_copy_malformed_input_errors_like_pg(spark, catalog, tmp_path):
    # PG COPY raises 'invalid input syntax' on malformed values; Spark's
    # PERMISSIVE default would silently NULL them — COPY defaults to
    # FAILFAST with a CStoreError, PERMISSIVE available by explicit opt-in
    import pytest
    from cstore_fdw_spark.catalog import CStoreError
    from cstore_fdw_spark.io import copy_from_csv
    catalog.create_table("tmf", "a int, b int")
    bad = tmp_path / "bad.csv"
    bad.write_text("1,2\nnotanint,3\n4,5\n")
    with pytest.raises(CStoreError, match="invalid input syntax"):
        copy_from_csv(catalog, "tmf", str(bad))
    # explicit opt-in to permissive NULL-filling
    copy_from_csv(catalog, "tmf", str(bad), mode="PERMISSIVE")
    assert catalog.row_count("tmf") == 3
    # malformed timestamps error too (they read via the ±infinity string
    # path, which FAILFAST alone can't see)
    catalog.create_table("tmt", "a int, ts timestamp")
    badts = tmp_path / "badts.csv"
    badts.write_text("1,2024-01-01 00:00:00\n2,notadate\n")
    with pytest.raises(CStoreError, match="invalid input syntax"):
        copy_from_csv(catalog, "tmt", str(badts))
    # a malformed NON-datetime value in a file that ALSO has datetime
    # columns surfaces through the eager ±infinity validation probe —
    # it must still translate to the COPY contract, not a raw Spark error
    badint = tmp_path / "badint.csv"
    badint.write_text("1,2024-01-01 00:00:00\nnotanint,2024-01-02 00:00:00\n")
    with pytest.raises(CStoreError, match="invalid input syntax"):
        copy_from_csv(catalog, "tmt", str(badint))


@pytest.mark.parametrize("fmt", ["parquet", "cstore"])
def test_copy_from_csv_keeps_null_apart_from_empty(spark, catalog, tmp_path,
                                                   fmt):
    """COPY FROM in the PG CSV dialect on both storage formats: an
    unquoted empty field is NULL, a quoted "" is '', and the spaces
    around a value are kept. A malformed timestamp raises and leaves the
    table as it was."""
    from cstore_fdw_spark.catalog import CStoreError
    from cstore_fdw_spark.io import copy_from_csv
    p = tmp_path / "nulls.csv"
    p.write_text('1,\n2,""\n3,x\n4, XA \n')
    catalog.create_table("t", "id int, s string", storage_format=fmt)
    copy_from_csv(catalog, "t", str(p))
    assert sorted(map(tuple, catalog.read("t").collect())) == [
        (1, None), (2, ""), (3, "x"), (4, " XA ")]
    catalog.create_table("ts", "id int, ts timestamp", storage_format=fmt)
    p.write_text("1,2024-01-01 00:00:00\n")
    copy_from_csv(catalog, "ts", str(p))
    epoch = catalog.current_epoch("ts")
    p.write_text("2,2024-01-02 00:00:00\n3,notadate\n")
    with pytest.raises(CStoreError,
                       match='invalid input syntax for type timestamp: '
                             '"notadate"'):
        copy_from_csv(catalog, "ts", str(p))
    assert catalog.current_epoch("ts") == epoch
    assert [r.id for r in catalog.read("ts").collect()] == [1]


def test_copy_to_csv_and_write_sink_print_one_dialect(spark, catalog,
                                                      tmp_path):
    """COPY TO and ``write_sink(fmt="csv")`` write the same bytes: NULL
    as an unquoted empty field, '' as "", the spaces around a string
    kept, and the date sentinels as infinity/-infinity."""
    import datetime as dt

    from cstore_fdw_spark.io import copy_to_csv
    df = spark.createDataFrame(
        [(1, None, dt.date(9999, 12, 31)), (2, "", dt.date(1, 1, 1)),
         (3, "XA ", dt.date(2000, 1, 2)), (4, "  lead", None)],
        "id int, s string, d date").coalesce(1)
    want = ['1,,infinity', '2,"",-infinity', '3,XA ,2000-01-02',
            '4,  lead,']
    copy_to_csv(catalog, df, str(tmp_path / "copy"))
    write_sink(df, str(tmp_path / "sink"), "csv")
    for out in ("copy", "sink"):
        text = "".join(p.read_text()
                       for p in sorted((tmp_path / out).glob("part-*")))
        assert sorted(text.splitlines()) == want, out


def test_reference_csvs_load_like_pg_text(spark, catalog):
    """Every vendored reference CSV, loaded through COPY FROM as all-text
    columns, equals ``pg_text.parse_pg_csv_line`` of its lines cell for
    cell, NULL against '' included (``other_types.csv`` line 2 holds a
    quoted "")."""
    import pathlib

    from cstore_fdw_spark.io import copy_from_csv
    from cstore_fdw_spark.sources.pg_text import parse_pg_csv_line
    fixtures = pathlib.Path(__file__).parent / "fixtures" / "reference_data"
    paths = sorted(fixtures.glob("*.csv"))
    assert len(paths) == 7
    for path in paths:
        want = [parse_pg_csv_line(line)
                for line in path.read_text().splitlines()]
        width = len(want[0])
        assert {len(row) for row in want} == {width}, path.name
        table = path.stem.replace(".", "_")
        catalog.create_table(table, ", ".join(
            f"c{i} string" for i in range(width)))
        copy_from_csv(catalog, table, str(path))
        got = [list(r) for r in catalog.read(table).collect()]

        def key(row):
            return [(c is None, c or "") for c in row]

        assert sorted(got, key=key) == sorted(want, key=key), path.name
