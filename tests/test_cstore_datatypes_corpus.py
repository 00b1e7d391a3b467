"""The reference's ENTIRE type regression through the binary codec.

``input/data_types.source`` loads six foreign tables from the
reference's own CSVs and SELECTs them back; ``output/data_types.source``
pins the expected psql output under ``SET datestyle = "ISO, YMD";
SET timezone TO 'GMT'; SET intervalstyle TO 'POSTGRES_VERBOSE'``.
These tests replay the whole loop against OUR codec: reference CSV →
PG text parse → ``write_cstore_file`` (real v1.7 binary files, pglz) →
``read_cstore_file`` → psql-form render, cell-for-cell equal to the
reference's expected output — arrays, date/time (±infinity, interval,
timestamptz), enum + composite, ranges, and the "other types" table
(bytea/money/inet/varbit/uuid/json).
"""

from __future__ import annotations

import datetime
import ipaddress
import os
import random
import struct
import uuid
from decimal import Decimal

import pytest

from cstore_fdw_spark.sources.cstore_format import (
    PgInet, PgInterval, PgRange, cstore_type_props, pg_composite_decode,
    pg_composite_encode, pg_range_decode, pg_range_encode,
    read_cstore_file, write_cstore_file)
from cstore_fdw_spark.sources.pg_text import render_pg_value
from scripts.make_datatypes_fixture import load_corpus_rows

INF = float("inf")


def _regress(tmp_path, name, csv_name, type_names, expected):
    """CSV -> codec round trip -> rendered cells == the reference's
    pinned psql output (output/data_types.source)."""
    rows = load_corpus_rows(csv_name, type_names)
    path = str(tmp_path / f"{name}.cstore")
    write_cstore_file(path, rows, type_names, compression="pglz")
    back = list(read_cstore_file(path, type_names))
    assert back == rows, f"{name}: binary round trip drifted"
    kinds = [cstore_type_props(t)[3] for t in type_names]
    rendered = [tuple(render_pg_value(v, k) for v, k in zip(r, kinds))
                for r in back]
    assert rendered == expected, f"{name}: psql render mismatch"


def test_array_types_regression(tmp_path):
    _regress(tmp_path, "array_types", "array_types.csv",
             ["array<integer>", "array<bigint>", "array<string>"],
             [("{1,2,3}", "{1,2,3}", "{a,b,c}"),
              ("{}", "{}", "{}"),
              ("{-2147483648,2147483647}",
               "{-9223372036854775808,9223372036854775807}", '{""}')])


def test_datetime_types_regression(tmp_path):
    _regress(tmp_path, "datetime_types", "datetime_types.csv",
             ["timestamp", "timestamptz", "date", "time", "interval"],
             [("2000-01-02 04:05:06", "1999-01-08 12:05:06+00",
               "2000-01-02", "04:05:06", "@ 4 hours"),
              ("1970-01-01 00:00:00", "infinity", "-infinity",
               "00:00:00", "@ 0")])


def test_enum_and_composite_types_regression(tmp_path):
    _regress(tmp_path, "enum_and_composite",
             "enum_and_composite_types.csv",
             ["enum(a,b,c)", "composite(integer,string)"],
             [("a", "(2,b)"), ("b", "(3,c)")])


def test_range_types_regression(tmp_path):
    _regress(tmp_path, "range_types", "range_types.csv",
             ["int4range", "int8range", "numrange", "tsrange"],
             [("[1,3)", "[1,3)", "[1,3)",
               '["2000-01-02 00:30:00","2010-02-03 12:30:00")'),
              ("empty", "[1,)", "(,)", "empty")])


def test_other_types_regression(tmp_path):
    _regress(tmp_path, "other_types", "other_types.csv",
             ["boolean", "bytea", "money", "inet", "varbit", "uuid",
              "json"],
             [("f", "\\xdeadbeef", "$1.00", "192.168.1.2", "10101",
               "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11",
               '{"key": "value"}'),
              ("t", "\\xcdb0", "$1.50", "127.0.0.1", "",
               "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11", "[]")])


def test_null_values_regression(tmp_path):
    """NULL row / NULL array / all-null composite — the corpus's
    trickiest table (a quoted ``(,)`` composite next to bare NULLs)."""
    _regress(tmp_path, "null_values", "null_values.csv",
             ["integer", "array<integer>", "composite(integer,string)"],
             [(None, "{NULL}", "(,)"), (None, None, None)])


# ------------------------------------------------------- layout spec pins

def test_composite_datum_spec_vector():
    """(2,'b')::composite_type — the public HeapTupleHeader-as-datum
    layout (htup_details.h): vl_len | typmod -1 | typeid | ctid zeros |
    natts | infomask | t_hoff MAXALIGN(23)=24 | int4 at 24 | text
    varlena at 28. Payload here excludes the 4-byte vl_len (the
    codec's varlena walk strips it)."""
    kinds = ["i", "text"]
    p = pg_composite_encode((2, "b"), kinds)
    assert struct.unpack_from("<i", p, 0)[0] == -1          # typmod
    assert p[8:14] == b"\x00" * 6                           # ctid
    natts, infomask = struct.unpack_from("<HH", p, 14)
    assert (natts, infomask) == (2, 0)
    assert p[18] == 24                                      # t_hoff
    assert struct.unpack_from("<i", p, 20)[0] == 2          # a = 2
    hdr, = struct.unpack_from("<I", p, 24)
    assert hdr >> 2 == 5 and p[28:29] == b"b"               # b = 'b'
    assert pg_composite_decode(p, kinds) == (2, "b")
    # all-null composite: HEAP_HASNULL set, bitmap all zero
    pn = pg_composite_encode((None, None), kinds)
    natts, infomask = struct.unpack_from("<HH", pn, 14)
    assert (natts, infomask) == (2, 0x0001)
    assert pg_composite_decode(pn, kinds) == (None, None)


def test_range_datum_spec_vector():
    """[1,3)::int4range — public rangetypes.c serialization: oid 3904,
    bounds in subtype layout, flags byte LAST (LB_INC = 0x02)."""
    p = pg_range_encode(PgRange(1, 3, True, False, False), "i")
    assert struct.unpack_from("<I", p, 0)[0] == 3904
    assert struct.unpack_from("<ii", p, 4) == (1, 3)
    assert p[-1] == 0x02
    assert pg_range_decode(p, "i") == PgRange(1, 3, True, False, False)
    # empty range: oid + flags only
    pe = pg_range_encode(PgRange(None, None, False, False, True), "i")
    assert len(pe) == 5 and pe[-1] == 0x01
    # unbounded: LB_INF | UB_INF, no bound bytes
    pu = pg_range_encode(PgRange(None, None, False, False, False),
                         "num")
    assert pu[-1] == 0x08 | 0x10
    assert pg_range_decode(pu, "num") == \
        PgRange(None, None, False, False, False)


# -------------------------------------------------- property round trips

def test_new_scalar_kinds_round_trip(tmp_path):
    rnd = random.Random(17)
    rows = []
    for i in range(3000):
        if i % 23 == 0:
            rows.append((i,) + (None,) * 9)
            continue
        t = datetime.time(rnd.randrange(24), rnd.randrange(60),
                          rnd.randrange(60), rnd.randrange(10**6))
        tstz = datetime.datetime(
            2001 + i % 30, 1 + i % 12, 1 + i % 28, i % 24, i % 60,
            i % 60, i * 7919 % 10**6, tzinfo=datetime.timezone.utc)
        iv = PgInterval(rnd.randrange(-50, 50), rnd.randrange(-40, 40),
                        rnd.randrange(-10**9, 10**9))
        u = uuid.UUID(int=rnd.getrandbits(128))
        inet = PgInet(ipaddress.ip_address(rnd.getrandbits(32)),
                      rnd.randrange(0, 33))
        vb = "".join(rnd.choice("01") for _ in range(rnd.randrange(9)))
        by = bytes(rnd.randrange(256) for _ in range(rnd.randrange(12)))
        rows.append((i, t, tstz, iv, u, inet, vb, by,
                     rnd.randrange(-10**8, 10**8),
                     '{"k": %d}' % (i % 97)))
    types = ["bigint", "time", "timestamptz", "interval", "uuid",
             "inet", "varbit", "bytea", "money", "json"]
    path = str(tmp_path / "scalars.cstore")
    write_cstore_file(path, rows, types, stripe_row_count=1000,
                      block_row_count=500, compression="pglz")
    assert list(read_cstore_file(path, types)) == rows


def test_timestamp_infinity_sentinels(tmp_path):
    """PG's ±infinity specials (INT64/INT32 extremes) survive the
    round trip and min/max skip nodes don't choke on them."""
    rows = [(1, INF, -INF), (2, -INF, INF),
            (3, datetime.datetime(2020, 5, 4, 3, 2, 1),
             datetime.date(2020, 5, 4)), (4, None, None)]
    types = ["integer", "timestamp", "date"]
    path = str(tmp_path / "inf.cstore")
    write_cstore_file(path, rows, types, compression="pglz")
    assert list(read_cstore_file(path, types)) == rows


def test_composite_and_range_file_round_trip(tmp_path):
    rnd = random.Random(31)
    rows = []
    for i in range(1500):
        comp = None if i % 11 == 0 else (
            None if i % 5 == 0 else rnd.randrange(-999, 999),
            None if i % 7 == 0 else f"s{i % 43}")
        if i % 13 == 0:
            r = PgRange(None, None, False, False, True)     # empty
        elif i % 13 == 1:
            r = PgRange(None, None, False, False, False)    # (,)
        else:
            lo = rnd.randrange(-10**6, 10**6)
            r = PgRange(lo, lo + rnd.randrange(1, 10**4), True, False,
                        False)
        nr = None if i % 17 == 0 else PgRange(
            Decimal(rnd.randrange(-10**6, 10**6)).scaleb(-2),
            Decimal(rnd.randrange(10**6, 2 * 10**6)).scaleb(-2),
            True, i % 2 == 0, False)
        rows.append((i, comp, r, nr))
    types = ["bigint", "composite(integer,string)", "int8range",
             "numrange"]
    path = str(tmp_path / "cr.cstore")
    write_cstore_file(path, rows, types, stripe_row_count=600,
                      block_row_count=200, compression="pglz")
    assert list(read_cstore_file(path, types)) == rows


def test_enum_labels_round_trip_and_guard(tmp_path):
    rows = [(i, ["low", "mid", "high"][i % 3]) for i in range(300)]
    types = ["integer", "enum(low,mid,high)"]
    path = str(tmp_path / "enum.cstore")
    write_cstore_file(path, rows, types)
    assert list(read_cstore_file(path, types)) == rows
    with pytest.raises(ValueError, match="enum"):
        write_cstore_file(str(tmp_path / "bad.cstore"),
                          [(1, "nope")], types)


def test_committed_datatypes_fixtures_read_bit_exactly():
    """The data_types corpus as COMMITTED binary artifacts
    (scripts/make_datatypes_fixture.py): the repo carries one real
    cstore data+footer pair per corpus table, and the reader must
    reproduce the CSV-parsed rows from those PAST-WRITER bytes — a
    codec change that reshapes the on-disk layout of any kind (arrays,
    composites, ranges, the exotic scalars) fails here instead of
    silently round-tripping through its own new form."""
    from scripts.make_datatypes_fixture import (
        CORPUS_TABLES, OUT_DIR, load_corpus_rows)

    for name, (csv_name, type_names) in CORPUS_TABLES.items():
        path = os.path.join(OUT_DIR, f"{name}.cstore")
        assert os.path.exists(path), \
            "run scripts/make_datatypes_fixture.py and commit the output"
        rows = load_corpus_rows(csv_name, type_names)
        assert list(read_cstore_file(path, type_names)) == rows, \
            f"{name}: committed fixture drifted from its CSV source"


def test_spark_binary_bytea_round_trip(spark, tmp_path):
    """bytea is Spark-expressible (BinaryType) — the one new corpus
    type that rides the format('cstore') data source end to end."""
    import pyspark.sql.functions as F

    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    df = (spark.range(0, 2000)
          .select(F.col("id").alias("k"),
                  F.when(F.col("id") % 9 == 0, None)
                  .otherwise(F.sha2(F.col("id").cast("string"), 256)
                             .cast("binary")).alias("payload")))
    path = str(tmp_path / "byteads")
    (df.write.format("cstore").option("stripe_row_count", "800")
     .option("block_row_count", "400").mode("overwrite").save(path))
    back = (spark.read.format("cstore")
            .schema("k BIGINT, payload BINARY").load(path))
    assert back.orderBy("k").collect() == df.orderBy("k").collect()


def test_wrong_typed_float_and_mixed_interval_are_loud(tmp_path):
    """Only ±infinity floats are sentinel-storable in date/timestamp
    columns — an epoch-seconds float must raise, not silently become
    'infinity'; and the verbose interval renderer refuses mixed-sign
    components rather than emitting a numerically wrong form."""
    from cstore_fdw_spark.sources.pg_text import render_pg_value

    with pytest.raises(ValueError, match="infinity"):
        write_cstore_file(str(tmp_path / "bad_ts.cstore"),
                          [(1, 1723708800.0)], ["integer", "timestamp"])
    with pytest.raises(ValueError, match="infinity"):
        write_cstore_file(str(tmp_path / "bad_date.cstore"),
                          [(1, 0.5)], ["integer", "date"])
    with pytest.raises(ValueError, match="mixed"):
        render_pg_value(PgInterval(1, 0, -3_600_000_000), "iv")
    # uniform signs still render
    assert render_pg_value(PgInterval(0, 0, -3_600_000_000), "iv") == \
        "@ 1 hour ago"


def test_datatypes_fixture_writer_is_byte_deterministic(tmp_path):
    """Regenerating any corpus fixture must reproduce the COMMITTED
    bytes exactly (data AND footer): the writer is deterministic, so a
    codec change that reshapes the on-disk layout of any kind shows up
    as a byte diff here and forces a conscious fixture regeneration —
    the write-side twin of the read-compatibility pin above."""
    from scripts.make_datatypes_fixture import (
        CORPUS_TABLES, OUT_DIR, load_corpus_rows)

    for name, (csv_name, type_names) in CORPUS_TABLES.items():
        committed = os.path.join(OUT_DIR, f"{name}.cstore")
        fresh = str(tmp_path / f"{name}.cstore")
        write_cstore_file(fresh, load_corpus_rows(csv_name, type_names),
                          type_names, compression="pglz")
        for suffix in ("", ".footer"):
            with open(committed + suffix, "rb") as a, \
                    open(fresh + suffix, "rb") as b:
                assert a.read() == b.read(), \
                    f"{name}{suffix}: writer bytes drifted from fixture"


def test_pg_text_tstz_zoneless_and_plain_numeric_render():
    """Two COPY-text boundary fixes stay pinned: a zoneless timestamptz
    (valid input under a session timezone; corpus pins GMT) parses as
    UTC instead of mis-slicing the last digit, and positive-exponent
    numerics render as plain digits the way psql does."""
    import datetime
    from decimal import Decimal

    from cstore_fdw_spark.sources.pg_text import (_parse_tstz,
                                                  render_pg_value)

    got = _parse_tstz("2024-03-05 10:20:30")
    assert got == datetime.datetime(2024, 3, 5, 10, 20, 30,
                                    tzinfo=datetime.timezone.utc)
    got = _parse_tstz("2024-03-05 10:20:30.5")
    assert got.microsecond == 500000 and got.tzinfo is not None
    assert render_pg_value(Decimal("1E+2"), "num:5:0") == "100"
    assert render_pg_value(Decimal("-2.5E+3"), "num:6:0") == "-2500"
