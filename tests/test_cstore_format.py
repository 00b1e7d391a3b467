"""The cstore v1.7 binary-format codec and its Spark data source:
format-layout pins, pglz spec vectors, full-type round trips, block
skipping, and the end-to-end Spark read/write path."""

from __future__ import annotations

import datetime
import os
import random
import shutil
import struct
from decimal import Decimal

import pytest

from cstore_fdw_spark.sources import cstore_format
from cstore_fdw_spark.sources.cstore_format import (
    CSTORE_TYPES, MAGIC, _pglz_compress_py, _pglz_decompress_py,
    pglz_compress, pglz_decompress, read_cstore_file, read_footer,
    write_cstore_file)


def test_pglz_spec_vectors_and_round_trips():
    """Hand-built streams per the published pg_lzcompress format pin the
    DECODER against the spec (not just against our own encoder); random
    and highly-compressible buffers then round-trip."""
    # literal 'a','b' then match(off=2, len=4) -> "ababab"
    stream = bytes([0b00000100, ord("a"), ord("b"), 0x01, 0x02])
    assert pglz_decompress(stream, 6) == b"ababab"
    # length extension: literal 'x' then match(off=1, len=20)
    stream = bytes([0b00000010, ord("x"), 0x0F, 0x01, 20 - 18])
    assert pglz_decompress(stream, 21) == b"x" * 21
    # truncated streams: a match tag cut after its first byte, and a
    # saturated tag whose length-extension byte is missing; after 256
    # literals, a zero byte read past the end would complete either one
    # into a valid offset-256 match, so a kernel that reads past the
    # stream decodes them
    lits = b"".join(b"\x00" + bytes(range(i, i + 8))
                    for i in range(0, 256, 8))
    for decode in (pglz_decompress, _pglz_decompress_py):
        for stream, rawsize in ((bytes([0x01, 0x05]), 10),
                                (bytes([0b10, ord("x"), 0x0F, 0x01]), 21),
                                (lits + bytes([0x01, 0x11]), 260),
                                (lits + bytes([0x01, 0x1F, 0x00]), 274)):
            with pytest.raises(ValueError):
                decode(stream, rawsize)
    for trial, data in enumerate(_random_pglz_inputs()):
        packed = pglz_compress(data)
        if packed is not None:
            assert len(packed) < len(data)
            assert pglz_decompress(packed, len(data)) == data, trial
    # incompressible data is declined, like the reference's CompressBuffer
    assert pglz_compress(bytes(range(256))) is None


def _random_pglz_inputs():
    """40 seeded buffers: random bytes, repeated text, two-letter runs."""
    rng = random.Random(5)
    for trial in range(40):
        n = rng.randint(0, 4000)
        mode = trial % 3
        if mode == 0:
            yield bytes(rng.randrange(256) for _ in range(n))
        elif mode == 1:
            yield (b"the quick brown fox " * (n // 10 + 1))[:n]
        else:
            yield bytes(rng.choice(b"ab") for _ in range(n))


def _native_kernels():
    native = cstore_format._native_pglz()
    if native is None:
        assert shutil.which("cc") is None, "cc exists but pglz.c did not load"
        pytest.skip("no C compiler: the Python pglz kernels serve")
    return native


def _lineitem_blocks(sf_dir, tmp_path, block_row_count):
    """Every value buffer the writer hands to pglz when lineitem, sorted
    by l_orderkey as the table_writes benchmark loads it, is written at
    ``block_row_count``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    names = {pa.int64(): "bigint", pa.int32(): "integer",
             pa.float64(): "double", pa.string(): "string"}
    tbl = pq.read_table(f"{sf_dir}/lineitem.parquet").sort_by("l_orderkey")
    tbl = tbl.cast(pa.schema([
        pa.field(f.name, pa.timestamp("us")
                 if pa.types.is_timestamp(f.type) else f.type)
        for f in tbl.schema]))
    types = [names.get(f.type, "timestamp") for f in tbl.schema]
    seen = []
    real = cstore_format.pglz_compress

    def record(data):
        seen.append(bytes(data))
        return real(data)
    cstore_format.pglz_compress = record
    try:
        cstore_format.write_cstore_arrow(
            str(tmp_path / f"li{block_row_count}.cstore"), tbl, types,
            block_row_count=block_row_count)
    finally:
        cstore_format.pglz_compress = real
    return seen


def test_pglz_c_compress_matches_python_byte_for_byte(sf_dir, tmp_path):
    """The C encoder emits the Python encoder's exact stream (or
    declines the same inputs) over the spec vectors, the seeded random
    buffers, hypothesis buffers, and every lineitem block the benchmark's
    writer compresses at block sizes 1000 and 10000."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    native = _native_kernels()

    def same(data):
        want = _pglz_compress_py(data)
        assert native.compress(data) == want, len(data)
        if want is not None:
            assert native.decompress(want, len(data)) == data

    # the abort rule's boundary: past n/4 the stream is exactly as long
    # as the input consumed, which already declines the buffer
    boundary = bytes.fromhex("6261616262616262626261626162616161616162"
                             "616261626261626270cfb1")
    assert _pglz_compress_py(boundary) is None
    buffers = [b"ababab", b"x" * 21, bytes(range(256)), b"", boundary,
               *_random_pglz_inputs()]
    for brc in (1000, 10000):
        blocks = _lineitem_blocks(sf_dir, tmp_path, brc)
        assert len(blocks) >= 11
        buffers += blocks
    for data in buffers:
        same(data)

    @settings(max_examples=150, deadline=None)
    @given(st.one_of(
        st.binary(max_size=3000),
        st.lists(st.sampled_from([b"a", b"ab", b"abc", b"\x00" * 7,
                                  b"xyzxyzxyz", bytes(range(40))]),
                 max_size=400).map(b"".join)))
    def inner(data):
        same(data)
    inner()


def _fixture_streams():
    """(stream, rawsize) of every pglz block of the committed
    tests/fixtures/contestant*.cstore files."""
    from scripts.make_contestant_fixture import OUT, OUT_ARR, TYPES, TYPES_ARR
    seen = []
    real = cstore_format.pglz_decompress

    def record(data, rawsize):
        seen.append((bytes(data), rawsize))
        return real(data, rawsize)
    cstore_format.pglz_decompress = record
    try:
        for path, types in ((OUT, TYPES), (OUT_ARR, TYPES_ARR)):
            list(read_cstore_file(path, types))
    finally:
        cstore_format.pglz_decompress = real
    return seen


def test_pglz_c_decompress_matches_python_on_fixtures_and_fuzz():
    """The C decoder returns the Python decoder's bytes for every block
    of the committed contestant fixtures, and over corrupted and
    truncated versions of those streams and of the seeded random
    buffers' streams the two kernels either both raise ValueError or
    both return the same bytes."""
    native = _native_kernels()
    streams = _fixture_streams()
    assert streams
    for data, rawsize in streams:
        assert native.decompress(data, rawsize) == \
            _pglz_decompress_py(data, rawsize)
    rng = random.Random(11)
    # short streams put every corruption near a tag or the stream's end
    short = [bytes(rng.choice(b"abc") for _ in range(n))
             for n in range(20, 400, 3)]
    streams += [(packed, len(data))
                for data in [*_random_pglz_inputs(), *short]
                if (packed := _pglz_compress_py(data)) is not None]

    def outcome(kernel, data, rawsize):
        try:
            return kernel(data, rawsize)
        except ValueError:
            return ValueError

    outcomes = set()
    for trial in range(6000):
        data, rawsize = rng.choice(streams)
        data = bytearray(data)
        kind = trial % 4
        if kind == 0:    # flipped bytes
            for _ in range(rng.randint(1, 4)):
                data[rng.randrange(len(data))] = rng.randrange(256)
        elif kind == 1:  # truncated stream
            del data[rng.randrange(len(data)):]
        elif kind == 2:  # wrong rawsize
            rawsize += rng.choice([-100, -1, 1, 7, 10**6])
        else:            # a random byte inserted
            data.insert(rng.randrange(len(data) + 1), rng.randrange(256))
        want = outcome(_pglz_decompress_py, bytes(data), rawsize)
        assert outcome(native.decompress, bytes(data), rawsize) == want, \
            trial
        outcomes.add(want is ValueError)
    assert outcomes == {True, False}  # the fuzz hit both outcomes


def _sample_rows(n):
    rows = []
    for i in range(n):
        if i % 17 == 0:
            rows.append((None,) * 9)
            continue
        rows.append((
            i * 1000003, i - 1200, (i % 60000) - 30000, i % 3 == 0,
            i / 7.0, float(i % 100) / 4.0,
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i % 4000),
            datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)
            + datetime.timedelta(seconds=i * 31),
            ("döc-" + "x" * (i % 200) + str(i)) if i % 5 else ""))
    return rows


TYPES = ["bigint", "integer", "smallint", "boolean", "double", "float",
         "date", "timestamp", "string"]


@pytest.mark.parametrize("comp", ["none", "pglz"])
def test_cstore_file_round_trip_all_types(tmp_path, comp):
    """Every supported type + NULL rows + multibyte text survive a
    multi-stripe, multi-block file round trip bit-exactly; pglz shrinks
    the file."""
    rows = _sample_rows(2500)
    path = str(tmp_path / f"t_{comp}.cstore")
    write_cstore_file(path, rows, TYPES, stripe_row_count=1000,
                      block_row_count=150, compression=comp)
    assert list(read_cstore_file(path, TYPES)) == rows
    if comp == "pglz":
        none_path = str(tmp_path / "t_none2.cstore")
        write_cstore_file(none_path, rows, TYPES, stripe_row_count=1000,
                          block_row_count=150, compression="none")
        assert (os.path.getsize(path) < 0.5 * os.path.getsize(none_path))


def test_cstore_footer_layout_pin(tmp_path):
    """Byte-level format pins: the footer file ends with the 1-byte
    postscript size; the postscript carries magic 'citus_cstore' and
    version 1.7; stripe metadata arithmetic adds up to the data file
    size (cstore_writer.c:379-414 protocol)."""
    rows = _sample_rows(300)
    path = str(tmp_path / "pin.cstore")
    write_cstore_file(path, rows, TYPES, stripe_row_count=120,
                      block_row_count=50)
    raw = open(path + ".footer", "rb").read()
    ps_size = raw[-1]
    assert ps_size < 256
    assert MAGIC.encode() in raw[-1 - ps_size:-1]
    brc, stripes = read_footer(path)
    assert brc == 50
    assert len(stripes) == 3  # 300 rows / 120-row stripes
    total = sum(sk + dl + fl for _off, sk, dl, fl in stripes)
    assert total == os.path.getsize(path)
    assert stripes[0][0] == 0  # first stripe at offset 0


def test_cstore_projection_and_block_skipping(tmp_path):
    """Projection decodes only wanted columns; a min/max block predicate
    prunes non-qualifying blocks (and never loses qualifying rows) —
    the reference's skip-list filtering (cstore_reader.c)."""
    rows = _sample_rows(2000)
    path = str(tmp_path / "skip.cstore")
    write_cstore_file(path, rows, TYPES, stripe_row_count=500,
                      block_row_count=100, compression="none")
    two = list(read_cstore_file(path, TYPES, wanted=[0, 8]))
    assert two[1] == (rows[1][0], rows[1][8])
    thr = 1_500_000_000
    seen = list(read_cstore_file(
        path, TYPES, wanted=[0],
        block_pred=lambda c, lo, hi: hi is not None and hi >= thr))
    want = sorted(r[0] for r in rows if r[0] is not None and r[0] >= thr)
    got = sorted(v[0] for v in seen if v[0] is not None and v[0] >= thr)
    assert got == want
    assert len(seen) < len(rows), "nothing was pruned"


def test_cstore_spark_datasource_round_trip(spark, tmp_path):
    """df.write.format('cstore') -> read.format('cstore'): values,
    NULLs, filters (exercising pushed-filter block skipping), overwrite
    mode, and the schema-required error."""
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    register_cstore(spark)  # idempotent
    ddl = ("id BIGINT, small INT, flag BOOLEAN, x DOUBLE, d DATE, "
           "ts TIMESTAMP, s STRING")
    rows = []
    for i in range(3000):
        if i % 13 == 0:
            rows.append((None,) * 7)
        else:
            rows.append((
                i * 7, i - 100, i % 2 == 0, i / 3.0,
                datetime.date(2019, 1, 1) + datetime.timedelta(days=i % 900),
                datetime.datetime(2022, 5, 6, 7, 8, 9, 500000)
                + datetime.timedelta(seconds=i),
                f"row-ö-{i}" if i % 3 else ""))
    df = spark.createDataFrame(rows, ddl).repartition(4)
    path = str(tmp_path / "ds")
    (df.write.format("cstore").option("stripe_row_count", "500")
       .option("block_row_count", "100").mode("overwrite").save(path))
    assert any(f.endswith(".cstore") for f in os.listdir(path))
    back = spark.read.format("cstore").schema(ddl).load(path)

    def key(t):
        return tuple((v is None, str(v)) for v in t)

    assert (sorted((tuple(r) for r in back.collect()), key=key)
            == sorted((tuple(r) for r in df.collect()), key=key))
    pred = "id > 10000 and d >= date'2020-01-01'"
    assert (sorted((tuple(r) for r in back.filter(pred).collect()), key=key)
            == sorted((tuple(r) for r in df.filter(pred).collect()),
                      key=key))
    df.limit(7).write.format("cstore").mode("overwrite").save(path)
    assert spark.read.format("cstore").schema(ddl).load(path).count() == 7
    with pytest.raises(Exception, match="schema"):
        spark.read.format("cstore").load(path).count()


def test_cstore_unsupported_type_is_loud(spark, tmp_path):
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    df = spark.createDataFrame([(1, {"k": 2})], "a INT, m MAP<STRING,INT>")
    with pytest.raises(Exception, match="does not support column type"):
        # python data sources accept only append/overwrite save modes
        df.write.format("cstore").mode("overwrite").save(
            str(tmp_path / "bad"))
    assert sorted(CSTORE_TYPES) == [
        "bigint", "boolean", "bytea", "date", "double", "float",
        "inet", "integer", "interval", "json", "money", "smallint",
        "string", "time", "timestamp", "timestamptz", "uuid", "varbit"]


def test_catalog_managed_cstore_table_lifecycle(spark, tmp_path):
    """storage_format='cstore': the catalog manages tables in the
    reference's OWN binary format — epoch-stamped appends, time travel,
    metadata-only row_count via skip-list walks, ADD COLUMN default
    backfill (old files NULL-pad positionally, the watermark applies
    the default), crash-safe compact, format conversion BOTH ways via
    alter_table_layout, and the v1.7 feature guards (no partition_by/
    zorder/bloom, pglz-or-none compression, no DROP COLUMN)."""
    import datetime

    import pyspark.sql.functions as F

    from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError

    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "a BIGINT, b STRING, d DATE",
                     storage_format="cstore", stripe_row_count=1000,
                     block_row_count=1000)
    cat.insert("t", spark.range(0, 500).select(
        F.col("id").alias("a"),
        F.concat(F.lit("x"), F.col("id")).alias("b"),
        F.lit(datetime.date(2024, 1, 2)).alias("d")))
    e1 = cat.current_epoch("t")
    cat.insert("t", spark.range(500, 800).select(
        F.col("id").alias("a"), F.lit(None).cast("string").alias("b"),
        F.lit(None).cast("date").alias("d")))
    assert cat.read("t").count() == 800
    assert cat.row_count("t") == 800          # skip-list walk, no data
    assert cat.read("t", as_of_epoch=e1).count() == 500
    # value fidelity through the binary format
    row = cat.read("t").filter("a = 3").collect()[0]
    assert (row.b, row.d) == ("x3", datetime.date(2024, 1, 2))
    # schema evolution: default backfills rows older than the column
    cat.add_column("t", "q", "INT", default=7)
    cat.insert("t", spark.range(800, 900).select(
        F.col("id").alias("a"), F.lit("new").alias("b"),
        F.lit(None).cast("date").alias("d"),
        F.lit(1).cast("int").alias("q")))
    out = cat.read("t")
    assert out.filter("a < 800 and q = 7").count() == 800
    assert out.filter("a >= 800 and q = 1").count() == 100
    # the explicit-NULL hazard: a post-ADD batch inserting NULL q must
    # NOT read the default — the reader emits each row's file epoch
    # (input_file_name() is empty for python data sources) and the
    # projection scopes the backfill by it
    cat.insert("t", spark.range(900, 950).select(
        F.col("id").alias("a"), F.lit("nullq").alias("b"),
        F.lit(None).cast("date").alias("d"),
        F.lit(None).cast("int").alias("q")))
    out2 = cat.read("t")
    assert out2.filter("a >= 900 and q is null").count() == 50
    assert out2.filter("a < 800 and q = 7").count() == 800
    # metadata-only zone maps from the SKIP LISTS feed column_minmax
    assert cat.column_minmax("t", "a") == (0, 949)
    # text columns stay honestly un-prunable (collation hazard)
    assert cat.column_minmax("t", "b") is None
    # DELETE works (file pruning falls back to a full rewrite — no
    # input_file_name identity on python data sources)
    assert cat.delete_where("t", "a >= 900") == 50
    assert cat.read("t").count() == 900
    cat.compact("t")
    assert cat.read("t").count() == 900
    assert cat.read("t").filter("q = 7").count() == 800
    with pytest.raises(CStoreError, match="not supported"):
        cat.drop_column("t", "b")
    # convert to parquet and back — data survives both rewrites
    cat.alter_table_layout("t", storage_format="parquet",
                           compression="zstd")
    assert cat.read("t").count() == 900
    cat.alter_table_layout("t", storage_format="cstore",
                           compression="pglz")
    assert cat.read("t").filter("q = 7").count() == 800
    cat.truncate("t")
    assert cat.read("t").count() == 0
    cat.drop_table("t")
    for bad in ({"partition_by": "a"}, {"zorder_by": "a"},
                {"compression": "zstd"}):
        with pytest.raises(CStoreError):
            cat.create_table("bad", "a INT", storage_format="cstore",
                             **bad)


def test_cstore_codec_property_round_trip():
    """Property test: arbitrary row content in every supported type
    round-trips through the binary format, under adversarial block/
    stripe boundaries (sizes 1 and 2 force single-row blocks and
    stripe-per-row layouts)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    col_strategies = {
        "bigint": st.integers(-2**63, 2**63 - 1),
        "integer": st.integers(-2**31, 2**31 - 1),
        "smallint": st.integers(-2**15, 2**15 - 1),
        "boolean": st.booleans(),
        "double": st.floats(allow_nan=False, width=64),
        "float": st.floats(allow_nan=False, width=32),
        "date": st.dates(min_value=datetime.date(1, 1, 1),
                         max_value=datetime.date(9999, 12, 28)),
        "timestamp": st.datetimes(
            min_value=datetime.datetime(1970, 1, 2),
            max_value=datetime.datetime(2200, 1, 1)),
        "string": st.text(max_size=300),
    }

    @settings(max_examples=40, deadline=None)
    @given(data=st.data())
    def inner(data):
        types = data.draw(st.lists(
            st.sampled_from(sorted(col_strategies)), min_size=1,
            max_size=5))
        n = data.draw(st.integers(0, 40))
        rows = [tuple(
            data.draw(st.one_of(st.none(), col_strategies[t]))
            for t in types) for _ in range(n)]
        brc = data.draw(st.sampled_from([1, 2, 7, 50]))
        src = data.draw(st.sampled_from([1, 3, 50]))
        comp = data.draw(st.sampled_from(["none", "pglz"]))
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "p.cstore")
            write_cstore_file(path, rows, types, stripe_row_count=src,
                              block_row_count=brc, compression=comp)
            assert list(read_cstore_file(path, types)) == rows

    inner()


def test_reference_query_regression_in_cstore_format(spark, tmp_path):
    """The reference's own pg_regress corpus, end to end in its own
    binary format: load data/contestants.{1,2}.csv into catalog tables
    with storage_format='cstore' (one uncompressed, one pglz — the
    contestant / contestant_compressed pair of sql/query.sql), run the
    reference's query.sql aggregations, and pin the expected/query.out
    values (count 8, avg 2344.375, stddev_samp 433.746119785032, the
    per-country >2200 averages, and the full handle-ordered scan)."""
    from decimal import Decimal

    import pyspark.sql.functions as F

    from cstore_fdw_spark.catalog import CStoreCatalog
    from cstore_fdw_spark.io import copy_from_csv

    ddl = ("handle STRING, birthdate DATE, rating INT, "
           "percentile DOUBLE, country STRING, achievements STRING")
    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    for tbl, comp in (("contestant", "none"),
                      ("contestant_compressed", "pglz")):
        cat.create_table(tbl, ddl, storage_format="cstore",
                         compression=comp)
        for part in ("1", "2"):
            copy_from_csv(cat, tbl,
                          f"/root/reference/data/contestants.{part}.csv")
        t = cat.read(tbl)
        # SELECT count(*) -> 8 (expected/query.out:9)
        assert t.count() == 8
        # SELECT avg(rating), stddev_samp(rating) -> 2344.375,
        # 433.746119785032 (query.out:14-16)
        row = t.agg(
            F.avg(F.col("rating").cast("decimal(12,4)")).alias("a"),
            F.stddev_samp("rating").alias("s")).collect()[0]
        assert row.a == Decimal("2344.37500")
        assert abs(row.s - 433.746119785032) < 1e-9
        # the >2200 per-country averages (query.out:18-26)
        got = {r.country.strip(): float(r.a) for r in
               t.filter("rating > 2200").groupBy("country")
               .agg(F.avg("rating").alias("a")).collect()}
        assert got == {"XA": 2203.0, "XB": 2610.5, "XC": 2236.0,
                       "XD": 3090.0}
        # SELECT * ORDER BY handle (query.out:28-40)
        rows = t.orderBy("handle").collect()
        assert [r.handle for r in rows] == list("abcdefgh")
        assert [r.rating for r in rows] == [2090, 2203, 2907, 2314,
                                            2236, 3090, 1803, 2112]
        assert rows[0].achievements == "{a}"
        assert str(rows[0].birthdate) == "1990-01-10"
        # the pair really differs in on-disk compression
    import os
    sizes = {}
    for tbl in ("contestant", "contestant_compressed"):
        meta = cat._load_meta(tbl)
        dp = cat._data_path(meta)
        sizes[tbl] = sum(os.path.getsize(os.path.join(r, f))
                         for r, _d, fs in os.walk(dp) for f in fs)
    assert sizes["contestant"] > 0 and sizes["contestant_compressed"] > 0


def test_reference_block_filtering_regression_exact():
    """The reference's block_filtering regression, in its own format
    with its own layout (block_row_count=1000, stripe_row_count=2000,
    serial 1..10000): filtered_row_count — rows the residual filter
    removes AFTER skip-list pruning — matches expected/
    block_filtering.source EXACTLY for every locked query, including
    the all-skipped zero-row case and the double-load doubling."""
    import tempfile

    preds = {
        "none": (None, 10000, 0),
        "a<200": (lambda c, lo, hi: lo < 200, 199, 801),
        "a>200": (lambda c, lo, hi: hi > 200, 9800, 200),
        "a<9900": (lambda c, lo, hi: lo < 9900, 9899, 101),
        "a>9900": (lambda c, lo, hi: hi > 9900, 100, 900),
        "a<0": (lambda c, lo, hi: lo < 0, 0, 0),
        "between 1 and 10": (lambda c, lo, hi: hi >= 1 and lo <= 10,
                             10, 990),
        "between 990 and 2010": (lambda c, lo, hi: hi >= 990
                                 and lo <= 2010, 1021, 1979),
        "between -10 and 0": (lambda c, lo, hi: hi >= -10 and lo <= 0,
                              0, 0),
    }

    def qualifies(label, v):
        if label == "none":
            return True
        if label.startswith("between"):
            lo, hi = label.split()[1], label.split()[3]
            return int(lo) <= v <= int(hi)
        op = label[1]
        bound = int(label[2:])
        return v < bound if op == "<" else v > bound

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bf.cstore")
        rows = [(i,) for i in range(1, 10001)]
        for n_loads in (1, 2):
            write_cstore_file(path, rows * n_loads, ["integer"],
                              stripe_row_count=2000,
                              block_row_count=1000, compression="none")
            for label, (pred, want_rows, want_removed) in preds.items():
                examined = [v[0] for v in read_cstore_file(
                    path, ["integer"], block_pred=pred)]
                returned = [v for v in examined if qualifies(label, v)]
                removed = len(examined) - len(returned)
                assert len(returned) == want_rows * n_loads, label
                assert removed == want_removed * n_loads, (
                    f"{label}: filtered_row_count {removed} != "
                    f"{want_removed * n_loads} (reference "
                    f"expected/block_filtering.source)")


def test_cstore_reader_never_prunes_on_text_collation_hazard(spark,
                                                             tmp_path):
    """A foreign cstore file may carry text min/max computed under a
    NON-C collation (the reference's da_DK regression: 'aa' sorts after
    'z', input/block_filtering.source:62-71) — so the data source must
    never block-skip on string bounds. Craft a file whose text min/max
    are deliberately WRONG for bytewise order; a string filter must
    still return every qualifying row, while an int filter on the same
    read does prune."""
    from cstore_fdw_spark.sources import cstore_format as cf
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    path = str(tmp_path / "collated")
    os.makedirs(path)
    rows = [(i, "zebra" if i < 500 else "aardvark") for i in range(1000)]
    cf.write_cstore_file(os.path.join(path, "p.cstore"), rows,
                         ["integer", "string"], stripe_row_count=1000,
                         block_row_count=250, compression="none")
    # sabotage the text bounds in-place is unnecessary: it suffices that
    # the reader IGNORES them — assert via a filter whose bytewise
    # bounds WOULD prune block 0 ('zebra' block, min=max='zebra') if
    # string pruning were active
    ddl = "a INT, s STRING"
    df = spark.read.format("cstore").schema(ddl).load(path)
    assert df.filter("s < 'middle'").count() == 500   # all aardvarks
    assert df.filter("s >= 'middle'").count() == 500  # all zebras
    # int pruning still engages (pushed filter retained for col a)
    assert df.filter("a >= 750").count() == 250


def test_cstore_merge_prunes_files_via_skiplist_zone_maps(spark,
                                                          tmp_path):
    """MERGE file pruning on the binary format: the skip-list zone maps
    (file_stats) keep files whose key range cannot overlap the source
    OUT of the join and the rewrite — after a narrow-range upsert, the
    non-overlapping files are bit-identical on disk (mtime AND bytes),
    while the touched range updates correctly."""
    import glob

    import pyspark.sql.functions as F  # noqa: F401

    from cstore_fdw_spark.catalog import CStoreCatalog

    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "k BIGINT, v STRING", storage_format="cstore",
                     stripe_row_count=1000, block_row_count=1000)
    cat.insert("t", spark.range(0, 500).selectExpr("id as k", "'a' as v"))
    cat.insert("t", spark.range(500, 1000).selectExpr(
        "id as k", "'b' as v"))
    dp = cat._data_path(cat._load_meta("t"))
    before = {f: open(f, "rb").read()
              for f in glob.glob(dp + "/*.cstore")}
    stats = cat.merge_into(
        "t", spark.range(10, 20).selectExpr("id as k", "'UP' as v"),
        on="k")
    assert stats == {"matched": 10, "inserted": 0,
                     "removed_unmatched": 0}
    out = cat.read("t")
    assert out.filter("v = 'UP'").count() == 10
    assert out.count() == 1000
    after = set(glob.glob(dp + "/*.cstore"))
    survivors = set(before) & after
    assert survivors, "pruning rewrote every file"
    for f in survivors:
        assert open(f, "rb").read() == before[f], f


class _SpanFH:
    """File-handle proxy recording every (start, length) read span —
    the instrument behind the projection-pushdown proof."""

    def __init__(self, fh):
        self._fh = fh
        self.spans: list[tuple[int, int]] = []

    def seek(self, pos):
        return self._fh.seek(pos)

    def read(self, n=-1):
        start = self._fh.tell()
        data = self._fh.read(n)
        self.spans.append((start, len(data)))
        return data


def test_cstore_arrow_projection_never_reads_unwanted_columns(tmp_path):
    """A2 parity for the Arrow scan path (the reference's ColumnList,
    cstore_fdw.c:1841-1941 / cstore_reader.c:501-526): a pruned
    projection must never touch an unwanted column's skip list, exists
    buffer, or value buffer — proven by recording every byte span read
    and intersecting with the unwanted columns' sections computed from
    the stripe footer."""
    from cstore_fdw_spark.sources.cstore_format import (
        _parse, read_stripe_batches)

    rows = _sample_rows(2000)
    path = str(tmp_path / "prune.cstore")
    write_cstore_file(path, rows, TYPES, stripe_row_count=1000,
                      block_row_count=250, compression="none")
    _brc, stripes = read_footer(path)
    names = [f"c{i}" for i in range(len(TYPES))]
    positions = [0, 4]  # bigint + double (text c8 stays cold)

    def batches(fh_wrap, pos):
        out = []
        for stripe in stripes:
            out.extend(read_stripe_batches(
                fh_wrap, stripe, [TYPES[p] for p in pos],
                [names[p] for p in pos], positions=pos))
        return out

    with open(path, "rb") as fh:
        full_fh = _SpanFH(fh)
        full = batches(full_fh, list(range(len(TYPES))))
    with open(path, "rb") as fh:
        pruned_fh = _SpanFH(fh)
        pruned = batches(pruned_fh, positions)
    # values identical to the full read's corresponding columns
    import pyarrow as pa
    t_full = pa.Table.from_batches(full)
    t_pruned = pa.Table.from_batches(pruned)
    assert t_pruned.column("c0").to_pylist() == \
        t_full.column("c0").to_pylist()
    assert t_pruned.column("c4").to_pylist() == \
        t_full.column("c4").to_pylist()
    # compute every unwanted column's byte sections from the footers
    forbidden = []
    with open(path, "rb") as fh:
        for offset, skip_len, data_len, footer_len in stripes:
            fh.seek(offset + skip_len + data_len)
            sfooter = _parse(fh.read(footer_len))
            skip_sizes = sfooter.get(1, [])
            exists_sizes = sfooter.get(2, [])
            value_sizes = sfooter.get(3, [])
            run = offset
            skip_spans = []
            for sz in skip_sizes:
                skip_spans.append((run, sz))
                run += sz
            run = offset + skip_len
            data_spans = []
            for c in range(len(skip_sizes)):
                data_spans.append((run, exists_sizes[c] + value_sizes[c]))
                run += exists_sizes[c] + value_sizes[c]
            for c in range(len(skip_sizes)):
                if c not in positions:
                    forbidden.append(skip_spans[c])
                    forbidden.append(data_spans[c])

    def overlaps(span, ranges):
        s, ln = span
        return any(s < fs + fl and fs < s + ln
                   for fs, fl in ranges if fl)

    for span in pruned_fh.spans:
        assert not overlaps(span, forbidden), \
            f"pruned read touched an unwanted column: {span}"
    # and the IO drop is real: 7 of 9 columns (incl. the wide text
    # column) never read
    assert sum(ln for _s, ln in pruned_fh.spans) < \
        0.5 * sum(ln for _s, ln in full_fh.spans)


def test_cstore_writer_streams_stripes(tmp_path):
    """The sink's flush discipline (cstore_writer.c:493): a
    multi-stripe partition writes with at most stripe_row_count rows
    buffered (spied via peak_buffered_rows), and the streamed output is
    byte-identical to the collect-then-write path."""
    import pyarrow as pa

    from cstore_fdw_spark.sources.cstore_datasource import CStoreWriter
    from cstore_fdw_spark.sources.cstore_format import write_cstore_arrow
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType)

    schema = StructType([StructField("a", LongType()),
                         StructField("b", StringType())])
    tbl = pa.table({
        "a": list(range(3500)),
        "b": [None if i % 11 == 0 else f"v{i}" for i in range(3500)]})
    # odd-sized incoming batches so stripe boundaries cross batches
    batches = [b for o, n in
               [(0, 700), (700, 1), (701, 1299), (2000, 1500)]
               for b in tbl.slice(o, n).to_batches()]
    out_dir = str(tmp_path / "sink")
    w = CStoreWriter(schema, {"path": out_dir,
                              "stripe_row_count": "1000",
                              "block_row_count": "300"},
                     overwrite=False)
    w.write(iter(batches))
    assert w.peak_buffered_rows <= 1000
    files = [f for f in os.listdir(out_dir) if f.endswith(".cstore")]
    assert len(files) == 1
    streamed = open(os.path.join(out_dir, files[0]), "rb").read()
    ref_path = str(tmp_path / "ref.cstore")
    write_cstore_arrow(ref_path, tbl, ["bigint", "string"],
                       stripe_row_count=1000, block_row_count=300)
    assert streamed == open(ref_path, "rb").read()
    assert (open(os.path.join(out_dir, files[0]) + ".footer", "rb").read()
            == open(ref_path + ".footer", "rb").read())


def test_catalog_stage_writes_the_sink_bytes(spark, tmp_path):
    """The catalog stages a cstore table through the sink's writer in an
    Arrow map, not through the sink: at the same stripe boundaries its
    file and footer are byte-identical to the ``format("cstore")``
    sink's and to the collect-then-write path's."""
    import pyarrow as pa

    from cstore_fdw_spark.catalog import CStoreCatalog
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore
    from cstore_fdw_spark.sources.cstore_format import write_cstore_arrow

    tbl = pa.table({
        "a": list(range(3500)),
        "b": [None if i % 11 == 0 else f"v{i}" for i in range(3500)]})
    df = spark.createDataFrame(tbl, "a long, b string").coalesce(1)
    opts = {"stripe_row_count": "1000", "block_row_count": "1000"}

    def only_file(directory):
        (name,) = [f for f in os.listdir(directory)
                   if f.endswith(".cstore")]
        path = os.path.join(directory, name)
        return (open(path, "rb").read(),
                open(path + ".footer", "rb").read())

    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "a long, b string", storage_format="cstore",
                     **opts)
    cat.insert("t", df)
    register_cstore(spark)
    sink = str(tmp_path / "sink")
    df.write.format("cstore").options(**opts).mode("overwrite").save(sink)
    ref = str(tmp_path / "ref.cstore")
    write_cstore_arrow(ref, tbl, ["bigint", "string"],
                       stripe_row_count=1000, block_row_count=1000)

    staged = only_file(cat._data_path(cat._load_meta("t")))
    assert staged == only_file(sink)
    assert staged == (open(ref, "rb").read(),
                      open(ref + ".footer", "rb").read())


def test_catalog_cstore_pruned_read(spark, tmp_path):
    """read(columns=...) on a cstore table decodes only the named
    columns (values identical to the full read), composes with block
    skipping and ADD COLUMN read repair, and rejects unknown names;
    on parquet the same call prunes the scan's ReadSchema."""
    import re

    import pyspark.sql.functions as F

    from cstore_fdw_spark.catalog import CStoreCatalog, CStoreError

    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table(
        "w6", "a BIGINT, b STRING, c DOUBLE, d BIGINT, e DATE, f BOOLEAN",
        storage_format="cstore", stripe_row_count=1000,
        block_row_count=1000)
    df = spark.range(0, 2000).select(
        F.col("id").alias("a"),
        F.concat(F.lit("s"), F.col("id") % 7).alias("b"),
        (F.col("id") * 1.5).alias("c"),
        (F.col("id") * 100).alias("d"),
        F.to_date(F.lit("2024-03-01")).alias("e"),
        (F.col("id") % 2 == 0).alias("f"))
    cat.insert("w6", df)
    pruned = cat.read("w6", columns=["a", "c", "e"])
    assert pruned.columns == ["a", "c", "e"]
    got = {r.a: (r.c, str(r.e)) for r in pruned.collect()}
    assert len(got) == 2000 and got[7] == (10.5, "2024-03-01")
    # pruned + filtered (block skipping under remapped positions)
    flt = cat.read("w6", columns=["a", "d"]).filter("a >= 1995") \
        .orderBy("a").collect()
    assert [(r.a, r.d) for r in flt] == \
        [(i, i * 100) for i in range(1995, 2000)]
    # ADD COLUMN: synthesized default for pruned reads that include it,
    # absent physically (never written)
    cat.add_column("w6", "g", "STRING", default="pg")
    gcol = cat.read("w6", columns=["a", "g"])
    assert gcol.columns == ["a", "g"]
    assert gcol.filter("g = 'pg'").count() == 2000
    # ONLY synthesized columns requested: a physical carrier column
    # keeps row multiplicity (then drops out of the projection)
    only_g = cat.read("w6", columns=["g"])
    assert only_g.columns == ["g"]
    assert only_g.filter("g = 'pg'").count() == 2000
    with pytest.raises(CStoreError, match="do not exist"):
        cat.read("w6", columns=["a", "nope"])
    # parquet: ReadSchema prunes to the requested columns
    cat.create_table("wp", "a BIGINT, b STRING, c DOUBLE")
    cat.insert("wp", spark.range(0, 100).select(
        F.col("id").alias("a"), F.lit("x").alias("b"),
        F.lit(1.0).alias("c")))
    plan = cat.read("wp", columns=["a", "c"]) \
        ._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(x.split(":")[0] for x in m.group(1).split(",")) == \
        {"a", "c"}


def test_column_positions_negative_is_rejected(spark, tmp_path):
    """A negative column_positions entry would silently read byte spans
    from the END of the skip/value tables (Python negative indexing) —
    must raise instead."""
    from cstore_fdw_spark.sources.cstore_datasource import (
        register_cstore)
    from cstore_fdw_spark.sources.cstore_format import write_cstore_file

    register_cstore(spark)
    path = str(tmp_path / "neg.cstore")
    write_cstore_file(path, [(1, "a"), (2, "b")],
                      ["integer", "string"])
    df = (spark.read.format("cstore")
          .schema("v INT")
          .option("column_positions", "-1")
          .load(path))
    with pytest.raises(Exception, match="non-negative"):
        df.collect()


def test_arrow_paths_reject_non_spark_fixed_width_kinds():
    """Fixed-width kinds with no Spark type (time/money/uuid/...) get
    the documented loud unsupported-type error on the arrow read path,
    not a bare KeyError."""
    from cstore_fdw_spark.sources.cstore_format import (
        _decode_block_arrow)

    with pytest.raises(ValueError, match="not\\s+Spark-expressible"):
        _decode_block_arrow(b"\x00" * 8, b"\x01", 1, 8, 8, "time")


# ------------------------------------------- writer / reader differentials

def _f32(x):
    return struct.unpack("<f", struct.pack("<f", x))[0]


_NAN = float("nan")
_D0 = datetime.date(2000, 1, 1)
_T0 = datetime.datetime(2000, 1, 1)

#: every Spark-expressible cstore type -> a value generator (rnd -> value);
#: the floats draw NaN, ±0.0 and ±infinity often enough to land in
#: several blocks, and at every position within them
_SPARK_TYPES = {
    "boolean": lambda r: r.random() < 0.5,
    "smallint": lambda r: r.randrange(-2 ** 15, 2 ** 15),
    "integer": lambda r: r.randrange(-2 ** 31, 2 ** 31),
    "bigint": lambda r: r.randrange(-2 ** 63, 2 ** 63),
    "float": lambda r: r.choice(
        [_NAN, -0.0, 0.0, float("inf"), _f32(r.uniform(-1e6, 1e6))]
        + [_f32(r.uniform(-1e6, 1e6))] * 6),
    "double": lambda r: r.choice(
        [_NAN, -0.0, 0.0, float("-inf"), r.uniform(-1e12, 1e12)]
        + [r.uniform(-1e12, 1e12)] * 6),
    "date": lambda r: _D0 + datetime.timedelta(
        days=r.randrange(-20000, 20000)),
    "timestamp": lambda r: _T0 + datetime.timedelta(
        microseconds=r.randrange(-10 ** 15, 10 ** 15)),
    "string": lambda r: "".join(r.choice("aö€z,\"{}") for _ in
                                range(r.randrange(0, 9))),
    "bytea": lambda r: bytes(r.randrange(256)
                             for _ in range(r.randrange(0, 9))),
    "decimal(12,3)": lambda r: Decimal(
        r.randrange(-10 ** 12, 10 ** 12)).scaleb(-3),
    "array<integer>": lambda r: [
        None if r.random() < 0.2 else r.randrange(-999, 999)
        for _ in range(r.randrange(0, 4))],
    "array<string>": lambda r: [
        None if r.random() < 0.2 else "s" * r.randrange(0, 3)
        for _ in range(r.randrange(0, 4))],
    "array<double>": lambda r: [
        r.choice([_NAN, r.uniform(-9, 9)]) for _ in range(r.randrange(3))],
    "array<decimal(10,2)>": lambda r: [
        Decimal(r.randrange(-10 ** 6, 10 ** 6)).scaleb(-2)
        for _ in range(r.randrange(3))],
    "array<date>": lambda r: [
        _D0 + datetime.timedelta(days=r.randrange(-99, 99))
        for _ in range(r.randrange(3))],
    "array<timestamp>": lambda r: [
        _T0 + datetime.timedelta(seconds=r.randrange(-99, 99))
        for _ in range(r.randrange(3))],
}


def _typed_rows(type_name, n, seed=7):
    rnd = random.Random(seed)
    gen = _SPARK_TYPES[type_name]
    return [(i, None if i % 7 == 3 else gen(rnd)) for i in range(n)]


def _canon(v):
    """NaN-safe comparable form (NaN != NaN would fail equal tables)."""
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, (list, tuple)):
        return type(v)(_canon(x) for x in v)
    return v


def _arrow_table(rows, type_name):
    import pyarrow as pa

    from cstore_fdw_spark.sources.cstore_format import (
        _pa_type, cstore_type_props)

    kind = cstore_type_props(type_name)[3]
    return pa.table({
        "k": pa.array([r[0] for r in rows], pa.int64()),
        "v": pa.array([r[1] for r in rows], type=_pa_type(kind))})


@pytest.mark.parametrize("comp", ["none", "pglz"])
@pytest.mark.parametrize("type_name", sorted(_SPARK_TYPES))
def test_row_and_arrow_writers_write_identical_bytes(tmp_path, type_name,
                                                     comp):
    """write_cstore_file (per datum) and write_cstore_arrow (numpy fast
    path for by-value kinds) share one block encoder and one bound
    order: identical data and footer bytes for every Spark type, NULLs,
    NaN and ±0.0 included, over several stripes and blocks — and for an
    empty table."""
    from cstore_fdw_spark.sources.cstore_format import write_cstore_arrow

    types = ["bigint", type_name]
    for n in (1000, 0):
        rows = _typed_rows(type_name, n)
        a, b = str(tmp_path / f"rows{n}"), str(tmp_path / f"arrow{n}")
        write_cstore_file(a, rows, types, stripe_row_count=400,
                          block_row_count=150, compression=comp)
        write_cstore_arrow(b, _arrow_table(rows, type_name), types,
                           stripe_row_count=400, block_row_count=150,
                           compression=comp)
        for suffix in ("", ".footer"):
            with open(a + suffix, "rb") as fa, open(b + suffix, "rb") as fb:
                assert fa.read() == fb.read(), (type_name, n, suffix)


@pytest.mark.parametrize("type_name", sorted(_SPARK_TYPES))
def test_row_and_arrow_readers_agree(tmp_path, type_name):
    """read_cstore_file (per-datum decode) and read_stripe_batches
    (vectorized decode) walk the same blocks: equal values for every
    Spark type, and under a block_pred both ask it the same questions
    in the same order and so skip the same blocks."""
    from cstore_fdw_spark.sources.cstore_format import read_stripe_batches

    types = ["bigint", type_name]
    rows = _typed_rows(type_name, 1000)
    path = str(tmp_path / "t.cstore")
    write_cstore_file(path, rows, types, stripe_row_count=400,
                      block_row_count=150, compression="pglz")
    _brc, stripes = read_footer(path)

    def every_third_refutes(calls):
        def pred(col, lo, hi):
            calls.append(_canon((col, lo, hi)))
            return len(calls) % 3 != 1
        return pred

    def batch_rows(pred=None):
        with open(path, "rb") as fh:
            return [tuple(r.values()) for s in stripes
                    for b in read_stripe_batches(fh, s, types, ["k", "v"],
                                                 block_pred=pred)
                    for r in b.to_pylist()]

    assert _canon(list(read_cstore_file(path, types))) == _canon(rows)
    assert _canon(batch_rows()) == _canon(rows)
    row_calls, arrow_calls = [], []
    kept = list(read_cstore_file(path, types,
                                 block_pred=every_third_refutes(row_calls)))
    assert _canon(batch_rows(every_third_refutes(arrow_calls))) == _canon(kept)
    assert row_calls == arrow_calls
    assert 0 < len(kept) < len(rows), "nothing (or everything) skipped"


@pytest.mark.parametrize("nan_at", [0, 1, 2])
def test_nan_bounds_never_drop_rows(spark, tmp_path, nan_at):
    """NaN sorts above every number in Spark; a block holding
    [NaN, 1.0, 10.0] (NaN at any position) must not be skipped for
    ``x > 5``, ``x >= 10`` or ``x = NaN`` — format('cstore') and the
    catalog answer like parquet, and column_minmax equals Spark's
    min/max (1.0, NaN)."""
    import pyspark.sql.functions as F

    from cstore_fdw_spark.catalog import CStoreCatalog
    from cstore_fdw_spark.sources.cstore_datasource import register_cstore

    register_cstore(spark)
    xs = [1.0, 10.0]
    xs.insert(nan_at, _NAN)
    df = spark.createDataFrame(list(enumerate(xs)),
                               "k BIGINT, x DOUBLE").coalesce(1)
    pq_path, cs_path = str(tmp_path / "pq"), str(tmp_path / "cs")
    df.write.parquet(pq_path)
    df.write.format("cstore").mode("overwrite").save(cs_path)
    cat = CStoreCatalog(spark, warehouse=str(tmp_path / "wh"))
    cat.create_table("t", "k BIGINT, x DOUBLE", storage_format="cstore")
    cat.insert("t", df)
    want_src = spark.read.parquet(pq_path)
    sources = {
        "format": spark.read.format("cstore").schema(
            "k BIGINT, x DOUBLE").load(cs_path),
        "catalog": cat.read("t")}
    for cond in ("x > 5", "x >= 10", "x = CAST('NaN' AS DOUBLE)"):
        want = sorted(r.k for r in want_src.filter(cond).collect())
        assert want, cond
        for name, src in sources.items():
            got = sorted(r.k for r in src.filter(cond).collect())
            assert got == want, (name, cond)
    spark_mm = want_src.agg(F.min("x"), F.max("x")).collect()[0]
    assert _canon(cat.column_minmax("t", "x")) == _canon(tuple(spark_mm))
