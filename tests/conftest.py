from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cstore_fdw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# The harness regenerates /root/testdata each round and physical schemas
# have drifted before (round 4: events.ts silently changed parquet type
# NANOS -> micros-NTZ and broke every unix_micros() call). Pin the
# expected physical schema of every table and fail the whole session
# with the drifted column's name BEFORE any Spark test produces a
# confusing downstream error. Values are pyarrow type strings; a tuple
# lists the shapes the engine is known to handle (session.py keeps both
# the NTZ conf and the nanos fallback for events.ts).
EXPECTED_PHYSICAL_SCHEMAS = {
    "region": {"r_regionkey": "int32", "r_name": "string"},
    "nation": {"n_nationkey": "int32", "n_name": "string",
               "n_regionkey": "int32"},
    "customer": {"c_custkey": "int64", "c_name": "string",
                 "c_nationkey": "int32", "c_acctbal": "double",
                 "c_mktsegment": "string"},
    "supplier": {"s_suppkey": "int64", "s_name": "string",
                 "s_nationkey": "int32", "s_acctbal": "double"},
    "part": {"p_partkey": "int64", "p_name": "string", "p_brand": "string",
             "p_type": "string", "p_size": "int32",
             "p_retailprice": "double"},
    "orders": {"o_orderkey": "int64", "o_custkey": "int64",
               "o_orderstatus": "string", "o_totalprice": "double",
               "o_orderdate": ("timestamp[us]", "timestamp[ns]",
                               "timestamp[us, tz=UTC]"),
               "o_orderpriority": "string"},
    "lineitem": {"l_orderkey": "int64", "l_partkey": "int64",
                 "l_suppkey": "int64", "l_linenumber": "int32",
                 "l_quantity": "double", "l_extendedprice": "double",
                 "l_discount": "double", "l_tax": "double",
                 "l_returnflag": "string", "l_linestatus": "string",
                 "l_shipdate": ("timestamp[us]", "timestamp[ns]",
                                "timestamp[us, tz=UTC]")},
    "events": {"event_id": "int64",
               "ts": ("timestamp[us]", "timestamp[ns]",
                      "timestamp[us, tz=UTC]"),
               "user_id": "int64", "event_type": "string",
               "value": "double", "props": "string"},
    "documents": {"doc_id": "int64", "text": "string", "lang": "string",
                  "source": "string", "n_chars": "int64"},
    "embeddings": {"vec_id": "int64",
                   "embedding": "list<element: float>",
                   "label": "int32"},
}


def pytest_sessionstart(session):
    import pyarrow.parquet as pq
    problems = []
    for table, expected in EXPECTED_PHYSICAL_SCHEMAS.items():
        path = os.path.join(SF_DIR, f"{table}.parquet")
        if not os.path.exists(path):
            problems.append(f"{table}: file missing at {path}")
            continue
        actual = {f.name: str(f.type) for f in pq.read_schema(path)}
        for col, want in expected.items():
            allowed = want if isinstance(want, tuple) else (want,)
            got = actual.get(col)
            if got is None:
                problems.append(f"{table}.{col}: column missing "
                                f"(expected {allowed[0]})")
            elif got not in allowed:
                problems.append(f"{table}.{col}: physical type drifted "
                                f"to {got} (expected one of {allowed})")
        for col in actual:
            if col not in expected:
                problems.append(f"{table}.{col}: NEW column {actual[col]} "
                                "not in pinned schema")
    if problems:
        raise pytest.UsageError(
            "testdata physical schema drift (driver regenerated "
            f"{SF_DIR}?) — update engine/conftest expectations:\n  "
            + "\n  ".join(problems))


@pytest.fixture(scope="session")
def spark():
    import tempfile
    spark = get_spark(app_name="cstore_fdw_spark-tests",
                      extra_confs={"spark.sql.warehouse.dir":
                                   tempfile.mkdtemp(prefix="spark_wh_")})
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture()
def catalog(spark, tmp_path):
    from cstore_fdw_spark.catalog import CStoreCatalog
    return CStoreCatalog(spark, warehouse=str(tmp_path / "warehouse"))
