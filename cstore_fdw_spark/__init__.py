"""cstore_fdw_spark — a PySpark-native columnar analytics engine.

A brand-new engine with the query and data-processing capabilities of
citusdata/cstore_fdw (a columnar foreign-data-wrapper for PostgreSQL),
re-expressed Spark-first:

- The reference is a columnar storage engine (stripes/blocks, min/max skip
  index, pglz compression) that delegates ALL relational operators to the
  PostgreSQL executor (reference ``cstore_fdw.c:1743-1750``).
- Here, Parquet plays the storage role (row groups ~ stripes, pages ~ blocks,
  column statistics ~ skip index, codecs ~ pglz) and Spark SQL / Catalyst
  plays PostgreSQL's executor role.

Modules
-------
- :mod:`cstore_fdw_spark.session`   — tuned SparkSession factory
- :mod:`cstore_fdw_spark.catalog`   — managed columnar table lifecycle
  (create / drop / truncate / alter, table_size, row_count, analyze)
- :mod:`cstore_fdw_spark.io`        — bulk load/export (COPY FROM/TO parity)
- :mod:`cstore_fdw_spark.datasets`  — the test-data table names
- :mod:`cstore_fdw_spark.operators` — the full query surface (scans, joins,
  aggregates, windows, set ops) + scale extensions (dedup, similarity
  search, text analysis, multimodal)
- :mod:`cstore_fdw_spark.streaming` — Structured Streaming over events
- :mod:`cstore_fdw_spark.plans`     — plan-introspection / pushdown checks
"""

from cstore_fdw_spark.session import get_spark  # noqa: F401
from cstore_fdw_spark.catalog import CStoreCatalog  # noqa: F401
from cstore_fdw_spark.operators import clear_caches  # noqa: F401

__version__ = "0.1.0"
