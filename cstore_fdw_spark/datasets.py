"""The driver's TPC-H-ish test tables (TESTDATA.md): one parquet file
per table under a sf dir. Read them with ``operators.table``, which also
fixes the ``events.ts`` nanosecond column."""

from __future__ import annotations

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
