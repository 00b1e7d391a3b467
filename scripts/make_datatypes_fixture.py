#!/usr/bin/env python
"""Write the reference's ENTIRE data_types corpus as committed cstore
fixtures.

The reference's type regression (``input/data_types.source``) loads six
foreign tables from ``data/*.csv``; this script writes each table as a
real v1.7 binary data+footer pair under ``tests/fixtures/datatypes/``
so the repo carries committed artifacts covering every storable kind —
arrays, ±infinity datetimes, interval, enum + composite (the
HeapTupleHeader datum), ranges, and the bytea/money/inet/varbit/uuid/
json scalars. ``tests/test_cstore_datatypes_corpus.py`` pins reader
compatibility against these PAST-WRITER bytes (the same discipline as
``tests/fixtures/contestant.cstore``): a codec change that silently
reshapes the on-disk layout fails the pin instead of round-tripping.

Run from the repo root:  python scripts/make_datatypes_fixture.py
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cstore_fdw_spark.sources.cstore_format import (  # noqa: E402
    cstore_type_props, write_cstore_file)
from cstore_fdw_spark.sources.pg_text import (  # noqa: E402
    parse_pg_csv_line, parse_pg_value)

REF_DATA = "/root/reference/data"
#: the same CSVs decoded from the committed fixtures
#: (scripts/vendor_reference_data.py), read when REF_DATA is absent
VENDORED_DATA = os.path.join(REPO, "tests", "fixtures", "reference_data")
DATA_DIR = REF_DATA if os.path.isdir(REF_DATA) else VENDORED_DATA
OUT_DIR = os.path.join(REPO, "tests", "fixtures", "datatypes")

#: corpus table -> (csv file, column type names) — the foreign-table
#: DDLs of input/data_types.source expressed as codec type names
CORPUS_TABLES = {
    "array_types": ("array_types.csv",
                    ["array<integer>", "array<bigint>",
                     "array<string>"]),
    "datetime_types": ("datetime_types.csv",
                       ["timestamp", "timestamptz", "date", "time",
                        "interval"]),
    "enum_and_composite_types": ("enum_and_composite_types.csv",
                                 ["enum(a,b,c)",
                                  "composite(integer,string)"]),
    "range_types": ("range_types.csv",
                    ["int4range", "int8range", "numrange", "tsrange"]),
    "other_types": ("other_types.csv",
                    ["boolean", "bytea", "money", "inet", "varbit",
                     "uuid", "json"]),
    "null_values": ("null_values.csv",
                    ["integer", "array<integer>",
                     "composite(integer,string)"]),
}


def load_corpus_rows(csv_name: str, type_names: list[str]) -> list[tuple]:
    kinds = [cstore_type_props(t)[3] for t in type_names]
    rows = []
    with open(os.path.join(DATA_DIR, csv_name)) as fh:
        for line in fh.read().splitlines():
            fields = parse_pg_csv_line(line)
            rows.append(tuple(parse_pg_value(f, k)
                              for f, k in zip(fields, kinds)))
    return rows


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    for name, (csv_name, type_names) in CORPUS_TABLES.items():
        rows = load_corpus_rows(csv_name, type_names)
        out = os.path.join(OUT_DIR, f"{name}.cstore")
        write_cstore_file(out, rows, type_names, compression="pglz")
        print(f"wrote {len(rows)} rows -> {out} "
              f"({os.path.getsize(out)} + "
              f"{os.path.getsize(out + '.footer')} footer bytes)")


if __name__ == "__main__":
    main()
