#!/usr/bin/env python
"""Generate tests/fixtures/contestant.cstore — a COMMITTED v1.7 binary
artifact mirroring the reference's own regression corpus: the rows of
``data/contestants.1.csv`` under the ``contestant`` foreign-table
layout (``input/create.source:35-38``: handle TEXT, birthdate DATE,
rating INT, percentile FLOAT, country CHAR(3), achievements TEXT[]),
compressed pglz like ``contestant_compressed``.

Two fixtures are written: ``contestant.cstore`` keeps achievements as
the raw PG array *literal* in a text column (what the CSV carries, and
what this script produced before the codec grew array support), and
``contestant_arrays.cstore`` stores it as a REAL ``array<string>``
datum via the codec's PG 1-D array layout — both layouts stay pinned.

The point of COMMITTING the binary (rather than writing it fresh in
the test): the round-trip test then proves every future revision of
the reader still decodes bytes produced by a PAST revision of the
writer — codec drift shows up as a hard test failure, the same role
the reference's expected/*.source files play.

Run from the repo root: python scripts/make_contestant_fixture.py
"""
from __future__ import annotations

import csv
import datetime
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cstore_fdw_spark.sources.cstore_format import write_cstore_file  # noqa: E402

CSV_PATH = "/root/reference/data/contestants.1.csv"
if not os.path.exists(CSV_PATH):
    # the same CSV decoded from the committed fixture
    # (scripts/vendor_reference_data.py)
    CSV_PATH = os.path.join(REPO, "tests", "fixtures", "reference_data",
                            "contestants.1.csv")
OUT = os.path.join(REPO, "tests", "fixtures", "contestant.cstore")
TYPES = ["string", "date", "integer", "double", "string", "string"]
#: second fixture: achievements as a REAL PG text[] array datum
OUT_ARR = os.path.join(REPO, "tests", "fixtures",
                       "contestant_arrays.cstore")
TYPES_ARR = ["string", "date", "integer", "double", "string",
             "array<string>"]


def _parse_pg_array(lit: str) -> list[str]:
    """'{a,b}' -> ['a','b'] via the shared PG literal parser (handles
    quoting/NULL/escapes if the corpus ever grows them)."""
    from cstore_fdw_spark.sources.pg_text import parse_pg_array

    return parse_pg_array(lit, lambda t: t)


def load_rows(path: str = CSV_PATH) -> list[tuple]:
    rows = []
    with open(path, newline="") as fh:
        for rec in csv.reader(fh):
            handle, bd, rating, pct, country, ach = rec
            rows.append((handle, datetime.date.fromisoformat(bd),
                         int(rating), float(pct), country, ach))
    return rows


def load_rows_arrays(path: str = CSV_PATH) -> list[tuple]:
    return [r[:5] + (_parse_pg_array(r[5]),) for r in load_rows(path)]


def main() -> None:
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    rows = load_rows()
    # the reference's own defaults: stripe 150k, block 10k, pglz
    write_cstore_file(OUT, rows, TYPES, compression="pglz")
    print(f"wrote {len(rows)} rows -> {OUT} "
          f"({os.path.getsize(OUT)} + "
          f"{os.path.getsize(OUT + '.footer')} footer bytes)")
    write_cstore_file(OUT_ARR, load_rows_arrays(), TYPES_ARR,
                      compression="pglz")
    print(f"wrote {len(rows)} rows -> {OUT_ARR} "
          f"({os.path.getsize(OUT_ARR)} bytes)")


if __name__ == "__main__":
    main()
