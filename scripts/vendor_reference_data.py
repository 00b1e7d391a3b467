#!/usr/bin/env python
"""Write the reference corpus CSVs the cstore fixtures were built from
under ``tests/fixtures/reference_data/``, decoded from the COMMITTED
binaries, so the corpus tests and fixture scripts run without a
reference checkout.

- ``contestants.1.csv`` from ``tests/fixtures/contestant.cstore``
  (plain RFC 4180 CSV, read back with python's ``csv`` module).
- The six ``data_types`` corpus CSVs from
  ``tests/fixtures/datatypes/*.cstore``, as PostgreSQL COPY-CSV text
  rendered by :mod:`cstore_fdw_spark.sources.pg_text` (unquoted empty
  field = NULL, quoted empty field = the empty string).

Every written cell is parsed back with ``parse_pg_value`` and must
equal the decoded binary value, or nothing is written.

Run from the repo root:  python scripts/vendor_reference_data.py
"""
from __future__ import annotations

import csv
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from cstore_fdw_spark.sources.cstore_format import (  # noqa: E402
    cstore_type_props, read_cstore_file)
from cstore_fdw_spark.sources.pg_text import (  # noqa: E402
    parse_pg_csv_line, parse_pg_value, render_pg_value)
from scripts.make_contestant_fixture import OUT, TYPES  # noqa: E402
from scripts.make_datatypes_fixture import (  # noqa: E402
    CORPUS_TABLES, OUT_DIR, VENDORED_DATA)


def _copy_text(value, kind: str) -> str | None:
    """COPY input text of one value. The psql display form parses back
    for every corpus kind except interval, whose verbose ``@ 4 hours``
    display is not an input form; it is written as ``N mon N day
    HH:MM:SS[.ffffff]``."""
    if kind != "iv" or value is None:
        return render_pg_value(value, kind)
    sign = "-" if value.micros < 0 else ""
    secs, us = divmod(abs(value.micros), 1_000_000)
    mins, s = divmod(secs, 60)
    h, m = divmod(mins, 60)
    clock = f"{sign}{h:02d}:{m:02d}:{s:02d}" + (f".{us:06d}" if us else "")
    if value.months or value.days:
        return f"{value.months} mon {value.days} day {clock}"
    return clock


def _csv_field(text: str | None) -> str:
    if text is None:
        return ""
    if text == "" or any(c in text for c in ',"\n\r') \
            or text != text.strip():
        return '"' + text.replace('"', '""') + '"'
    return text


def _datatypes_csv(path: str, type_names: list[str]) -> str:
    kinds = [cstore_type_props(t)[3] for t in type_names]
    lines = []
    for row in read_cstore_file(path, type_names):
        line = ",".join(_csv_field(_copy_text(v, k))
                        for v, k in zip(row, kinds))
        back = tuple(parse_pg_value(f, k)
                     for f, k in zip(parse_pg_csv_line(line), kinds))
        if back != row:
            raise ValueError(f"{path}: {line!r} parses to {back!r}, "
                             f"not the stored {row!r}")
        lines.append(line)
    return "".join(line + "\n" for line in lines)


def _contestants_csv() -> str:
    rows = list(read_cstore_file(OUT, TYPES))
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for handle, bd, rating, pct, country, ach in rows:
        w.writerow([handle, bd.isoformat(), rating, repr(pct), country,
                    ach])
    text = buf.getvalue()
    from scripts.make_contestant_fixture import load_rows
    tmp = os.path.join(VENDORED_DATA, ".contestants.check.csv")
    with open(tmp, "w") as fh:
        fh.write(text)
    try:
        if load_rows(tmp) != rows:
            raise ValueError("contestants.1.csv does not parse back to "
                             "the committed fixture rows")
    finally:
        os.remove(tmp)
    return text


def main() -> None:
    os.makedirs(VENDORED_DATA, exist_ok=True)
    out = {"contestants.1.csv": _contestants_csv()}
    for name, (csv_name, type_names) in CORPUS_TABLES.items():
        out[csv_name] = _datatypes_csv(
            os.path.join(OUT_DIR, f"{name}.cstore"), type_names)
    for csv_name, text in out.items():
        path = os.path.join(VENDORED_DATA, csv_name)
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {text.count(chr(10))} rows -> {path}")


if __name__ == "__main__":
    main()
