#!/usr/bin/env python
"""Capture ``explain("formatted")`` for registry queries into plans/r<N>/.

Every bench query by default, or the ``--queries`` named. Expression
IDs (``#123``), exchange plan IDs and the names of Python functions (the
``mapInPandas`` / pandas-UDF callables) are stripped from the captured
text, so a plain
``diff`` of two captures of the same query, one per commit, is the
plan-identity check: the plans match modulo IDs and function names.

Usage::

    python scripts/capture_plans.py --round 16 --suffix before \
        [--sf-dir /root/testdata/sf0.1] [--queries name1 name2 ...]
"""

from __future__ import annotations

import argparse
import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


#: operator detail sections whose ``Arguments`` start with a Python
#: function call (``name(args)#id``)
_PYTHON_NODE = re.compile(r"^\(\d+\) \S*(Python|Pandas|Arrow)\S*")


def _python_names(text: str) -> set[str]:
    """Names of the Python functions the plan calls: each call in the
    ``Arguments`` of a Python operator whose closing paren carries an
    expression ID."""
    names: set[str] = set()
    in_python = False
    for line in text.splitlines():
        if re.match(r"^\(\d+\) ", line):
            in_python = bool(_PYTHON_NODE.match(line))
        elif in_python and line.startswith("Arguments: "):
            names.update(re.findall(r"([\w<>]+)\([^()]*\)#\d+", line))
    return names


def normalize(text: str) -> str:
    """``text`` with expression and exchange plan IDs and Python function
    names stripped."""
    for name in _python_names(text):
        text = re.sub(rf"(?<![\w<>]){re.escape(name)}\(", "<py>(", text)
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+", "#", text))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--queries", nargs="*", default=None)
    args = ap.parse_args()

    from cstore_fdw_spark.operators import clear_caches, load_all
    from cstore_fdw_spark.session import get_spark

    spark = get_spark(app_name="capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    if args.queries:
        names = args.queries
    else:
        names = [n for n, s in sorted(registry.items()) if s.bench]

    out_dir = os.path.join(REPO, "plans", f"r{args.round}")
    os.makedirs(out_dir, exist_ok=True)

    for name in names:
        spec = registry[name]
        clear_caches(spark)
        try:
            df = spec.builder(spark, args.sf_dir)
            # capture stdout of explain("formatted")
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            text = normalize(buf.getvalue())
        except Exception as exc:  # noqa: BLE001 — record, keep going
            text = f"ERROR building/explaining {name}: {exc!r}\n"
        path = os.path.join(out_dir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"wrote {path} ({len(text)} bytes)")
    clear_caches(spark)


if __name__ == "__main__":
    main()
