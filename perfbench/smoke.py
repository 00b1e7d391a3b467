#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001.

Run from the root of a checkout::

    python3 perfbench/smoke.py

It passes when, for every workload:

- every metric named in ``BENCHMARK.json`` is printed with its unit,
  untraced (end-to-end) and traced (per layer);
- in the traced run, every span's self time is >= 0 and each
  operation's child spans add up to its wall time within 10%;
- a deliberately wrong expected oracle hash drives ``verify.fail_ratio``
  above 0 (the query workload);

and the benchmark exits non-zero, printing no result, from a directory
that holds only ``BENCHMARK.json`` and the benchmark's own files.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

SCALE = "0.001"


def bench(root: str, workload: str, trace: int, *extra: str):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", SCALE, *extra]
    out = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                         timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n"
                             f"{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(root, ".perfbench_runs", f"{workload}-seed7-"
                           f"trace{trace}.json")) as f:
        return result, json.load(f)


def check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, \
        result.keys()
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        f"{label}: metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: unit of {m['name']}"
        assert isinstance(v["value"], (int, float)), f"{label}: {m['name']}"


def check_spans(record: dict, label: str) -> None:
    traced = [p for p in record["passes"] if p["traced"]]
    assert traced, f"{label}: no traced pass"
    for op in traced[0]["ops"]:
        for s in op["spans"]:
            assert s["self_s"] >= -1e-6, f"{label}: {op['name']} {s}"
        assert abs(op["child_cover"] - 1.0) <= 0.10, \
            f"{label}: {op['name']} child spans cover " \
            f"{op['child_cover']:.3f} of its wall time"


def check_bare_directory(root: str) -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(
            root, ".perfbench_work")) as bare:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(os.path.join(root, "perfbench"),
                        os.path.join(bare, "perfbench"))
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload",
             "registry_queries", "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=bare, capture_output=True, text=True,
            timeout=180)
        assert out.returncode != 0 and not out.stdout.strip(), \
            (out.returncode, out.stdout)


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    check_bare_directory(root)
    print("bare directory: exits non-zero without a result")
    for w in spec["workloads"]:
        name = w["name"]
        result, _ = bench(root, name, 0)
        check_metrics(result, spec["end_to_end"], f"{name} trace 0")
        assert result["correct"] and result["failed"] == 0, result
        result, record = bench(root, name, 1)
        check_metrics(result, spec["per_layer"], f"{name} trace 1")
        assert result["correct"], result
        check_spans(record, name)
        print(f"{name}: metrics, units and spans ok")
    result, _ = bench(root, spec["workloads"][0]["name"], 1,
                      "--tamper-oracle")
    ratio = result["metrics"]["verify.fail_ratio"]["value"]
    assert ratio > 0 and not result["correct"], result
    print(f"wrong oracle hash: verify.fail_ratio = {ratio:.3f}")
    print("smoke test passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
