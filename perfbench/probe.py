"""Measurement probes the benchmark wraps around the package's layers.

Everything here observes the program from outside:

- :class:`Tracer` keeps spans (name, start, end, parent, operation) in
  memory and computes self times when the run ends.
- :class:`SparkRest` reads Spark's own monitoring REST API (``/jobs``,
  ``/stages``, ``/sql``) and sums the counters of the jobs one operation
  started; the job ids come from the job group the benchmark sets around
  each layer call, read back through ``statusTracker``.
- :class:`RssSampler` samples the resident set of this process and all
  of its descendants (the JVM and its Python workers) and keeps the peak.
"""
from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a
    no-op, so untraced runs pay nothing but a function call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": sid, "name": name, "parent": parent, "op": op,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part covered by its children
        (children of one span never overlap: calls are sequential)."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child[s["id"]]
                for s in self.spans}


def _ts_ms(text: str | None) -> float | None:
    """REST timestamps look like ``2026-10-16T18:40:01.123GMT``."""
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", "+0000"),
                           "%Y-%m-%dT%H:%M:%S.%f%z")
    return dt.timestamp() * 1000.0


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3,
          "TiB": 1024 ** 4, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "ns": 1e-9}
_NUM = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float:
    """Parse a ``/sql`` node metric. Plain sums read ``1,234``; size and
    timing metrics read ``total (min, med, max ...)\\n12.3 MiB (...)``.
    Sizes come back in bytes, times in seconds."""
    lines = text.strip().splitlines()
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 \
        else lines[0]
    m = _NUM.match(line.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1)


class SparkRest:
    """Per-operation counters from Spark's monitoring REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.sc = sc

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _settled_jobs(self, ids: list[int], timeout: float = 15.0):
        """The listener bus is asynchronous: wait until the REST view has
        every job in a final state."""
        deadline = time.time() + timeout
        while True:
            jobs = [self.get(f"/jobs/{i}") for i in ids]
            if all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) \
                    or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def _stage(self, sid: int) -> list[dict]:
        try:
            return self.get(f"/stages/{sid}")
        except urllib.error.HTTPError:  # never submitted (skipped)
            return []

    def collect(self, groups: dict[str, str]) -> dict[str, dict]:
        """For each ``label -> job group``: job/stage counts, job
        intervals and summed stage counters."""
        out = {}
        for label, group in groups.items():
            ids = self.job_ids(group)
            jobs = self._settled_jobs(ids)
            rec = {"jobs": len(jobs), "job_ids": ids, "stages": 0,
                   "intervals": [], "task_run_s": 0.0, "task_cpu_s": 0.0,
                   "gc_s": 0.0, "shuffle_read_bytes": 0,
                   "shuffle_write_bytes": 0, "shuffle_fetch_wait_s": 0.0,
                   "spill_bytes": 0, "failed_tasks": 0, "input_bytes": 0,
                   "output_bytes": 0}
            seen = set()
            for j in jobs:
                t0, t1 = _ts_ms(j.get("submissionTime")), \
                    _ts_ms(j.get("completionTime"))
                if t0 is not None and t1 is not None:
                    rec["intervals"].append((t0 / 1000.0, t1 / 1000.0))
                for sid in j.get("stageIds", []):
                    if sid in seen:
                        continue
                    seen.add(sid)
                    for st in self._stage(sid):
                        if st.get("status") == "SKIPPED":
                            continue
                        rec["stages"] += 1
                        rec["task_run_s"] += st.get("executorRunTime", 0) / 1e3
                        rec["task_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                        rec["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                        rec["shuffle_read_bytes"] += st.get(
                            "shuffleReadBytes", 0)
                        rec["shuffle_write_bytes"] += st.get(
                            "shuffleWriteBytes", 0)
                        rec["shuffle_fetch_wait_s"] += st.get(
                            "shuffleFetchWaitTime", 0) / 1e3
                        rec["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                               + st.get("diskBytesSpilled", 0))
                        rec["failed_tasks"] += st.get("numFailedTasks", 0)
                        rec["input_bytes"] += st.get("inputBytes", 0)
                        rec["output_bytes"] += st.get("outputBytes", 0)
            out[label] = rec
        return out

    def sql_nodes(self, job_ids: set[int]) -> list[dict]:
        """Plan nodes (name + parsed metrics) of every SQL execution that
        ran one of ``job_ids``; execution order, root node first."""
        if not job_ids:
            return []
        lo = min(job_ids)
        nodes = []
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=100000"):
            jids = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", []))
            if not jids & job_ids or max(jids) < lo:
                continue
            for n in sorted(ex.get("nodes", []), key=lambda n: n["nodeId"]):
                nodes.append({
                    "exec": ex["id"], "name": n["nodeName"],
                    "metrics": {m["name"]: sql_metric_value(m["value"])
                                for m in n.get("metrics", [])}})
        return nodes


def union_seconds(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def tree_rss(root: int) -> dict[int, int]:
    """pid -> resident bytes of ``root`` and every live descendant."""
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if fields[0] == "Z":
            continue
        parent[int(entry)] = int(fields[1])
        rss[int(entry)] = int(fields[21]) * page
    out = {}
    for pid in rss:
        p = pid
        while p and p != root and p in parent:
            p = parent[p]
        if p == root:
            out[pid] = rss[pid]
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and every descendant."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_bytes = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes,
                                  sum(tree_rss(os.getpid()).values()))
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)
