#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of cstore_fdw_spark.

Run from the root of a checkout::

    python3 perfbench/run.py --workload registry_queries --seed 1 \\
        --seconds 10 --trace 0

One client drives the package in a closed loop on ``local[nproc]``
(Spark's own threads are the only concurrency). A run:

1. generates its inputs under ``.perfbench_work/`` (base tables with
   ``scripts/make_scale_data.py`` at a fixed seed; the write workload's
   slices and read bounds from ``--seed``);
2. sets up three times (session start, fixtures, warm-up) and reports
   the median as ``setup_s``; set-ups after the first restart the
   SparkContext in the same JVM with empty temp directories, so every
   artifact is built again;
3. runs one cold pass, then warm passes until ``--seconds`` of passes
   have run (at least one warm pass);
4. with ``--trace 1``, runs instead of those warm passes one untraced
   warm pass, then one with spans and Spark job groups around every
   layer call, harvests Spark's REST API and probes the cstore reader
   in-process, and reports the per-layer metrics and the tracing
   overhead (traced minus the untraced pass before it);
5. checks outputs (every write and read of the write workloads against
   a DuckDB model of the same inputs; query results against their DuckDB
   oracles), writes a run record to ``.perfbench_runs/`` and prints one
   JSON line.

Metric names and units come from ``BENCHMARK.json``.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))

#: confs recorded per operation: the per-query opt-outs the registry and
#: the builders set (AQE, CBO, optimizer rule exclusions, AQE floor)
RECORDED_CONFS = [
    "spark.sql.adaptive.enabled", "spark.sql.cbo.enabled",
    "spark.sql.cbo.joinReorder.enabled", "spark.sql.optimizer.excludedRules",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
    "spark.sql.shuffle.partitions",
]
SETUPS = 3
PYTHON_NODE_METRICS = ("data sent to Python workers",
                       "data returned from Python workers")


def host_sizing() -> dict[str, str]:
    """Session size from the host, through the package's env knobs:
    every CPU this process may use, and a quarter of RAM for the Spark
    driver heap (the package default of 16g exceeds small hosts)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal"))
                     .split()[1])
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 4))
    return {"SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m"}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile that has at
    least ten samples beyond it. When that percentile would fall below
    the median (n < 21), the sample supports no tail and the maximum is
    reported instead (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11
    if n < 21:
        return xs[-1], 100.0, n
    return xs[k], 100.0 * (k + 1) / n, n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def source_digest(root: str) -> str:
    """Content hash of the package sources (the checkout may not be a
    git repository, so this stands in for the commit id)."""
    h = hashlib.sha1()
    pkg = os.path.join(root, "cstore_fdw_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(d, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


class Ctx:
    """What operations see: the session, the registry, the catalog, the
    DuckDB connection, the inputs, and the layer tracer."""

    def __init__(self, args, work: str, tracer):
        self.args = args
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.cat = None
        self.registry = None
        self.data_dir = None
        self.duck = None
        self.inputs: dict = {}
        self.op_seq = 0
        #: op seq -> {layer name: Spark job group}, traced passes only
        self.groups: dict[int, dict[str, str]] = {}
        self._dirs = 0

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{name}{self._dirs}")
        os.makedirs(path)
        return path

    @contextmanager
    def layer(self, name: str):
        if not self.tracer.enabled:
            yield
            return
        group = f"pb{self.op_seq}:{name}"
        self.groups.setdefault(self.op_seq, {})[name] = group
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def expected_hash(self, query: str) -> str:
        from local_gate import result_hash
        if self.args.tamper_oracle:
            return "0" * 32  # smoke test: a wrong expectation must fail
        res = self.duck.sql(self.registry[query].oracle)
        return result_hash(res.columns, res.fetchall())


class Run:
    def __init__(self, args, root: str, work: str):
        from probe import Tracer
        self.args = args
        self.root = root
        self.work = work
        self.ctx = Ctx(args, work, Tracer(False))
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.passes: list[dict] = []
        self.families: dict[str, dict[str, float]] = {}
        #: phase name -> perf_counter at its end, for the run record
        self.phases: dict[str, float] = {}
        self.record: dict = {}

    # ---------------------------------------------------------- inputs
    def make_inputs(self, wl) -> None:
        import duckdb
        from workloads import WritesWorkload, make_inputs
        import make_scale_data
        from cstore_fdw_spark.datasets import TABLES
        # base tables depend only on the scale: generated once per
        # checkout, published by an atomic rename
        data = os.path.join(self.root, ".perfbench_work", f"data-g{wl.scale}")
        if not os.path.isdir(data):
            part = os.path.join(self.work, "data")
            make_scale_data.generate(wl.scale, part, seed=42)
            try:
                os.rename(part, data)
            except OSError:  # another run published it first
                pass
        self.ctx.data_dir = data
        duck = duckdb.connect()
        for t in TABLES:
            duck.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"'{data}/{t}.parquet'")
        self.ctx.duck = duck
        if isinstance(wl, WritesWorkload):
            self.ctx.inputs = make_inputs(
                self.args.seed, f"{data}/lineitem.parquet",
                os.path.join(self.work, "inputs"), duck)

    # ----------------------------------------------------------- setup
    def setup(self, wl, i: int) -> None:
        from cstore_fdw_spark.session import get_spark
        ctx = self.ctx
        tmp = os.path.join(self.work, f"tmp{i}")
        os.makedirs(tmp)
        tempfile.tempdir = tmp  # fresh artifact directories
        t0 = time.perf_counter()
        if ctx.spark is not None:
            ctx.spark.stop()
        spark = get_spark(app_name="perfbench", extra_confs={
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "sparkwh"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'jtmp')}",
        })
        spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s.append(time.perf_counter() - t0)
        ctx.spark = spark
        wl.setup(ctx)
        self.setup_s.append(time.perf_counter() - t0)

    # ---------------------------------------------------------- passes
    def run_pass(self, wl, label: str, traced: bool) -> dict:
        ctx = self.ctx
        ctx.tracer.enabled = traced
        ops = []
        for op in wl.pass_ops(ctx):
            ctx.op_seq += 1
            err, result = None, None
            t0 = time.perf_counter()
            with ctx.tracer.span(op.name, op=ctx.op_seq, kind=op.kind):
                try:
                    result = op.fn(ctx)
                except Exception as exc:  # noqa: BLE001 — counted
                    err = f"{type(exc).__name__}: {exc}"[:500]
            wall = time.perf_counter() - t0
            confs = {k: ctx.spark.conf.get(k, None) for k in RECORDED_CONFS}
            problems = [err] if err else []
            t1 = time.perf_counter()
            if not err and op.check is not None:
                try:
                    problems += op.check(ctx, result)
                except Exception as exc:  # noqa: BLE001 — counted
                    problems.append(
                        f"check {type(exc).__name__}: {exc}"[:500])
            ops.append({"seq": ctx.op_seq, "name": op.name, "kind": op.kind,
                        "family": op.family,
                        "wall_s": wall, "check_s": time.perf_counter() - t1,
                        "rows": op.rows, "confs": confs,
                        "result": _jsonable(result), "problems": problems})
        ctx.tracer.enabled = False
        rec = {"label": label, "traced": traced, "ops": ops,
               "wall_s": sum(o["wall_s"] for o in ops)}
        rec.update(self.storage_facts(wl))
        self.passes.append(rec)
        return rec

    def storage_facts(self, wl) -> dict:
        """Bytes on disk and live data files of the tables a pass wrote,
        and the bytes of the input slices it was given."""
        inp = self.ctx.inputs
        if not inp:
            return {}
        if "input_bytes" not in inp:
            import pyarrow.parquet as pq
            inp["input_bytes"] = sum(
                pq.read_table(p).nbytes
                for p in [inp["cstore_batch"], *inp["insert"], inp["merge"]])
        cat = self.ctx.cat
        cs_data = os.path.join(cat.table_path("cs"), "data")
        files = (len(cat.read("cw").inputFiles())
                 + sum(f.endswith(".cstore") for f in os.listdir(cs_data)))
        return {"stored_bytes": cat.table_size("cs") + cat.table_size("cw"),
                "files_live": files, "input_bytes": inp["input_bytes"]}

    def execute(self, wl) -> dict:
        from probe import RssSampler
        args = self.args
        sampler = RssSampler()
        sampler.start()
        phases = self.phases

        def mark(name: str) -> None:
            phases[name] = time.perf_counter()

        try:
            mark("start")
            self.make_inputs(wl)
            import cstore_fdw_spark.operators as ops_mod
            self.ctx.registry = ops_mod.load_all()
            mark("inputs")
            for i in range(SETUPS):
                self.setup(wl, i)
            mark("setups")
            self.run_pass(wl, "cold", False)
            layers = {}
            if args.trace:
                # one untraced warm pass, the reference for the tracing
                # overhead, then the traced pass, both past JIT warm-up
                self.run_pass(wl, "trace_ref", False)
                mark("passes")
                traced = self.run_pass(wl, "traced", True)
                layers = self.harvest(wl, traced)
            else:
                warm = 0
                while (warm < 1 or time.perf_counter() - phases["setups"]
                       < args.seconds):
                    self.run_pass(wl, f"warm{warm}", False)
                    warm += 1
                mark("passes")
            mark("traced")
            verify = wl.verify(self.ctx)
            mark("verify")
        finally:
            sampler.stop()
        return self.summarize(wl, verify, layers, sampler.peak_bytes)

    # --------------------------------------------------------- tracing
    def harvest(self, wl, traced: dict) -> dict:
        """Per-layer numbers of the traced pass, from the spans, Spark's
        REST API and an in-process probe of the cstore reader."""
        from probe import SparkRest, union_seconds
        ctx = self.ctx
        rest = SparkRest(ctx.spark)
        spans = ctx.tracer.spans
        self_t = ctx.tracer.self_times()
        by_op: dict[int, list[dict]] = {}
        for s in spans:
            by_op.setdefault(s["op"], []).append(s)
        L: dict[str, float] = {}
        #: family -> the additive layer numbers of its operations
        fam: dict[str, dict[str, float]] = {}

        def add(k: str, v: float) -> None:
            L[k] = L.get(k, 0.0) + v
            f = fam.setdefault(op["family"], {"wall_s": 0.0})
            f[k] = f.get(k, 0.0) + v

        scanned = returned = 0.0
        for op in traced["ops"]:
            add("wall_s", op["wall_s"])
            groups = ctx.groups.get(op["seq"], {})
            per = rest.collect(groups)
            op["layers"] = {k: {x: y for x, y in v.items()
                                if x != "intervals"} for k, v in per.items()}
            children = [s for s in by_op.get(op["seq"], [])
                        if s["parent"] is not None]
            op["spans"] = [{"name": s["name"], "s": s["end"] - s["start"],
                            "self_s": self_t[s["id"]]}
                           for s in by_op.get(op["seq"], [])]
            op["child_cover"] = (sum(s["end"] - s["start"] for s in children)
                                 / op["wall_s"]) if op["wall_s"] else 0.0
            for s in children:
                add(s["name"] + ("_s" if "." in s["name"] else ".s"),
                    s["end"] - s["start"])
            for label, r in per.items():
                for k in ("task_run_s", "task_cpu_s", "gc_s",
                          "shuffle_read_bytes", "shuffle_write_bytes",
                          "shuffle_fetch_wait_s", "spill_bytes",
                          "failed_tasks"):
                    add(f"exec.{k}", r[k])
                if label == "operators.build":
                    add("operators.build_jobs", r["jobs"])
                if label == "action":
                    add("action.jobs", r["jobs"])
                    add("action.stages", r["stages"])
                    span = next(s for s in children if s["name"] == "action")
                    add("action.driver_gap_s",
                        (span["end"] - span["start"]) - union_seconds(
                            r["intervals"], span["start"], span["end"]))
                if op["kind"] == "write":
                    add("catalog.bytes_written", r["output_bytes"])
            action_ids = set(per.get("action", {}).get("job_ids", []))
            all_ids = {j for r in per.values() for j in r["job_ids"]}
            roots = set()
            for n in rest.sql_nodes(all_ids):
                m = n["metrics"]
                if n["name"].startswith("Scan parquet"):
                    add("sources.parquet.files_read",
                        m.get("number of files read", 0))
                    add("sources.parquet.bytes_read",
                        m.get("size of files read", 0))
                    add("sources.parquet.rows_out",
                        m.get("number of output rows", 0))
                    if op["kind"] == "read":
                        scanned += m.get("number of output rows", 0)
                if any(k in m for k in PYTHON_NODE_METRICS):
                    add("python.bytes_sent", m.get(PYTHON_NODE_METRICS[0], 0))
                    add("python.bytes_returned",
                        m.get(PYTHON_NODE_METRICS[1], 0))
                    add("python.rows_out", m.get("number of output rows", 0))
                if (op["kind"] == "read" and action_ids
                        and n["exec"] not in roots
                        and "number of output rows" in m):
                    roots.add(n["exec"])  # top-most row-producing node
                    returned += m["number of output rows"]
            op["sql_execs"] = len(roots)
        L.pop("wall_s")
        self.families = fam
        L["sources.parquet.rows_per_result"] = (scanned / returned
                                                if returned else 0.0)
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        L["exec.cpu_busy_ratio"] = L.get("exec.task_cpu_s", 0.0) / (
            traced["wall_s"] * cpus)
        refreshes = [o for o in traced["ops"]
                     if o["name"].startswith("refresh_agg")]
        L["aggview.incremental_ratio"] = (
            sum(1 for o in refreshes
                if (o["result"] or {}).get("mode") == "incremental")
            / len(refreshes)) if refreshes else 0.0
        L["catalog.files_live"] = traced.get("files_live", 0)
        user = traced.get("input_bytes", 0)
        L["catalog.write_amp"] = (L.get("catalog.bytes_written", 0.0) / user
                                  if user else 0.0)
        if ctx.inputs:
            L.update(self.cstore_probe(wl))
        return L

    def cstore_probe(self, wl) -> dict:
        """Direct, in-process calls into the cstore reader on the table
        the pass wrote: every stripe through ``CStoreReader.read`` (which
        calls ``read_stripe_batches``), with ``pglz_decompress`` timed by
        a wrapper; then the pass's filters pushed through the reader to
        count the rows the skip lists let through."""
        from cstore_fdw_spark.sources import cstore_format
        from workloads import cstore_batches
        ctx = self.ctx
        table_dir = ctx.cat.table_path("cs")
        spent = [0.0]
        real = cstore_format.pglz_decompress

        def timed(data, rawsize):
            t = time.perf_counter()
            try:
                return real(data, rawsize)
            finally:
                spent[0] += time.perf_counter() - t

        def rows(bounds=()) -> int:
            return sum(b.num_rows for b in cstore_batches(
                table_dir, wl.cstore_schema, bounds))

        filters = ctx.inputs["cstore_filters"]
        cstore_format.pglz_decompress = timed
        try:
            t = time.perf_counter()
            table_rows = rows()
            read_s = time.perf_counter() - t
            pglz_s = spent[0]
            surfaced = sum(rows([f[1:]]) for f in filters)
        finally:
            cstore_format.pglz_decompress = real
        data = os.path.join(table_dir, "data")
        nbytes = sum(os.path.getsize(os.path.join(data, f))
                     for f in os.listdir(data))
        return {
            "sources.cstore.read_stripe_s": read_s,
            "sources.cstore.pglz_decompress_s": pglz_s,
            "sources.cstore.decode_mb_per_s": nbytes / 1e6 / read_s,
            "sources.cstore.rows_surfaced_ratio":
                surfaced / (len(filters) * table_rows),
        }

    # ---------------------------------------------------------- output
    def summarize(self, wl, verify: list[dict], layers: dict,
                  peak_bytes: int) -> dict:
        untraced = [p for p in self.passes if not p["traced"]]
        cold, warm = untraced[0], untraced[1:]
        per_name: dict[str, list[float]] = {}
        reads, writes = [], []
        for p in warm:
            for o in p["ops"]:
                per_name.setdefault(o["name"], []).append(o["wall_s"])
                (reads if o["kind"] == "read" else writes).append(o["wall_s"])
        ops_all = [o for p in self.passes for o in p["ops"]]
        failed = sum(1 for o in ops_all if o["problems"]) + sum(
            1 for v in verify if v["problems"])
        attempted = len(ops_all) + len(verify)
        r_tail = tail(reads)
        w_tail = tail(writes) if writes else (0.0, 0.0, 0)
        m = {
            "setup_s": statistics.median(self.setup_s),
            "cold_s": cold["wall_s"],
            "pass_s": statistics.median(p["wall_s"] for p in warm),
            "query_geomean_s": geomean(
                [statistics.median(v) for v in per_name.values()]),
        }
        # per-layer numbers that need no tracing. The latency quantiles
        # rest on one pass's 10-20 operations and peak RSS on the JVM's
        # heap sizing, so both spread too much across seeds to gate on
        wr = [o for p in warm for o in p["ops"] if o["rows"]]
        layer = {
            "session.get_spark_s": statistics.median(self.get_spark_s),
            "memory.peak_rss_mb": peak_bytes / 2 ** 20,
            "read.p50_s": statistics.median(reads),
            "read.tail_s": r_tail[0],
            "write.p50_s": statistics.median(writes) if writes else 0.0,
            "write.tail_s": w_tail[0],
            "write.ingest_rows_per_s": (sum(o["rows"] for o in wr)
                                        / sum(o["wall_s"] for o in wr)
                                        if wr else 0.0),
            "write.stored_bytes_per_input_byte": statistics.median(
                p["stored_bytes"] / p["input_bytes"] for p in warm)
            if "stored_bytes" in warm[0] else 0.0,
            "verify.fail_ratio": failed / attempted,
        }
        traced = [p for p in self.passes if p["traced"]]
        if traced:
            base = warm[-1]["wall_s"]  # the "trace_ref" pass
            layer["trace.overhead_s"] = traced[0]["wall_s"] - base
            layer["trace.overhead_ratio"] = layer["trace.overhead_s"] / base
        layer.update(layers)
        self.record = {
            "workload": wl.name, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "scale": wl.scale,
            "host": {"nproc": os.cpu_count(),
                     "affinity": len(os.sched_getaffinity(0)),
                     "platform": platform.platform(),
                     "python": platform.python_version(),
                     "sizing": {k: os.environ[k] for k in host_sizing()}},
            "git_sha": git_sha(self.root),
            "source_sha1": source_digest(self.root),
            "phase_ends_s": {k: v - self.phases["start"]
                             for k, v in self.phases.items()},
            "setup_s": self.setup_s, "get_spark_s": self.get_spark_s,
            "read_tail": {"percentile": r_tail[1], "n": r_tail[2]},
            "write_tail": {"percentile": w_tail[1], "n": w_tail[2]},
            "inputs": {k: v for k, v in self.ctx.inputs.items()
                       if k != "rows"},
            "passes": self.passes, "verify": verify,
            "spans": self.ctx.tracer.spans,
            "traced_families": self.families,
            "metrics": m, "layers": layer,
            "attempted": attempted, "failed": failed,
        }
        return {"end_to_end": m, "per_layer": layer,
                "attempted": attempted, "failed": failed}


def _jsonable(x):
    try:
        json.dumps(x)
        return x
    except TypeError:
        return repr(x)[:200]


def stop_processes() -> None:
    """Stop the JVM this process launched and wait for every descendant
    (the JVM, Python workers) to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    from probe import tree_rss
    me = os.getpid()
    deadline = time.time() + 30
    while len(tree_rss(me)) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in set(tree_rss(me)) - {me}:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's data scale (smoke test)")
    ap.add_argument("--tamper-oracle", action="store_true",
                    help="expect a wrong oracle hash (smoke test)")
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "cstore_fdw_spark")):
        print("perfbench: run from a checkout root holding cstore_fdw_spark",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [root, HERE, os.path.join(root, "scripts")]
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    if args.scale is not None:
        wl.scale = args.scale

    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(host_sizing())
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    for d in ("tmp", "local", "jtmp"):
        os.makedirs(os.path.join(work, d))
    run = Run(args, root, work)
    try:
        out = run.execute(wl)
    finally:
        if run.ctx.spark is not None:
            run.ctx.spark.stop()
            stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    run.record["run_wall_s"] = time.perf_counter() - t_start
    rec_dir = os.path.join(root, ".perfbench_runs")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}"
                           f"-trace{args.trace}.json"), "w") as f:
        json.dump(run.record, f, indent=1, default=repr)

    key, section = (("per_layer", out["per_layer"]) if args.trace
                    else ("end_to_end", out["end_to_end"]))
    metrics = {}
    for m in spec[key]:
        metrics[m["name"]] = {"value": float(section.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    print(json.dumps({"correct": out["failed"] == 0,
                      "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
