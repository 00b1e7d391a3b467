"""The benchmark's workloads.

A workload has a data scale, a per-session ``setup`` (fixtures and
warm-up), a ``pass_ops`` generator that yields one pass of timed
operations, and an untimed ``verify`` step. Code between two yields of
``pass_ops`` (cache clearing, fresh tables) runs outside the timed
operations. Each :class:`Op` returns a value its ``check`` compares with
an answer computed independently from the inputs; a check returns a list
of mismatch descriptions.

Layer calls inside an operation go through ``ctx.layer(name)``, which in
a traced run opens a span and a Spark job group of that name.
"""
from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from typing import Any

#: five TPC-H queries plus one small, planning-bound subquery. Left out
#: to fit a run into the time budget: q9_product_type_profit,
#: q21_suppliers_kept_waiting, join_inner_broadcast,
#: window_topk_per_group, events_tumbling_hourly, asof_join_last_click.
TPCH_SQL = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q18_large_volume_customer",
    "subquery_scalar_uncorrelated",
]
#: a dedup pipeline whose jobs run inside its builder (19 of 20) and
#: whose LSH buckets cross the pandas UDF boundary. Left out to fit a
#: run into the time budget: dedup_ngram_jaccard, dedup_minhash_lsh,
#: ann_lsh_bucketed, pagerank_bipartite_3iter, stats_triangle_count,
#: training_mix_pipeline, timeseries_downsample_lttb and
#: vector_ivf_pq_topk (whose trained index would add ~9 s to every
#: set-up).
CURATION = ["dedup_connected_components"]

#: columns of the write workloads' tables, all taken from lineitem
STORE_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_quantity",
              "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate"]


def _sum_term(col: str, engine: int) -> str:
    """An exact integer per value of ``col``; ``engine`` 0 = Spark,
    1 = DuckDB."""
    if col == "l_shipdate":  # micros modulo a prime: a sum overflows
        return ("unix_micros", "epoch_us")[engine] + f"({col}) % 1000000007"
    if col == "l_returnflag":
        return f"ascii({col})"
    if col in ("l_quantity", "l_extendedprice", "l_discount"):
        return f"CAST(round({col} * 100) AS BIGINT)"
    return col


def checksum_sql(cols: list[str], engine: int) -> list[str]:
    """Row count plus one exact sum per column."""
    return ["CAST(count(*) AS BIGINT) AS n"] + [
        f"CAST(sum({_sum_term(c, engine)}) AS BIGINT) AS s_{c}"
        for c in cols]


@dataclass
class Op:
    name: str
    kind: str  # "read" or "write"
    fn: Callable[[Any], Any]
    check: Callable[[Any, Any], list[str]] | None = None
    #: rows this operation commits (insert / merge), for ingest rate
    rows: int = 0
    #: which part of the workload the operation belongs to
    family: str = ""


class QueryWorkload:
    """Registry queries through the bench method: ``clear_caches``
    between operations, builder call, then a ``noop`` write.

    ``families`` maps a family name to its queries; the traced run
    reports each family's share of the layers separately."""

    #: share of the queries hash-checked against their oracle in one run;
    #: the seed picks which, so a set of seeds covers all of them
    VERIFY_SHARE = 1 / 10

    def __init__(self, name: str, scale: float,
                 families: dict[str, list[str]]):
        self.name = name
        self.scale = scale
        self.families = families
        self.queries = [q for qs in families.values() for q in qs]

    def setup(self, ctx) -> None:
        from cstore_fdw_spark.operators import clear_caches, table
        # warm the JVM and the file listing with a trivial action, as
        # bench.py does
        table(ctx.spark, ctx.data_dir, "lineitem").limit(1).count()
        clear_caches(ctx.spark)

    def pass_ops(self, ctx) -> Iterator[Op]:
        from cstore_fdw_spark.operators import clear_caches
        for family, queries in self.families.items():
            for q in queries:
                clear_caches(ctx.spark)
                yield Op(q, "read", _query_fn(ctx.registry[q], ctx.data_dir),
                         family=family)
        clear_caches(ctx.spark)

    def verify(self, ctx) -> list[dict]:
        """Hash-compare a seeded share of the queries with their DuckDB
        oracles, the way ``scripts/local_gate.py`` does."""
        import math
        import random

        from cstore_fdw_spark.operators import clear_caches
        from local_gate import result_hash
        k = math.ceil(len(self.queries) * self.VERIFY_SHARE)
        names = sorted(random.Random(ctx.args.seed).sample(self.queries, k))
        out = []
        for q in names:
            clear_caches(ctx.spark)
            rec = {"op": f"verify:{q}", "problems": []}
            try:
                sdf = ctx.registry[q].builder(ctx.spark, ctx.data_dir)
                srows = [tuple(r) for r in sdf.collect()]
                want = ctx.expected_hash(q)
                got = result_hash(sdf.columns, srows)
                if got != want:
                    rec["problems"].append(
                        f"{q}: result hash {got} != oracle {want}")
            except Exception as exc:  # noqa: BLE001 — counted as failed
                rec["problems"].append(f"{q}: {type(exc).__name__}: {exc}"
                                       [:400])
            out.append(rec)
        clear_caches(ctx.spark)
        return out


def _query_fn(spec, data_dir: str):
    def run(ctx):
        with ctx.layer("operators.build"):
            df = spec.builder(ctx.spark, data_dir)
        with ctx.layer("action"):
            df.write.format("noop").mode("overwrite").save()
    return run


class Model:
    """The expected table state, kept in DuckDB from the same input
    slices the package receives, with the same statement semantics."""

    def __init__(self, duck, table: str):
        self.duck = duck
        self.table = table

    def reset(self, like_path: str) -> None:
        self.duck.sql(f"CREATE OR REPLACE TABLE {self.table} AS SELECT * "
                      f"FROM read_parquet('{like_path}') LIMIT 0")

    def insert(self, path: str) -> None:
        self.duck.sql(f"INSERT INTO {self.table} SELECT * "
                      f"FROM read_parquet('{path}')")

    def merge(self, path: str, keys: list[str]) -> None:
        on = " AND ".join(f"s.{k} = {self.table}.{k}" for k in keys)
        self.duck.sql(f"DELETE FROM {self.table} WHERE EXISTS (SELECT 1 "
                      f"FROM read_parquet('{path}') s WHERE {on})")
        self.insert(path)

    def delete(self, predicate: str) -> None:
        self.duck.sql(f"DELETE FROM {self.table} WHERE {predicate}")

    def checksum(self, cols: list[str], where: str = "TRUE") -> tuple:
        return tuple(self.duck.sql(
            f"SELECT {', '.join(checksum_sql(cols, 1))} FROM {self.table} "
            f"WHERE {where}").fetchone())

    def groups(self, key: str, measure: str) -> list[tuple]:
        return sorted(self.duck.sql(
            f"SELECT {key}, count(*), CAST(sum({measure}) AS BIGINT) "
            f"FROM {self.table} GROUP BY {key}").fetchall())


def spark_checksum(df, cols: list[str]) -> tuple:
    return tuple(df.selectExpr(*checksum_sql(cols, 0)).collect()[0])


def stored_rows(c, table: str, select: str) -> list[tuple]:
    """``select`` over the live parquet files of a catalog table, read
    by DuckDB: an independent reader of what the catalog committed."""
    files = [f.removeprefix("file:") for f in c.cat.read(table).inputFiles()]
    return c.duck.sql(f"SELECT {select} FROM read_parquet({files!r})"
                      ).fetchall()


def between(col: str, lo: int, hi: int) -> str:
    return f"{col} >= {lo} AND {col} < {hi}"


def cstore_batches(table_dir: str, schema, bounds=()):
    """Arrow batches of a cstore catalog table, read in this process (no
    Spark) through the package's data source reader, with each
    ``(column, lo, hi)`` of ``bounds`` pushed as ``>= lo`` and ``< hi``
    filters for skip-list block skipping."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from cstore_fdw_spark.sources.cstore_datasource import CStoreReader
    reader = CStoreReader(schema, {"path": os.path.join(table_dir, "data")})
    list(reader.pushFilters(
        [f for col, lo, hi in bounds
         for f in (GreaterThanOrEqual((col,), lo), LessThan((col,), hi))]))
    for part in reader.partitions():
        yield from reader.read(part)


def _compare(label: str, got, want) -> list[str]:
    return [] if got == want else [f"{label}: got {got}, expected {want}"]


class WritesWorkload:
    """The write path and the v1.7 format, on catalog tables built from
    seeded lineitem slices in the run's work directory.

    - ``cstore_v17``: a ``storage_format='cstore'`` table. One insert (the
      pglz writer builds the skip lists), then a full ``format("cstore")``
      scan, a projected ``catalog.read(columns=...)``, a range filter at
      about 1% on the column loaded sorted, and one filter on an
      unsorted column, where no block can be skipped.
    - ``catalog_writes``: the lifecycle of a fresh parquet table: an
      insert, a MERGE upsert and a DELETE, each followed by an
      aggregate-view refresh; a projection refresh and a ``read_optimized`` read;
      compaction and vacuum; then a zone-map-pruned read.

    Every operation's output is compared with a DuckDB model of the same
    inputs as it runs, so :meth:`verify` has nothing left to do."""

    name = "table_writes"
    scale = 0.01

    def setup(self, ctx) -> None:
        from cstore_fdw_spark.catalog import CStoreCatalog
        ctx.cat = CStoreCatalog(ctx.spark,
                                warehouse=ctx.fresh_dir("warehouse"))
        ctx.spark.read.parquet(ctx.inputs["insert"][0]).limit(1).count()

    def verify(self, ctx) -> list[dict]:
        return []

    def pass_ops(self, ctx) -> Iterator[Op]:
        for family, ops in (("cstore_v17", self._cstore_ops(ctx)),
                            ("catalog_writes", self._catalog_ops(ctx))):
            for op in ops:
                op.family = family
                yield op

    def _table_check(self, model: Model, table: str, schema=None):
        """Metadata row count, plus a checksum of the stored rows summed
        by DuckDB: over the files of a parquet table, or over the rows
        the cstore reader decodes in this process when ``schema`` (of a
        cstore table) is given. Neither path runs a Spark job, so a check
        never warms what the next timed operation would start."""
        summed = ", ".join(checksum_sql(STORE_COLS, 1))

        def check(c, _result) -> list[str]:
            if schema is None:
                got = tuple(stored_rows(c, table, summed)[0])
            else:
                import pyarrow as pa
                c.duck.register("stored", pa.Table.from_batches(list(
                    cstore_batches(c.cat.table_path(table), schema))))
                got = tuple(c.duck.sql(f"SELECT {summed} FROM stored"
                                       ).fetchone())
                c.duck.unregister("stored")
            want = model.checksum(STORE_COLS)
            return (_compare(f"{table} row_count", c.cat.row_count(table),
                             want[0])
                    + _compare(f"{table} checksum", got, want))
        return check

    def _cstore_ops(self, ctx) -> Iterator[Op]:
        cat, spark, inp = ctx.cat, ctx.spark, ctx.inputs
        batch = inp["cstore_batch"]
        table = "cs"
        if cat.exists(table):
            cat.drop_table(table)
        src = spark.read.parquet(batch)
        self.cstore_schema = src.schema  # for the traced run's reader probe
        # 1000-row blocks (the smallest allowed): the skip list's
        # granularity, so the sorted range filter below can skip most
        # blocks of this small table
        cat.create_table(table, src.schema, storage_format="cstore",
                         compression="pglz", sort_by="l_orderkey",
                         block_row_count=1000)
        model = Model(ctx.duck, "exp_cs")
        model.reset(batch)
        model.insert(batch)  # the model is the state after the insert
        yield Op("cstore_insert", "write", _insert_fn(table, batch),
                 self._table_check(model, table, src.schema),
                 rows=inp["rows"][batch])

        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                        for f in src.schema.fields)

        def full_scan(c):
            with c.layer("sources.cstore.scan"):
                df = c.spark.read.format("cstore").schema(ddl).load(
                    os.path.join(c.cat.table_path(table), "data"))
            with c.layer("action"):
                return spark_checksum(df, STORE_COLS)
        yield Op("cstore_scan_full", "read", full_scan,
                 _read_check(model, STORE_COLS))

        proj = ["l_orderkey", "l_quantity"]

        def projected(c):
            with c.layer("catalog.read"):
                df = c.cat.read(table, columns=proj)
            with c.layer("action"):
                return spark_checksum(df, proj)
        yield Op("cstore_scan_projected", "read", projected,
                 _read_check(model, proj))

        for label, col, lo, hi in inp["cstore_filters"]:
            where = between(col, lo, hi)
            yield Op(f"cstore_filter_{label}", "read",
                     _filtered_read(table, where),
                     _read_check(model, STORE_COLS, where))

    def _catalog_ops(self, ctx) -> Iterator[Op]:
        from cstore_fdw_spark import aggview, projections
        cat, spark, inp = ctx.cat, ctx.spark, ctx.inputs
        table, view, proj = "cw", "cw_agg", "cw_proj"
        for t in (view, proj, table):
            if cat.exists(t):
                cat.drop_table(t)
        first = inp["insert"][0]
        cat.create_table(table, spark.read.parquet(first).schema)
        aggview.create_agg_view(cat, view, table, ["l_returnflag"],
                                ["l_quantity"])
        projections.create_projection(cat, table, proj, ["l_partkey"])
        model = Model(ctx.duck, "exp_cw")
        model.reset(first)
        table_check = self._table_check(model, table)

        def view_check(c, _result) -> list[str]:
            got = sorted(stored_rows(
                c, view, "l_returnflag, n_rows, "
                         "CAST(l_quantity_sum AS BIGINT)"))
            return _compare("agg view", got,
                            model.groups("l_returnflag", "l_quantity"))

        def refresh(c):
            with c.layer("aggview.refresh"):
                return aggview.refresh_agg_view(c.cat, view)

        for i, path in enumerate(inp["insert"]):
            model.insert(path)
            yield Op(f"insert_{i}", "write", _insert_fn(table, path),
                     table_check, rows=inp["rows"][path])
            yield Op(f"refresh_agg_insert_{i}", "write", refresh, view_check)

        merge_path = inp["merge"]
        keys = ["l_orderkey", "l_linenumber"]
        model.merge(merge_path, keys)

        def merge(c):
            with c.layer("catalog.merge_into"):
                return c.cat.merge_into(
                    table, c.spark.read.parquet(merge_path), on=keys)
        yield Op("merge_into", "write", merge, table_check,
                 rows=inp["rows"][merge_path])
        yield Op("refresh_agg_merge", "write", refresh, view_check)

        pred = inp["delete"]
        model.delete(pred)

        def delete(c):
            with c.layer("catalog.delete_where"):
                return c.cat.delete_where(table, pred)
        yield Op("delete_where", "write", delete, table_check)
        yield Op("refresh_agg_delete", "write", refresh, view_check)

        def refresh_proj(c):
            with c.layer("projections.refresh"):
                return projections.refresh_projection(c.cat, proj)

        def proj_check(c, _result) -> list[str]:
            return _compare("projection checksum", tuple(stored_rows(
                c, proj, ", ".join(checksum_sql(STORE_COLS, 1)))[0]),
                model.checksum(STORE_COLS))
        yield Op("refresh_projection", "write", refresh_proj, proj_check)

        pwhere = inp["projection_read"]

        def read_opt(c):
            with c.layer("projections.read_optimized"):
                df = projections.read_optimized(
                    c.cat, table, ["l_partkey"]).where(pwhere)
            with c.layer("action"):
                return spark_checksum(df, STORE_COLS)
        yield Op("read_optimized", "read", read_opt,
                 _read_check(model, STORE_COLS, pwhere))

        def compact(c):
            with c.layer("catalog.compact"):
                return c.cat.compact(table)
        yield Op("compact", "write", compact, table_check)

        def vacuum(c):
            with c.layer("catalog.vacuum"):
                return c.cat.vacuum(table)
        yield Op("vacuum", "write", vacuum, table_check)
        where = inp["final_read"]
        yield Op("read_final", "read", _filtered_read(table, where),
                 _read_check(model, STORE_COLS, where))


def _read_check(model: Model, cols: list[str], where: str = "TRUE"):
    def check(_ctx, result) -> list[str]:
        return _compare(f"read[{where}]", result,
                        model.checksum(cols, where))
    return check


def _filtered_read(table: str, where: str):
    def run(c):
        with c.layer("catalog.read"):
            df = c.cat.read(table).where(where)
        with c.layer("action"):
            return spark_checksum(df, STORE_COLS)
    return run


def _insert_fn(table: str, path: str):
    def run(c):
        with c.layer("catalog.insert"):
            c.cat.insert(table, c.spark.read.parquet(path))
    return run


def make_inputs(seed: int, lineitem: str, out_dir: str, duck) -> dict:
    """Seeded slices of ``lineitem`` for :class:`WritesWorkload`, written
    as parquet files; the package only ever sees these files.

    The seed picks the order-key windows of the batches, the merge
    source (an updated sample of the insert batch plus new orders), the
    deleted range, and the bounds of every filtered read."""
    import random
    rng = random.Random(seed)
    n_orders, n_part = duck.sql(
        f"SELECT max(l_orderkey) + 1, max(l_partkey) + 1 "
        f"FROM read_parquet('{lineitem}')").fetchone()
    cols = ", ".join(STORE_COLS)
    os.makedirs(out_dir, exist_ok=True)
    rows: dict[str, int] = {}

    def write(name: str, where: str, select: str = cols) -> str:
        path = os.path.join(out_dir, f"{name}.parquet")
        duck.sql(f"COPY (SELECT {select} FROM read_parquet('{lineitem}') "
                 f"WHERE {where} ORDER BY l_orderkey, l_linenumber) "
                 f"TO '{path}' (FORMAT PARQUET)")
        rows[path] = duck.sql(
            f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
        return path

    def keys(lo: int, hi: int) -> str:
        return between("l_orderkey", lo, hi)

    # cstore: one contiguous window of orders, loaded sorted
    w = n_orders // 10
    lo = rng.randrange(0, n_orders - w)
    batch = write("cstore_batch", keys(lo, lo + w))
    width = max(1, w // 100)
    a = lo + rng.randrange(0, w - width)
    filters = [("sorted_1pct", "l_orderkey", a, a + width)]
    p = rng.randrange(0, n_part - n_part // 10)
    filters.append(("unsorted_10pct", "l_partkey", p, p + n_part // 10))

    # catalog: one insert window; the merge source updates a sample of
    # it and brings a second, new window
    bw = n_orders // 16
    starts = sorted(rng.sample(range(0, n_orders - bw, bw), 2))
    s0, s1 = starts
    inserts = [write("insert_0", keys(s0, s0 + bw))]
    merge = write("merge", f"({keys(s0, s0 + bw)} AND l_orderkey % 5 = "
                           f"{rng.randrange(0, 5)}) OR {keys(s1, s1 + bw)}",
                  cols.replace("l_quantity", "l_quantity + 1 AS l_quantity"))
    a = s0 + rng.randrange(0, bw // 2)
    s = rng.choice(starts)
    b = s + rng.randrange(0, bw - bw // 10)
    final_read = keys(b, b + bw // 10)
    p = rng.randrange(0, n_part - n_part // 50)
    return {
        "cstore_batch": batch, "cstore_filters": filters,
        "insert": inserts, "merge": merge,
        "delete": keys(a, a + bw // 3), "final_read": final_read,
        "projection_read": between("l_partkey", p, p + n_part // 50),
        "rows": rows,
    }


WORKLOADS = {
    "registry_queries": lambda: QueryWorkload(
        "registry_queries", 0.01,
        {"tpch_sql": TPCH_SQL, "curation_pipelines": CURATION}),
    "table_writes": WritesWorkload,
}
