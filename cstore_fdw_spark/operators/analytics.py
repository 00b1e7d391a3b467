"""Analytics extras: pivot/crosstab, exact percentiles, arg-min/max,
approximate distinct counting, table sampling.

PG-side equivalents the reference's users reach for (crosstab,
percentile_cont, distinct estimation in ANALYZE); the approximate ops are
also the 100 TB story — sketches instead of exact shuffles where the use
case tolerates it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from cstore_fdw_spark.operators import register, spread, table


@register(
    "pivot_status_by_priority",
    category="analytics",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS f_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                AS BIGINT) AS o_cnt,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                AS BIGINT) AS p_cnt
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot (crosstab): order-status counts per priority via Spark's
    native pivot with an explicit value list (explicit values keep the
    plan a single pass — no distinct-values pre-query)."""
    o = table(spark, sf_dir, "orders")
    out = (o.groupBy("o_orderpriority")
           .pivot("o_orderstatus", ["F", "O", "P"])
           .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
           .orderBy("o_orderpriority"))
    return out.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("f_cnt"),
        F.coalesce("O", F.lit(0)).alias("o_cnt"),
        F.coalesce("P", F.lit(0)).alias("p_cnt"))


@register(
    "percentile_exact",
    category="analytics",
    oracle="""
    SELECT c_mktsegment,
           CAST(QUANTILE_CONT(c_custkey, 0.5) AS DOUBLE) AS p50,
           CAST(QUANTILE_CONT(c_custkey, 0.9) AS DOUBLE) AS p90,
           CAST(QUANTILE_CONT(c_custkey, 0.99) AS DOUBLE) AS p99
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)
def percentile_exact(spark, sf_dir):
    """Exact interpolated percentiles (percentile_cont semantics) — both
    engines interpolate identically on integer inputs, so even the
    fractional results hash-match."""
    c = table(spark, sf_dir, "customer")
    return (c.groupBy("c_mktsegment")
            .agg(F.percentile("c_custkey", F.lit(0.5)).cast("double").alias("p50"),
                 F.percentile("c_custkey", F.lit(0.9)).cast("double").alias("p90"),
                 F.percentile("c_custkey", F.lit(0.99)).cast("double").alias("p99"))
            .orderBy("c_mktsegment"))


@register(
    "argminmax_by_group",
    category="analytics",
    oracle="""
    SELECT n_regionkey,
           ARG_MAX(n_name, n_nationkey) AS last_nation,
           ARG_MIN(n_name, n_nationkey) AS first_nation,
           COUNT(*) AS n
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """)
def argminmax_by_group(spark, sf_dir):
    """arg_min/arg_max (min_by/max_by) keyed on a unique column so ties
    can't make the engines disagree."""
    n = table(spark, sf_dir, "nation")
    return (n.groupBy("n_regionkey")
            .agg(F.max_by("n_name", "n_nationkey").alias("last_nation"),
                 F.min_by("n_name", "n_nationkey").alias("first_nation"),
                 F.count(F.lit(1)).alias("n"))
            .orderBy("n_regionkey"))


#: HLL relative-error acceptance band: rsd=0.02 is one standard error;
#: 5·rsd is far outside any realistic drift while still catching a broken
#: sketch. The exact count is oracle-hashed; the sketch is asserted
#: in-bounds (the bound itself is the cross-engine-checkable claim — HLL
#: register layouts differ across engines, so the raw estimate can't be).
_HLL_RSD = 0.02
_HLL_BOUND = 5 * _HLL_RSD


@register(
    "approx_distinct_sketch",
    category="analytics",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_custkey) AS exact_customers,
           TRUE AS approx_in_bounds
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """)
def approx_distinct_sketch(spark, sf_dir):
    """HyperLogLog-style approximate distinct (approx_count_distinct) next
    to the exact count — the sketch path for 100 TB cardinality questions.
    The oracle hashes the exact count plus the in-bounds flag (|approx −
    exact| ≤ 5·rsd·exact); the tighter relative-error bound is asserted in
    tests/test_analytics.py. Output: (segment, exact, in-bounds flag)."""
    c = table(spark, sf_dir, "customer")
    return (c.groupBy("c_mktsegment")
            .agg(F.countDistinct("c_custkey").alias("exact_customers"),
                 F.approx_count_distinct("c_custkey", rsd=_HLL_RSD)
                 .alias("approx"))
            .select("c_mktsegment", "exact_customers",
                    (F.abs(F.col("approx") - F.col("exact_customers"))
                     <= F.col("exact_customers") * _HLL_BOUND)
                    .alias("approx_in_bounds"))
            .orderBy("c_mktsegment"))


def _tablesample_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    return f"""
    SELECT o_orderkey, o_orderpriority FROM orders
    WHERE {duck_h60('CAST(o_orderkey AS VARCHAR)')} % 10 = 0
    """


@register(
    "tablesample_deterministic",
    category="analytics",
    oracle=_tablesample_oracle())
def tablesample_deterministic(spark, sf_dir):
    """Hash-based deterministic table sampling (ANALYZE-style row sampling
    — reference uses Vitter reservoir sampling, cstore_fdw.c:2098-2260).
    Sampling by `portable_hash(key) % 10 = 0` instead of an RNG: the same
    10% sample on every engine and every run (repeatable samples are what
    you want for training-data ablations anyway), so the row SET — not
    just its size — is oracle-verified. Output: sampled order keys."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    o = table(spark, sf_dir, "orders")
    return (o.filter(F.expr(
        f"{spark_h60('cast(o_orderkey as string)')} % 10 = 0"))
        .select("o_orderkey", "o_orderpriority"))


@register(
    "stats_corr_slope",
    category="analytics",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS sx,
             SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS sxx,
             SUM(CAST(ROUND(l_discount * 100) AS BIGINT)
                 * CAST(ROUND(l_discount * 100) AS BIGINT)) AS syy,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_discount * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_disc,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
           (CAST(sy AS DOUBLE) - CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) AS intercept
    FROM m ORDER BY l_returnflag
    """)
def stats_corr_slope(spark, sf_dir):
    """Pearson correlation + least-squares slope/intercept
    (corr/regr_slope/regr_intercept semantics) of discount-% on quantity,
    per return flag — computed from EXACT integer moments (both columns
    are integer-valued in the data; ROUND before the cast so the two
    engines' double→int conversions can't disagree on 4.999… artifacts).

    The built-in F.corr aggregates doubles, whose partition-order-dependent
    summation can't hash-match an oracle; the moments form is one exact
    integer aggregation (map-side combinable, one shuffle) followed by a
    deterministic per-group scalar formula in IEEE doubles — the identical
    expression shape on both sides. The two-pass-free moments form is also
    the 100 TB shape: no second scan, no per-group data movement beyond
    the six partial sums."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round("l_quantity").cast("bigint")
    y = F.round(F.col("l_discount") * 100).cast("bigint")
    m = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(x).alias("sx"), F.sum(y).alias("sy"),
              F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
              F.sum(x * y).alias("sxy")))
    cov_n = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    var_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    var_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    slope = cov_n / var_x
    return (m.select(
        "l_returnflag", "n",
        (cov_n / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_disc"),
        slope.alias("slope"),
        ((F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
         / F.col("n").cast("double")).alias("intercept"))
        .orderBy("l_returnflag"))


@register(
    "stats_skew_kurt_mode_median",
    category="analytics",
    oracle="""
    WITH m AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s2,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s3,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)
                 * CAST(ROUND(l_quantity) AS BIGINT)) AS s4,
             CAST(quantile_cont(CAST(ROUND(l_quantity) AS BIGINT), 0.5)
                  AS DOUBLE) AS median_qty
      FROM lineitem GROUP BY l_returnflag),
    d AS (
      SELECT l_returnflag, n, median_qty,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      FROM m),
    g AS (
      SELECT l_returnflag, n, median_qty, mu,
             r2 - mu * mu AS m2,
             r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
             r4 - 4 * mu * r3 + 6 * mu * mu * r2
                - 3 * mu * mu * mu * mu AS m4
      FROM d),
    freq AS (
      SELECT l_returnflag, CAST(ROUND(l_quantity) AS BIGINT) AS qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1, 2),
    md AS (
      SELECT l_returnflag, qty AS mode_qty
      FROM (SELECT l_returnflag, qty,
                   ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                      ORDER BY cnt DESC, qty) AS rk
            FROM freq) WHERE rk = 1)
    SELECT g.l_returnflag, g.n,
           g.m3 / (g.m2 * SQRT(g.m2)) AS skewness,
           g.m4 / (g.m2 * g.m2) - 3 AS kurtosis,
           g.median_qty, md.mode_qty
    FROM g JOIN md ON md.l_returnflag = g.l_returnflag
    ORDER BY g.l_returnflag
    """)
def stats_skew_kurt_mode_median(spark, sf_dir):
    """Higher statistical aggregates — skewness, excess kurtosis, median,
    mode — per return flag, all deterministic:

    - skew/kurtosis from EXACT integer raw moments (Σx..Σx⁴ as BIGINT —
      quantity ≤ 50 keeps Σx⁴ far inside int64), finished with the
      IDENTICAL double expression shape on both engines; ×, ÷ and sqrt
      are IEEE-exact-rounded so the results hash-match bit-for-bit
      (built-in skewness()/kurtosis() aggregate doubles in partition
      order and can never hash-match an oracle).
    - median via percentile() on ints ≡ DuckDB quantile_cont (bit-exact).
    - mode via an explicit frequency groupBy + row_number with a
      deterministic smallest-value tie-break (built-in mode() breaks
      ties arbitrarily in both engines).
    One shuffle for the moments, one for the frequencies — both
    map-side combined; the scale shape of every one-pass statistic."""
    li = table(spark, sf_dir, "lineitem")
    x = F.round("l_quantity").cast("bigint")
    m = (li.groupBy("l_returnflag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(x).alias("s1"), F.sum(x * x).alias("s2"),
              F.sum(x * x * x).alias("s3"),
              F.sum(x * x * x * x).alias("s4"),
              F.percentile(x, F.lit(0.5)).cast("double")
              .alias("median_qty")))
    nd = F.col("n").cast("double")
    mu = F.col("s1").cast("double") / nd
    r2 = F.col("s2").cast("double") / nd
    r3 = F.col("s3").cast("double") / nd
    r4 = F.col("s4").cast("double") / nd
    m2 = r2 - mu * mu
    m3 = r3 - F.lit(3) * mu * r2 + F.lit(2) * mu * mu * mu
    m4 = (r4 - F.lit(4) * mu * r3 + F.lit(6) * mu * mu * r2
          - F.lit(3) * mu * mu * mu * mu)
    g = m.select("l_returnflag", "n", "median_qty",
                 (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
                 (m4 / (m2 * m2) - F.lit(3)).alias("kurtosis"))
    w = (Window.partitionBy("l_returnflag")
         .orderBy(F.col("cnt").desc(), "qty"))
    md = (li.groupBy("l_returnflag", x.alias("qty"))
          .agg(F.count(F.lit(1)).alias("cnt"))
          .select("l_returnflag", "qty", F.row_number().over(w).alias("rk"))
          .filter(F.col("rk") == 1)
          .select("l_returnflag", F.col("qty").alias("mode_qty")))
    return (g.join(md, "l_returnflag")
            .select("l_returnflag", "n", "skewness", "kurtosis",
                    "median_qty", "mode_qty")
            .orderBy("l_returnflag"))


def _stratified_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH rates(lang, permille) AS (VALUES
      ('en', 500), ('de', 200), ('fr', 100)),
    hashed AS (
      SELECT d.doc_id, d.lang, d.source, {h} % 1000 AS bucket
      FROM documents d)
    SELECT h.doc_id, h.lang, h.source
    FROM hashed h JOIN rates r ON r.lang = h.lang
    WHERE h.bucket < r.permille
    """


@register(
    "sample_stratified_hash",
    category="analytics",
    oracle=_stratified_oracle())
def sample_stratified_hash(spark, sf_dir):
    """Stratified sampling with per-language rates (en 50%, de 20%,
    fr 10%) — the training-data mixture-reweighting primitive. The
    stratum rate is applied by portable-hash bucket (`h60(doc_id) % 1000
    < permille`), not an RNG: the sample is reproducible across engines,
    runs, and cluster topologies, subsets monotonically when a rate is
    raised (bucket < 100 ⊂ bucket < 500 — so ablation sets nest), and
    the oracle verifies the exact row SET. Spark's sampleBy() draws from
    per-partition RNG streams, which is neither stable under
    repartitioning nor cross-engine checkable. The rate table joins as a
    broadcast; the scan stays one pass, no shuffle."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    rates = F.broadcast(spark.createDataFrame(
        [("en", 500), ("de", 200), ("fr", 100)], "lang string, permille int"))
    d = table(spark, sf_dir, "documents")
    return (d.select("doc_id", "lang", "source",
                     (F.expr(spark_h60("cast(doc_id as string)")) % 1000)
                     .alias("bucket"))
            .join(rates, "lang")
            .filter(F.col("bucket") < F.col("permille"))
            .select("doc_id", "lang", "source"))


#: target mixture weights in permyriad (parts per 10,000) and the
#: overall sampling budget: keep 1/5 of the corpus, redistributed toward
#: the target language mix regardless of the corpus's natural skew
_MIXTURE_WEIGHTS = [("en", 4000), ("de", 2500), ("fr", 2000),
                    ("es", 1000), ("zh", 500)]
_MIXTURE_BUDGET_DIV = 5  # total sample budget = corpus_rows / 5


def _mixture_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(doc_id AS VARCHAR)")
    weights = ", ".join(f"('{l}', {w})" for l, w in _MIXTURE_WEIGHTS)
    return f"""
    WITH w(lang, permyriad) AS (VALUES {weights}),
    n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    t AS (SELECT COUNT(*) // {_MIXTURE_BUDGET_DIV} AS budget
          FROM documents),
    rates AS (
      SELECT n.lang,
             LEAST(1000, (t.budget * w.permyriad // 10000) * 1000
                          // n.n_lang) AS rate_permille
      FROM n JOIN w ON w.lang = n.lang CROSS JOIN t)
    SELECT d.doc_id, d.lang, r.rate_permille
    FROM documents d
    JOIN rates r ON r.lang = d.lang
    WHERE {h} % 1000 < r.rate_permille
    """


@register(
    "sample_target_mixture",
    category="analytics",
    oracle=_mixture_oracle())
def sample_target_mixture(spark, sf_dir):
    """Target-mixture sampling: per-language rates COMPUTED from corpus
    counts so the sample approaches a target domain mix (en 40 %, de
    25 %, fr 20 %, es 10 %, zh 5 % of a budget of 1/5 the corpus) — the
    mixture-reweighting step of a training-data pipeline (Pile/DoReMi
    style), one level above sample_stratified_hash's fixed rates.

    rate_d = min(1, budget·w_d / n_d) in permille via exact integer
    floor division, membership by portable-hash bucket — the sampled row
    SET (not just its size) is deterministic, engine-independent, and
    nests monotonically as weights grow. Rates over 1.0 clamp (a
    low-resource language can only contribute all its rows — the
    standard under-budget behavior; upsampling is an epochs-at-training
    decision, not a sampling one).

    Scale: one count aggregate per language (map-side combined), the
    resulting rate table is |languages| rows — broadcast by AQE — and
    the corpus scan stays one pass with no shuffle."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    w = F.broadcast(spark.createDataFrame(
        _MIXTURE_WEIGHTS, "lang string, permyriad long"))
    d = table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    t = d.agg(F.expr(
        f"count(1) div {_MIXTURE_BUDGET_DIV}").alias("budget"))
    rates = (n.join(w, "lang").join(F.broadcast(t))
             .select("lang", F.least(
                 F.lit(1000),
                 F.expr("(budget * permyriad div 10000) * 1000"
                        " div n_lang")).alias("rate_permille")))
    return (d.select("doc_id", "lang",
                     (F.expr(spark_h60("cast(doc_id as string)")) % 1000)
                     .alias("bucket"))
            .join(rates, "lang")
            .filter(F.col("bucket") < F.col("rate_permille"))
            .select("doc_id", "lang", "rate_permille"))


@register(
    "embedding_vector_stats",
    category="similarity",
    oracle="""
    SELECT vec_id, label,
           SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             AS l2_norm,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(list_position(embedding,
                              list_max(embedding)) - 1 AS INTEGER)
             AS argmax_dim,
           CAST(list_max(embedding) AS DOUBLE) AS max_val
    FROM embeddings
    """)
def embedding_vector_stats(spark, sf_dir):
    """Per-vector embedding diagnostics — L2 norm (ordered fold, bit-exact
    vs list_dot_product: gotcha #9), dimensionality, argmax dimension
    (0-based, first occurrence on ties — both engines take the first),
    and max activation. Pure per-row projection: embarrassingly parallel,
    no shuffle, the shape of any map-side vector preprocessing (norm
    clipping, outlier screening) before ANN indexing."""
    from cstore_fdw_spark.operators.similarity import dot

    e = table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id", "label",
        F.sqrt(dot(emb, emb)).alias("l2_norm"),
        F.size(emb).alias("dim"),
        (F.array_position(emb, F.array_max(emb)).cast("int") - 1)
        .alias("argmax_dim"),
        F.array_max(emb).cast("double").alias("max_val"))


@register(
    "unpivot_status_counts",
    category="analytics",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS f_cnt,
             CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                  AS BIGINT) AS o_cnt,
             CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                  AS BIGINT) AS p_cnt
      FROM orders GROUP BY o_orderpriority)
    SELECT o_orderpriority, status, cnt FROM (
      SELECT o_orderpriority, 'F' AS status, f_cnt AS cnt FROM wide
      UNION ALL
      SELECT o_orderpriority, 'O', o_cnt FROM wide
      UNION ALL
      SELECT o_orderpriority, 'P', p_cnt FROM wide)
    WHERE cnt IS NOT NULL
    """)
def unpivot_status_counts(spark, sf_dir):
    """UNPIVOT (melt): the wide crosstab from pivot_status_by_priority
    folded back to long form via Spark's native unpivot (the
    pivot/unpivot round-trip every BI layer needs). The oracle spells it
    as UNION ALL — the dialect-neutral definition of UNPIVOT. Unpivot is
    a zero-shuffle projection (each input row emits 3); only the
    up-front crosstab aggregates."""
    o = table(spark, sf_dir, "orders")
    wide = (o.groupBy("o_orderpriority")
            .pivot("o_orderstatus", ["F", "O", "P"])
            .agg(F.coalesce(F.count(F.lit(1)), F.lit(0)))
            .select("o_orderpriority",
                    F.coalesce("F", F.lit(0)).cast("long").alias("f_cnt"),
                    F.coalesce("O", F.lit(0)).cast("long").alias("o_cnt"),
                    F.coalesce("P", F.lit(0)).cast("long").alias("p_cnt")))
    return (wide.unpivot(
        "o_orderpriority", ["f_cnt", "o_cnt", "p_cnt"], "status_col", "cnt")
        .select("o_orderpriority",
                F.upper(F.substring("status_col", 1, 1)).alias("status"),
                "cnt"))


@register(
    "agg_salted_hot_key",
    category="agg",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(12,2)))
                AS DECIMAL(38,6)) AS STRING) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """)
def agg_salted_hot_key(spark, sf_dir):
    """Skew-mitigated aggregation: ``events`` has a handful of event
    types over hundreds of thousands of rows — the textbook hot-key
    aggregate. The engine runs it through
    :func:`cstore_fdw_spark.functions.salted_sum_count`: partial
    count+sum on (event_type, salt), final merge on event_type, so the
    hottest key's rows spread over 16 reducers instead of one. Result
    rows are IDENTICAL to the naive groupBy (the oracle is the naive
    SQL); the salt changes the physical distribution only. At 100 TB
    this is the manual lever for group keys whose skew outruns AQE
    (AQE splits skewed join partitions, not aggregate hash buckets);
    Spark's own partial aggregation already map-side-combines, so the
    salted form matters when the PARTIAL results themselves are
    reducer-skewed (high-cardinality payloads per key: collect_list,
    distinct counting)."""
    from cstore_fdw_spark.functions import salted_sum_count
    from cstore_fdw_spark.operators.relational import dec, to_dbl

    e = table(spark, sf_dir, "events")
    out = salted_sum_count(e, ["event_type"], dec("value"))
    return (out.select("event_type", "n",
                       to_dbl(F.col("total_value")).alias("total_value"))
            .orderBy("event_type"))


#: count-min geometry: d hash rows x w buckets (tiny on purpose so the
#: demo corpus actually collides and the overcount bound is exercised)
CMS_D, CMS_W = 4, 64
#: heavy-hitter threshold as a fraction of the token stream (1/64)
CMS_PHI_DEN = 64


def _cms_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    bucket = [duck_h60(f"({i} || ':' || token)") + f" % {CMS_W}"
              for i in range(CMS_D)]
    est_cells = ", ".join(
        f"(SELECT cnt FROM counters c WHERE c.i = {i} "
        f"AND c.bucket = {bucket[i]})" for i in range(CMS_D))
    return f"""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents),
    exact_c AS (
      SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    cells AS (
      SELECT i, {duck_h60("(i || ':' || token)")} % {CMS_W} AS bucket,
             cnt
      FROM exact_c, (VALUES (0), (1), (2), (3)) d(i)),
    counters AS (
      SELECT i, bucket, SUM(cnt) AS cnt
      FROM cells GROUP BY i, bucket),
    total AS (SELECT SUM(cnt) AS n FROM exact_c),
    est AS (
      SELECT e.token, e.cnt AS exact_count,
             LEAST({est_cells}) AS est_count
      FROM exact_c e)
    SELECT token,
           CAST(est_count AS BIGINT) AS est_count,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(est_count - exact_count AS BIGINT) AS overcount
    FROM est, total
    WHERE est_count >= n // {CMS_PHI_DEN}
    """


@register(
    "stats_countmin_heavy_hitters",
    category="analytics",
    oracle=_cms_oracle())
def stats_countmin_heavy_hitters(spark, sf_dir):
    """Count-min sketch heavy hitters over the corpus token stream
    (Cormode & Muthukrishnan '05): d=4 portable-hash rows x w=64
    counters; a token's estimate is the MIN of its d cells, never an
    undercount (each cell over-counts by its colliders); heavy hitters
    are tokens whose ESTIMATE clears phi = 1/64 of the stream — the
    sketch answers the query from d·w = 256 counters no matter the
    corpus size. Counters are sums, so sketches MERGE across partitions,
    epochs, or streams (the same mergeable-state criterion as the
    aggview family); the deliberately tiny width forces real collisions,
    and the emitted overcount column (est − exact, provably ≥ 0) makes
    the CM error bound part of the checked contract rather than a
    docstring claim.

    Scale: one token-count shuffle (the same rollup any frequency op
    pays), then ALL sketch work is bounded: counters are a 256-row
    aggregate, broadcast back for the d-cell min lookup. The exact
    count joins in only as the bound's audit column — a production
    heavy-hitter pass would drop it and never shuffle full frequencies.
    Output: (token, est_count, exact_count, overcount)."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    exact = (d.select(F.explode(F.split("text", " ")).alias("token"))
             .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    cells_arr = F.array(*[
        F.struct(F.lit(i).alias("i"),
                 (F.expr(spark_h60(f"concat('{i}:', token)"))
                  % CMS_W).alias("bucket"))
        for i in range(CMS_D)])
    cells = (exact.select("token", "cnt",
                          F.explode(cells_arr).alias("c"))
             .select("token", "cnt", "c.i", "c.bucket"))
    counters = (cells.groupBy("i", "bucket")
                .agg(F.sum("cnt").alias("bucket_cnt")))
    total = exact.agg(F.sum("cnt").alias("n"))
    est = (cells.join(F.broadcast(counters), ["i", "bucket"])
           .groupBy("token")
           .agg(F.min("bucket_cnt").alias("est_count"),
                F.first("cnt").alias("exact_count")))
    return (est.crossJoin(F.broadcast(total))
            .filter(F.col("est_count") >= F.expr(f"n DIV {CMS_PHI_DEN}"))
            .select("token",
                    F.col("est_count").cast("long").alias("est_count"),
                    F.col("exact_count").cast("long").alias("exact_count"),
                    (F.col("est_count") - F.col("exact_count"))
                    .cast("long").alias("overcount")))


@register(
    "timeseries_ohlc_resample",
    category="analytics",
    oracle="""
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             ts, event_id, value
      FROM events),
    r AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, hour_start
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM h)
    SELECT event_type, hour_start,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS volume
    FROM r GROUP BY event_type, hour_start
    """)
def timeseries_ohlc_resample(spark, sf_dir):
    """OHLC resampling (the finance/time-series downsample every metrics
    store ships): per (event_type, hour) — open = value at the earliest
    event, close at the latest (both tie-broken on the unique event_id),
    high/low/volume. ONE map-side-combinable groupBy: open/close ride
    min/max over (ts, event_id, value) structs, so there is no window
    pass and no second shuffle — at 100 TB this is a single partial-agg
    scan, strictly cheaper than the oracle's two ROW_NUMBER windows.
    Output: (event_type, hour_start, open, high, low, close, volume)."""
    e = table(spark, sf_dir, "events")
    return (e.select("event_type",
                     F.date_trunc("hour", "ts").alias("hour_start"),
                     "ts", "event_id", "value")
            .groupBy("event_type", "hour_start")
            .agg(F.min(F.struct("ts", "event_id", "value"))["value"]
                 .alias("open"),
                 F.max("value").alias("high"),
                 F.min("value").alias("low"),
                 F.max(F.struct("ts", "event_id", "value"))["value"]
                 .alias("close"),
                 F.count(F.lit(1)).alias("volume")))


@register(
    "stats_ks_two_sample",
    category="analytics",
    oracle="""
    WITH pts AS (
      SELECT value,
             COUNT(*) FILTER (WHERE event_type = 'click') AS c1,
             COUNT(*) FILTER (WHERE event_type = 'purchase') AS c2
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY value),
    tot AS (
      SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM pts),
    cum AS (
      SELECT value,
             SUM(c1) OVER (ORDER BY value) AS cum1,
             SUM(c2) OVER (ORDER BY value) AS cum2
      FROM pts)
    SELECT CAST(MAX(ABS(cum1 * tot.n2 - cum2 * tot.n1)) AS BIGINT)
             AS ks_numerator,
           CAST(tot.n1 * tot.n2 AS BIGINT) AS ks_denominator,
           CAST(MAX(ABS(cum1 * tot.n2 - cum2 * tot.n1)) AS DOUBLE)
             / (tot.n1 * tot.n2) AS ks_stat
    FROM cum, tot GROUP BY tot.n1, tot.n2
    """)
def stats_ks_two_sample(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov statistic (click vs purchase
    value distributions): D = max over pooled points of |F1 − F2|,
    computed in EXACT integer arithmetic (|cum1·n2 − cum2·n1| over the
    common denominator n1·n2 — no float CDFs, so the statistic itself
    hash-matches DuckDB bit for bit).

    Scale — the distributed prefix sum: a naive cumulative sum windows
    over an UNPARTITIONED order, which Spark executes as a
    single-partition sort of every distinct value. The CDFs instead run
    through ``functions.prefix.distributed_cumsum`` — range-partitioned
    local cumsums plus a broadcast #partitions-sized offset table; the
    driver never sees data. The KS max then folds map-side. Output:
    (ks_numerator, ks_denominator, ks_stat)."""
    from cstore_fdw_spark.functions import distributed_cumsum

    e = table(spark, sf_dir, "events")
    pts = (e.filter(F.col("event_type").isin("click", "purchase"))
           .groupBy("value")
           .agg(F.sum(F.when(F.col("event_type") == "click", 1)
                      .otherwise(0)).alias("c1"),
                F.sum(F.when(F.col("event_type") == "purchase", 1)
                      .otherwise(0)).alias("c2")))
    cum = (distributed_cumsum(pts, "value", ["c1", "c2"])
           .select("value", F.col("c1_cum").alias("cum1"),
                   F.col("c2_cum").alias("cum2")))
    tot = (pts.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2")))
    diff = F.abs(F.col("cum1") * F.col("n2")
                 - F.col("cum2") * F.col("n1"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.max(diff).cast("long").alias("ks_numerator"),
                 F.first(F.col("n1") * F.col("n2")).cast("long")
                 .alias("ks_denominator"),
                 (F.max(diff).cast("double")
                  / F.first(F.col("n1") * F.col("n2")))
                 .alias("ks_stat")))


#: HDR-histogram geometry: each power-of-two octave splits into 2^M
#: linear sub-buckets, so the bucket holding a value is at most a factor
#: (1 + 2^-M) above its lower bound — relative error <= 1/128 here while
#: the whole sketch stays under ~64·128 integer counters per group no
#: matter how many rows feed it. All-integer bucket math (bit-length +
#: shift) is what makes the sketch itself cross-engine bit-exact.
HDR_M = 7
HDR_SUB = 1 << HDR_M


def hdr_bucket_idx(value_sql: str = "FLOOR(l_extendedprice * 100)"):
    """The HDR bucket id s*2^M + (v >> s) as a Column (pure integer
    codegen) — shared by the batch query and its streaming twin, so the
    streamed sketch is bit-comparable to the batch sketch."""
    v = f"CAST({value_sql} AS BIGINT)"
    s_expr = f"GREATEST(0, LENGTH(BIN({v})) - 1 - {HDR_M})"
    return (F.expr(s_expr) * HDR_SUB
            + F.expr(f"SHIFTRIGHT({v}, CAST({s_expr} AS INT))")
            ).cast("long").alias("idx")


def _hdr_oracle() -> str:
    decode = {}
    for q in ("50", "95", "99"):
        s = f"GREATEST(0, i{q} // {HDR_SUB} - 1)"
        lo = f"((i{q} - {s} * {HDR_SUB}) << CAST({s} AS INT))"
        decode[q] = (f"CAST({lo} AS BIGINT) AS p{q}_lo, "
                     f"CAST({lo} + (1::BIGINT << CAST({s} AS INT)) - 1 "
                     f"AS BIGINT) AS p{q}_hi")
    return f"""
    WITH vals AS (
      SELECT l_returnflag AS g,
             CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS v
      FROM lineitem),
    idxed AS (
      SELECT g, CAST(s * {HDR_SUB} + (v >> CAST(s AS INT)) AS BIGINT)
               AS idx
      FROM (SELECT g, v, GREATEST(0, LENGTH(BIN(v)) - 1 - {HDR_M}) AS s
            FROM vals)),
    hist AS (
      SELECT g, idx, COUNT(*) AS cnt FROM idxed GROUP BY g, idx),
    ranked AS (
      SELECT g, idx,
             SUM(cnt) OVER (PARTITION BY g ORDER BY idx) AS cum,
             SUM(cnt) OVER (PARTITION BY g) AS n
      FROM hist),
    picked AS (
      SELECT g, MAX(n) AS n,
             MIN(CASE WHEN cum >= CEIL(0.50 * n) THEN idx END) AS i50,
             MIN(CASE WHEN cum >= CEIL(0.95 * n) THEN idx END) AS i95,
             MIN(CASE WHEN cum >= CEIL(0.99 * n) THEN idx END) AS i99
      FROM ranked GROUP BY g)
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           {decode["50"]}, {decode["95"]}, {decode["99"]}
    FROM picked ORDER BY l_returnflag
    """


def hdr_histogram(lineitem: DataFrame) -> DataFrame:
    """(g, idx, cnt) per-return-flag HDR histogram: the sketch itself,
    a per-bucket COUNT bounded by the geometry, never by rows seen —
    the query's only state, batch or stream."""
    return (lineitem.select(F.col("l_returnflag").alias("g"),
                            hdr_bucket_idx())
            .groupBy("g", "idx").agg(F.count(F.lit(1)).alias("cnt")))


def hdr_quantiles(hist: DataFrame) -> DataFrame:
    """Finisher: (g, idx, cnt) histogram -> per-group p50/p95/p99
    bucket bounds (the rank picks, over the histogram only)."""
    w = Window.partitionBy("g").orderBy("idx")
    ranked = (hist
              .withColumn("cum", F.sum("cnt").over(w))
              .withColumn("n", F.sum("cnt").over(Window.partitionBy("g"))))
    picks = [F.min(F.when(F.col("cum") >= F.expr(f"CEIL(0.{q} * n)"),
                          F.col("idx"))).alias(f"i{q}")
             for q in ("50", "95", "99")]
    picked = ranked.groupBy("g").agg(F.max("n").alias("n"), *picks)
    cols = [F.col("g").alias("l_returnflag"),
            F.col("n").cast("long").alias("n")]
    for q in ("50", "95", "99"):
        ds = f"GREATEST(0, i{q} DIV {HDR_SUB} - 1)"
        lo = f"SHIFTLEFT(i{q} - {ds} * {HDR_SUB}, CAST({ds} AS INT))"
        cols.append(F.expr(f"CAST({lo} AS BIGINT)").alias(f"p{q}_lo"))
        cols.append(F.expr(
            f"CAST({lo} + SHIFTLEFT(CAST(1 AS BIGINT),"
            f" CAST({ds} AS INT)) - 1 AS BIGINT)").alias(f"p{q}_hi"))
    return picked.select(*cols).orderBy("l_returnflag")


@register(
    "stats_hdr_quantile_sketch",
    twin=("lineitem", (hdr_histogram,), hdr_quantiles),
    category="analytics",
    oracle=_hdr_oracle())
def stats_hdr_quantile_sketch(spark, sf_dir):
    """Deterministic mergeable quantile sketch (HdrHistogram geometry —
    Tene's log-octave / linear-sub-bucket layout, same bucket family as
    DDSketch, Masson et al. VLDB '19): per-return-flag p50/p95/p99
    bucket bounds over price cents. Every value maps to bucket
    s·2^M + (v >> s) with s = max(0, bit_length(v) − 1 − M) — pure
    integer codegen (bin + shiftright), no log(), so the SKETCH ITSELF
    (not just a tolerance flag) hash-matches the DuckDB oracle bit for
    bit. The reference's ANALYZE keeps per-block min/max as its only
    distribution summary (cstore_metadata serialization); this is the
    engine-side generalization a 100 TB deployment actually needs for
    latency/size percentiles.

    Scale — the sketch IS the partial aggregate: the only corpus-wide
    shuffle is groupBy(group, bucket) with map-side combine, and the
    shuffled state is bounded by the geometry (≲ 64·2^M counters per
    group — independent of row count; counters are sums, so sketches
    merge across partitions, epochs, and streams like the count-min
    family). The rank scan (window cumsum + threshold pick) runs over
    that tiny histogram, never the corpus — contrast percentile_exact,
    whose exact path must sort real data. Quantile guarantee (exact
    value inside the reported [lo, hi], width ≤ 2^-M · lo) is asserted
    in tests/test_analytics.py. Output: (l_returnflag, n, p50_lo,
    p50_hi, p95_lo, p95_hi, p99_lo, p99_hi)."""


# ---------------------------------------------------------------- PageRank

#: fixed-point scale for PageRank mass (10^12 "mass units" = rank 1.0);
#: all updates are BIGINT //-divisions, so both engines agree bit-for-bit
PR_SCALE = 1_000_000_000_000
PR_ITERS = 3
PR_TOP = 25


def _pagerank_oracle() -> str:
    def step(prev: str, cur: str) -> str:
        return f"""
    {cur} AS (
      SELECT e.dst AS node,
             (SELECT tele FROM consts)
               + (85 * SUM(r.r // deg.d)) // 100 AS r
      FROM edges e
      JOIN {prev} r ON r.node = e.src
      JOIN deg ON deg.src = e.src
      GROUP BY e.dst)"""

    steps = ",".join(step(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))
    return f"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (
      SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
      UNION ALL
      SELECT s * 2 + 1 AS src, c * 2 AS dst FROM pairs),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    consts AS (
      SELECT CAST({PR_SCALE} AS BIGINT) // COUNT(*) AS r0,
             ((CAST({PR_SCALE} AS BIGINT) // COUNT(*)) * 15) // 100 AS tele
      FROM deg),
    r0 AS (SELECT src AS node, (SELECT r0 FROM consts) AS r FROM deg),
    {steps}
    SELECT node AS node_id,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
             AS node_type,
           node // 2 AS entity_key,
           CAST(r AS BIGINT) AS rank_fp
    FROM r{PR_ITERS}
    ORDER BY rank_fp DESC, node_id LIMIT {PR_TOP}
    """


@register(
    "pagerank_bipartite_3iter",
    category="analytics",
    bench=True,
    oracle=_pagerank_oracle())
def pagerank_bipartite_3iter(spark, sf_dir):
    """Fixed-iteration PageRank (Page et al. '99, damping 0.85) over the
    customer<->supplier trade graph — the iterative-algorithm family next
    to dedup_connected_components' min-label propagation: who are the
    most central trading entities after 3 rounds of rank flow?

    Graph: distinct (custkey, suppkey) pairs from lineitem x orders,
    materialized BOTH directions (a random walk on the bipartite graph),
    node id = key*2 (+1 for suppliers). Every node in the graph has
    outdegree >= 1 by construction, so there is no dangling-mass term.

    Determinism: rank is BIGINT fixed-point mass (PR_SCALE = 10^12 = 1.0
    of total rank); each update is
    ``tele + (85 * SUM(r // deg)) // 100`` — floor divisions and exact
    integer sums only, so partitioning/fold order cannot perturb a single
    bit and the unrolled-CTE DuckDB oracle hash-matches.

    Scale (the Pregel shape, GraphX/GraphFrames run the same loop): the
    edge list is derived once (one corpus join + distinct), partitioned
    by src and PERSISTED with its outdegree attached — each of the 3
    iterations then shuffles only the node-sized rank frame to the edge
    partitioning and map-side-combines contributions per dst; the corpus
    is never rescanned. Fixed iteration count keeps the lineage flat (no
    per-round checkpoint needed at K=3); a convergence-driven variant
    would cut lineage like dedup_connected_components does."""
    return pagerank_fixed_point(spark, sf_dir, PR_ITERS)


def pagerank_fixed_point(spark, sf_dir, iters: int,
                         cache_level=None) -> DataFrame:
    """The PageRank loop with the iteration count as a parameter — the
    registered query runs PR_ITERS; the scale sweep additionally times
    a longer run (10 iterations) against the 3-iteration one to
    separate the ONE-TIME terms (edge derivation + cache
    materialization, the bulk of the g10.0 wall clock) from the
    per-iteration cost that actually compounds in a real
    convergence-driven deployment — the amortized slope the 100 TB
    argument rests on (SCALE_MEASURED.md).

    ``cache_level`` (a ``pyspark.StorageLevel``, default: Spark's
    deserialized MEMORY_AND_DISK) sets the edge frame's storage level —
    the diagnostic knob ``scripts/pagerank_spill.py`` uses to A/B a
    serialized cache against the per-iteration spill counters when the
    cached graph approaches the executor storage fraction."""
    from cstore_fdw_spark.operators import track_cache

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (li.join(o, li.l_orderkey == o.o_orderkey)
             .select((F.col("o_custkey") * 2).alias("src"),
                     (F.col("l_suppkey") * 2 + 1).alias("dst")))
    # ONE src-partitioning serves the whole edge derivation: after
    # repartition("src"), dropDuplicates groups on (src, dst) — satisfied
    # by the src clustering, no second exchange — the degree aggregate
    # groups on src — same — and the edges-with-degree join sees both
    # sides already hash-partitioned on src (a distinct-then-repartition
    # ordering paid two extra corpus-sized shuffles here)
    edges = (pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .dropDuplicates(["src", "dst"]))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # one persisted frame carries the whole static graph: (src, dst, deg)
    gframe = edges.join(deg, "src")
    g = track_cache(gframe.persist(cache_level) if cache_level is not None
                    else gframe.persist())
    # node set and rank init FROM the cached graph, not from `deg`:
    # deg.count() was a SEPARATE action, and exchange reuse never crosses
    # job boundaries, so it re-derived the whole corpus join a second
    # time (and the ranks-init subtree a third) before the iterations
    # ever touched the cache. One distinct-src pass over g both fills
    # the cache and counts the nodes (guide §2.4: remove shuffles/passes
    # outright). Same rows: deg's src set IS the distinct src of g.
    # r16 A/B at sf0.1, min-of-5 interleaved: 2.98 s → 2.39 s.
    nodes = g.select("src").dropDuplicates(["src"])
    n_nodes = nodes.count()
    r0 = PR_SCALE // n_nodes
    tele = (r0 * 15) // 100
    ranks = nodes.select(F.col("src").alias("node"),
                         F.lit(r0).cast("long").alias("r"))
    for _ in range(iters):
        # SHUFFLE_HASH on the node-sized rank side: once ranks outgrow
        # AQE's runtime broadcast threshold (~1.6 M nodes at g10.0) the
        # default join is sort-merge, which would sort the 40×-larger
        # cached EDGE frame every iteration; the hint pins the plan that
        # still holds when nodes outgrow any broadcast — edges stream
        # from their cached src-partitioning unsorted, only ranks
        # hashes (per-partition node-sized build). g10-profiled: the
        # iterations are ~12 s of the 67 s query either way (the cache
        # materialization of the 120 M-row edge frame dominates, and is
        # itself linear in edges — see SCALE_MEASURED r14 third decade);
        # the hint is plan insurance for the regime past broadcast, not
        # a measured win at this size.
        ranks = (g.join(ranks.hint("SHUFFLE_HASH"), g.src == ranks.node)
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum(F.expr("r div d")).alias("s"))
                 .select("node",
                         (F.lit(tele).cast("long")
                          + F.expr("(85 * s) div 100")).alias("r")))
    return (ranks
            .select(F.col("node").alias("node_id"),
                    F.when(F.col("node") % 2 == 0, F.lit("customer"))
                    .otherwise(F.lit("supplier")).alias("node_type"),
                    F.expr("node div 2").alias("entity_key"),
                    F.col("r").cast("long").alias("rank_fp"))
            .orderBy(F.col("rank_fp").desc(), "node_id").limit(PR_TOP))


# ------------------------------------------------- weighted PPS sampling

#: weighted-sample size: large enough that the acceptance statistics in
#: tests are stable, small enough that the top-k never becomes a sort
SPS_K = 200


def _sps_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    u = duck_h60("CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    ORDER BY CAST({u} + 1 AS DOUBLE)
               / len(string_split(text, ' ')),
             doc_id
    LIMIT {SPS_K}
    """


@register(
    "sample_weighted_reservoir",
    category="analytics",
    oracle=_sps_oracle())
def sample_weighted_reservoir(spark, sf_dir):
    """Weighted (probability-proportional-to-size) document sampling via
    sequential Poisson sampling (Ohlsson '98, the order-sampling family
    that also contains Efraimidis-Spirakis A-ES reservoir sampling):
    every document gets priority u/w with u uniform and w its token
    count, and the sample is the k SMALLEST priorities — longer documents
    are proportionally more likely to be drawn, the standard size-biased
    draw for training-mix construction.

    Determinism (the whole reason this variant): u = portable_h60(doc_id)
    + 1 — a 60-bit integer, never 0 — and w is an exact BIGINT token
    count, so the priority is ONE IEEE-754 double division that both
    engines round identically; ORDER BY (priority, doc_id) is then
    bit-stable and the selected row SET oracle-hashes (a log()-based
    exponential-key A-ES would be libm-dependent). Same
    repeatable-sample discipline as tablesample_deterministic, which the
    reference grounds in its Vitter reservoir ANALYZE sampling
    (cstore_fdw.c:2098-2260) — extended from uniform to weighted.

    Scale: ORDER BY + LIMIT k plans as TakeOrderedAndProject — each task
    keeps a k-row heap and the driver merges 32 k-row slivers; the corpus
    is scanned once, NOTHING shuffles. At 100 TB this is the only shape
    of weighted sampling that works: no per-row RNG state, no global
    sort, no reservoir synchronization."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    u = spark_h60("cast(doc_id as string)")
    w = "size(split(text, ' '))"
    return (d.select("doc_id",
                     F.expr(w).cast("long").alias("n_tokens"),
                     F.expr(f"cast({u} + 1 as double) / {w}")
                     .alias("_prio"))
            .orderBy("_prio", "doc_id")
            .limit(SPS_K)
            .select("doc_id", "n_tokens"))


# ------------------------------------------------- market-basket mining

#: association-mining output cap and min co-occurrence support
MB_TOP = 50
MB_MIN_PAIRS = 2


@register(
    "market_basket_lift",
    category="analytics",
    oracle=f"""
    WITH op AS (
      SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM op),
    item AS (SELECT pk, COUNT(*) AS n1 FROM op GROUP BY pk),
    pair AS (
      SELECT a.pk AS part1, b.pk AS part2, COUNT(*) AS n_pairs
      FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING COUNT(*) >= {MB_MIN_PAIRS})
    SELECT part1, part2, n_pairs,
           (n_pairs * (SELECT n_orders FROM n) * 1000)
             // (i1.n1 * i2.n1) AS lift_permille
    FROM pair
    JOIN item i1 ON i1.pk = part1
    JOIN item i2 ON i2.pk = part2
    ORDER BY n_pairs DESC, lift_permille DESC, part1, part2
    LIMIT {MB_TOP}
    """)
def market_basket_lift(spark, sf_dir):
    """Market-basket association mining (the Apriori/FP-growth support +
    lift statistics, restricted to pairs — Agrawal & Srikant '94): which
    parts co-occur in the same order more than their popularities
    predict? lift = P(a,b) / (P(a)·P(b)), emitted as exact integer
    permille (n12·N·1000 // (n1·n2)) so both engines agree bit-for-bit —
    no floating ratio in the output.

    Scale: the classic all-pairs trap is avoided structurally — the
    self-join is WITHIN an order only, and a basket holds a handful of
    items (<= 11 in the fixture, bounded-constant in any order-line
    schema), so the explode factor is a small constant, like the PPJoin
    prefix bound in dedup_token_jaccard.
    ONE repartition by orderkey serves the basket distinct AND both
    sides of the self-join exchange-free; pair counting then shuffles
    pair-sized data, and the per-item counts join back WITHOUT a forced
    broadcast — they scale with |part|, unbounded in the 100 TB
    contract, so AQE decides at runtime from the real post-agg size
    (the same discipline as text_pmi_collocations' vocabulary joins).
    Overflow guard: n12·N·1000 needs N·N·1000 < 2^63
    only for the single most frequent pair — at 10^9 baskets switch the
    permille to DECIMAL(38) arithmetic."""
    li = table(spark, sf_dir, "lineitem")
    op = (li.select(F.col("l_orderkey").alias("ok"),
                    F.col("l_partkey").alias("pk"))
          .repartition("ok")
          .dropDuplicates(["ok", "pk"]))
    n_orders = op.select(F.countDistinct("ok").alias("n_orders"))
    item = op.groupBy("pk").agg(F.count(F.lit(1)).alias("n1"))
    a, b = op.alias("a"), op.alias("b")
    pair = (a.join(b, (F.col("a.ok") == F.col("b.ok"))
                   & (F.col("a.pk") < F.col("b.pk")))
            .groupBy(F.col("a.pk").alias("part1"),
                     F.col("b.pk").alias("part2"))
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .filter(F.col("n_pairs") >= MB_MIN_PAIRS))
    i1 = item.select(F.col("pk").alias("part1"), F.col("n1").alias("c1"))
    i2 = item.select(F.col("pk").alias("part2"), F.col("n1").alias("c2"))
    return (pair
            .join(i1, "part1")
            .join(i2, "part2")
            .crossJoin(F.broadcast(n_orders))
            .select("part1", "part2", "n_pairs",
                    F.expr("(n_pairs * n_orders * 1000) div (c1 * c2)")
                    .alias("lift_permille"))
            .orderBy(F.col("n_pairs").desc(),
                     F.col("lift_permille").desc(), "part1", "part2")
            .limit(MB_TOP))


@register(
    "stats_gini_concentration",
    category="analytics",
    oracle="""
    WITH spend AS (
      SELECT c.c_custkey AS ck, n.n_regionkey AS rk,
             SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2),
    ranked AS (
      SELECT rk, cents,
             ROW_NUMBER() OVER (PARTITION BY rk
                                ORDER BY cents, ck) AS i,
             COUNT(*) OVER (PARTITION BY rk) AS n,
             SUM(cents) OVER (PARTITION BY rk) AS tot
      FROM spend)
    SELECT CAST(rk AS BIGINT) AS regionkey,
           CAST(MAX(n) AS BIGINT) AS n_customers,
           CAST(MAX(tot) AS BIGINT) AS total_cents,
           CAST((2 * SUM(i * cents) - (MAX(n) + 1) * MAX(tot)) * 1000
                // (MAX(n) * MAX(tot)) AS BIGINT) AS gini_permille
    FROM ranked GROUP BY rk ORDER BY regionkey
    """)
def stats_gini_concentration(spark, sf_dir):
    """Gini concentration of customer spend per region — the classic
    inequality coefficient via the rank formulation of the Lorenz
    integral: G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over customers
    ranked ascending by spend. Everything is exact int64 — spend in
    cents, ranks from a deterministic (cents, custkey) order (tied
    values make Σ i·x permutation-invariant within the tie block, so
    the tie-break is belt-and-braces), and the final ratio an integer
    permille — so the DuckDB oracle hash-matches bit for bit.

    Scale: one orders→customer rollup shuffle (map-side combined),
    a broadcast-sized nation join, then ONE per-region window pass
    for rank/count/total and a region-keyed final aggregate — no
    per-pair work (the naive mean-absolute-difference Gini is O(n²);
    the rank form is O(n log n) sort the window already pays).
    Monotone sanity: a region where every customer spends equally
    gives 0; all-spend-on-one-customer approaches 1000 permille."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    spend = (o.join(c, o["o_custkey"] == c["c_custkey"])
             .join(F.broadcast(n),
                   c["c_nationkey"] == n["n_nationkey"])
             .select(F.col("c_custkey").alias("ck"),
                     F.col("n_regionkey").alias("rk"),
                     F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
                     .alias("ocents"))
             .groupBy("ck", "rk")
             .agg(F.sum("ocents").alias("cents")))
    word = Window.partitionBy("rk").orderBy("cents", "ck")
    wall = Window.partitionBy("rk")
    ranked = (spend
              .withColumn("i", F.row_number().over(word))
              .withColumn("n", F.count(F.lit(1)).over(wall))
              .withColumn("tot", F.sum("cents").over(wall)))
    return (ranked.groupBy("rk")
            .agg(F.max("n").alias("n"), F.max("tot").alias("tot"),
                 F.sum(F.col("i") * F.col("cents")).alias("ix"))
            .select(F.col("rk").cast("long").alias("regionkey"),
                    F.col("n").cast("long").alias("n_customers"),
                    F.col("tot").cast("long").alias("total_cents"),
                    F.expr("(2 * ix - (n + 1) * tot) * 1000"
                           " DIV (n * tot)").cast("long")
                    .alias("gini_permille"))
            .orderBy("regionkey"))


def _class_balance_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH target AS (
      SELECT MIN(n) AS k FROM (
        SELECT COUNT(*) AS n FROM embeddings GROUP BY label)),
    ranked AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY {h}, vec_id) AS rk
      FROM embeddings)
    SELECT r.vec_id, CAST(r.label AS INT) AS label
    FROM ranked r CROSS JOIN target t WHERE r.rk <= t.k
    """


@register(
    "sample_class_balance",
    category="analytics",
    allow_bnlj=True,  # the min-class-size k is a 1-row aggregate
    #                   anchor: rk <= k against a broadcast single row
    #                   plans a nested loop over exactly one row
    oracle=_class_balance_oracle())
def sample_class_balance(spark, sf_dir):
    """Class-balanced downsampling over the labeled embedding corpus:
    every label is cut to the SMALLEST class's size, the classic
    rebalance before training a classifier head (or rebalancing domain
    mixes) — majority classes can't drown minority gradients. Selection
    ranks within each label by portable hash of vec_id (the
    sample_stratified_hash discipline): reproducible across engines,
    runs, and topologies — never an RNG — and re-running after the
    corpus grows keeps previously chosen rows selected with high
    probability (rank by a fixed hash moves only at the boundary).

    Scale: the min class size is a tiny two-level aggregate (broadcast
    as a 1-row anchor); selection is exact top-k-per-group — expressed
    as ONE rank window (per-label shuffle). At 100 TB with huge
    classes, swap the full sort for the two-phase threshold trick
    (per-partition top-k, union, re-rank) without changing this
    contract; |labels| here is 10, so the window is the right plan."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    e = table(spark, sf_dir, "embeddings")
    k = (e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
         .agg(F.min("n").alias("k")))
    w = Window.partitionBy("label").orderBy(
        F.expr(spark_h60("cast(vec_id as string)")), "vec_id")
    return (e.select("vec_id", "label")
            .withColumn("rk", F.row_number().over(w))
            .join(F.broadcast(k), F.col("rk") <= F.col("k"))
            .select("vec_id", F.col("label").cast("int").alias("label")))


#: recurring co-purchase graph: part pairs sharing >= this many orders
_TRIANGLE_SUPPORT = 2


@register(
    "stats_triangle_count",
    category="analytics",
    bench=True,  # graph-analytics family representative in the headline set
    allow_bnlj=True,  # the final 1-row summary cross-join (nodes+edges
    #                   aggregate x wedges+triangles aggregate) — each
    #                   side is a single aggregate row
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_TRIANGLE_SUPPORT}),
    -- AS MATERIALIZED throughout: DuckDB inlines CTEs by default, and
    -- with pairs/ori referenced from multiple arms the inlined plan
    -- re-derives the corpus self-join inside a join order that spilled
    -- >78 GB at g3.0 (18M lineitem) despite every individual stage
    -- being tiny (3,727 edges). Materialized, the whole oracle runs in
    -- ~8 s at that scale; result identical (execution hint only).
    und AS MATERIALIZED (
      SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs),
    deg AS MATERIALIZED (
      SELECT u AS node, COUNT(*) AS d FROM und GROUP BY 1),
    ori AS MATERIALIZED (
      SELECT CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.u ELSE p.v END AS s,
             CASE WHEN (da.d, p.u) < (db.d, p.v) THEN p.v ELSE p.u END AS t,
             CASE WHEN (da.d, p.u) < (db.d, p.v) THEN db.d ELSE da.d END AS dt
      FROM pairs p JOIN deg da ON da.node = p.u
                   JOIN deg db ON db.node = p.v),
    -- wedge endpoints MUST be ordered by the same (degree, node) total
    -- order that oriented the edges: with id order (e1.t < e2.t) a
    -- closing edge whose endpoints' degree order opposes their id order
    -- is stored flipped in ori and the (b,c)=(s,t) join misses the
    -- triangle (ADVICE r16; fuzz: 830/2000 random graphs undercounted)
    wedge AS MATERIALIZED (
      SELECT e1.t AS b, e2.t AS c
      FROM ori e1 JOIN ori e2
        ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)),
    tri AS MATERIALIZED (
      SELECT COUNT(*) AS n_triangles FROM wedge
      JOIN ori e3 ON e3.s = wedge.b AND e3.t = wedge.c),
    wn AS (SELECT COUNT(*) AS n_wedges FROM wedge)
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT COUNT(*) FROM pairs) AS n_edges,
           wn.n_wedges, tri.n_triangles,
           CASE WHEN wn.n_wedges > 0
                THEN tri.n_triangles * 1000 // wn.n_wedges
                ELSE 0 END AS closure_permille
    FROM tri CROSS JOIN wn
    """)
def stats_triangle_count(spark, sf_dir):
    """Exact triangle counting on the recurring co-purchase graph
    (parts sharing ≥ {support} orders), via degree-ordered wedge
    counting — the Cohen / Schank-Wagner "node-iterator++" orientation:
    every undirected edge points low→high in the (degree, node) total
    order, so each triangle is counted EXACTLY once and the wedge
    fan-out per node is bounded by its ORIENTED out-degree ≤ O(√E)
    instead of its raw degree — the difference between a celebrity
    node generating deg² wedges and the theoretical-optimal E^1.5
    bound. Also emits the global closure rate (triangles per wedge,
    exact permille) — the graph-health number this statistic feeds.

    Scale: the edge list is one self-join of lineitem grouped per
    order (orders partition naturally; the support filter prunes the
    random-co-occurrence tail early), degrees one aggregate, and both
    triangle joins are equi-joins on node keys — every stage
    shuffle-partitioned by graph keys, no broadcast of anything
    corpus-sized, the 1-row summary folds last.

    Reference scope note: graph analytics is beyond cstore_fdw's own
    surface (extension family, like pagerank_bipartite_3iter)."""
    # spread BEFORE the self-join: the two-column lineitem scan is a
    # handful of row-group splits (3 at sf0.1), so the join+pair-count
    # map stage — the query's critical path, measured 1.1 s of its 3 s
    # wall — otherwise runs 3-wide on a 32-core host (guide §2: widen
    # the stage feeding the shuffle). spread() is conditional on
    # partitions < cores, so at 100 TB it's a no-op (r16 A/B: min-of-4
    # interleaved 2.94 s → 2.50 s; persisting `pairs` instead measured
    # SLOWER — the eager count() serializes branches AQE otherwise
    # overlaps, and AQE stage reuse already dedupes the repeated
    # pair-aggregate subtree at runtime).
    li = spread(
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    a, b = li.alias("a"), li.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("u"),
                      F.col("b.l_partkey").alias("v"))
             .agg(F.count(F.lit(1)).alias("w"))
             .filter(F.col("w") >= _TRIANGLE_SUPPORT)
             .select("u", "v"))
    und = pairs.unionByName(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = und.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    lo = F.struct("du", "u") < F.struct("dv", "v")
    # ori carries the head's degree (dt): the wedge endpoints below must
    # be compared in the SAME (degree, node) total order that oriented
    # the edges — ordering them by node id alone flips the closing edge
    # relative to ori whenever the two heads' degree order opposes their
    # id order, and the (b,c)=(s,t) closure join silently misses that
    # triangle (ADVICE r16; fixed here and in the oracle identically)
    ori = (pairs.join(da, "u").join(db, "v")
           .select(F.when(lo, F.col("u")).otherwise(F.col("v")).alias("s"),
                   F.when(lo, F.col("v")).otherwise(F.col("u")).alias("t"),
                   F.when(lo, F.col("dv")).otherwise(F.col("du"))
                   .alias("dt")))
    e1, e2 = ori.alias("e1"), ori.alias("e2")
    # (dt, t) lexicographic order as FLAT scalar comparisons, not
    # struct(...) < struct(...): the join condition runs in the
    # same-s-group inner loop, where a struct form allocates two
    # InternalRows per evaluated pair (the r13 PPJoin lesson,
    # dedup.py's shorter_first comment)
    head_lt = ((F.col("e1.dt") < F.col("e2.dt"))
               | ((F.col("e1.dt") == F.col("e2.dt"))
                  & (F.col("e1.t") < F.col("e2.t"))))
    wedge = (e1.join(e2, (F.col("e1.s") == F.col("e2.s")) & head_lt)
             .select(F.col("e1.t").alias("b"), F.col("e2.t").alias("c")))
    # ONE aggregate for wedges AND triangles: `ori` is a set (pairs are
    # distinct, orientation is a bijection), so the left join matches
    # each wedge at most once — count(*) is the wedge count and
    # count(hit) the closed ones. The former tri = wedge.join(e3).agg
    # + separate wedge.agg derived the wedge subtree (the plan's
    # largest: 2x the full pairs->deg->ori chain) TWICE; likewise
    # n_edges = sum(d) div 2 falls out of deg's own aggregate (und has
    # exactly 2|pairs| distinct rows by construction), dropping the
    # separate pairs.agg branch. 4 cross-joined summary branches -> 2;
    # static plan 115 -> 70 shuffle exchanges (runtime exchange reuse
    # already deduped execution, but the driver re-planned/codegen'd
    # every copy per run): r16 A/B min-of-5 interleaved 2.95 -> 2.53 s,
    # rows and schema identical.
    e3 = ori.select(F.col("s").alias("b"), F.col("t").alias("c"),
                    F.lit(1).alias("hit"))
    wt = (wedge.join(e3, ["b", "c"], "left")
          .agg(F.count(F.lit(1)).alias("n_wedges"),
               F.count("hit").alias("n_triangles")))
    # coalesce: sum(d) is NULL (not 0) on an empty graph, diverging from
    # the oracle's COUNT(*) and the pre-merge pairs-count semantics
    summary = (deg.agg(F.count(F.lit(1)).alias("n_nodes"),
                       F.expr("coalesce(sum(d) div 2, 0)").alias("n_edges"))
               .crossJoin(wt))
    return summary.select(
        "n_nodes", F.col("n_edges").cast("long").alias("n_edges"),
        "n_wedges", "n_triangles",
        F.when(F.col("n_wedges") > 0,
               F.expr("n_triangles * 1000 DIV n_wedges"))
        .otherwise(F.lit(0)).cast("long").alias("closure_permille"))


def _train_test_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(vec_id AS VARCHAR)")
    return f"""
    WITH ranked AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY {h}, vec_id) AS rk,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM embeddings)
    SELECT vec_id, CAST(label AS INT) AS label,
           CASE WHEN rk <= (n * 8) // 10 THEN 'train' ELSE 'test' END
             AS split
    FROM ranked
    """


@register(
    "sample_train_test_split",
    category="analytics",
    oracle=_train_test_oracle())
def sample_train_test_split(spark, sf_dir):
    """Stratified 80/20 train/test split with EXACT per-label counts:
    within each label, rows rank by portable hash (reproducible, no
    RNG — the sample_stratified_hash discipline) and the first
    floor(0.8·n) go to train. Rank-based splitting guarantees the
    per-class proportions exactly (hash-threshold splits only hit them
    in expectation — a small class can land 70/30 by chance, which is
    precisely what stratification is meant to prevent).

    Scale: one rank window per label (the same top-k-per-group shape
    as sample_class_balance; two-phase select-k drops in for huge
    classes); the split column is a pure expression over (rank, n)."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    e = table(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.expr(spark_h60("cast(vec_id as string)")), "vec_id")
    wall = Window.partitionBy("label")
    return (e.select("vec_id", "label")
            .withColumn("rk", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wall))
            .select("vec_id", F.col("label").cast("int").alias("label"),
                    F.when(F.col("rk") <= F.expr("(n * 8) DIV 10"),
                           "train").otherwise("test").alias("split")))


def _grouped_holdout_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("source")
    return f"""
    SELECT doc_id, source,
           CASE WHEN {h} % 10 < 8 THEN 'train' ELSE 'holdout' END
             AS split
    FROM documents
    """


@register(
    "sample_grouped_holdout",
    category="analytics",
    oracle=_grouped_holdout_oracle())
def sample_grouped_holdout(spark, sf_dir):
    """GROUP-level holdout: every document from the same source lands
    on the same side of the split (hash the GROUP key, not the row
    key) — the leakage-safe evaluation split for correlated data. A
    row-level split puts near-identical documents from one crawl
    domain on both sides and the eval leaks; scikit-learn's
    GroupShuffleSplit exists for exactly this reason, and a training
    corpus's unit of correlation is the source/domain.

    Scale: ZERO shuffles — the split is a pure projection (hash of a
    row column against a literal), so it composes map-side into any
    downstream pipeline; group membership is consistent across
    executors, epochs, and engines because the hash is the portable
    md5 scheme, never an RNG."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", "source",
        F.when(F.expr(spark_h60("source")) % 10 < 8, "train")
        .otherwise("holdout").alias("split"))


@register(
    "stats_iqr_outliers",
    category="analytics",
    oracle="""
    WITH cents AS (
      SELECT event_type AS g,
             CAST(ROUND(value * 100) AS BIGINT) AS c,
             event_id
      FROM events),
    ranked AS (
      SELECT g, c, event_id,
             ROW_NUMBER() OVER (PARTITION BY g
                                ORDER BY c, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY g) AS n
      FROM cents),
    q AS (
      SELECT g,
             MAX(CASE WHEN rk = (n + 3) // 4 THEN c END) AS q1,
             MAX(CASE WHEN rk = (3 * n + 1) // 4 THEN c END) AS q3
      FROM ranked GROUP BY g)
    SELECT r.g AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_outliers,
           CAST(MIN(r.c) AS BIGINT) AS min_outlier_cents,
           CAST(MAX(r.c) AS BIGINT) AS max_outlier_cents
    FROM ranked r JOIN q ON q.g = r.g
    WHERE 2 * r.c < 2 * q.q1 - 3 * (q.q3 - q.q1)
       OR 2 * r.c > 2 * q.q3 + 3 * (q.q3 - q.q1)
    GROUP BY r.g ORDER BY r.g
    """)
def stats_iqr_outliers(spark, sf_dir):
    """Tukey-fence outlier detection over event values per type — the
    data-cleaning primitive every quality pipeline runs before fitting
    anything: values outside [q1 - 1.5*IQR, q3 + 1.5*IQR] of their
    group (the exponential-tailed value column genuinely produces
    them; uniform columns never can — their fences exceed the range).
    Quartiles are EXACT rank statistics (rank (n+3) div 4 and
    (3n+1) div 4 of the (cents, event_id)-ordered group — a
    deterministic discrete-quantile convention both engines step
    identically), and the 1.5*IQR fences are cross-multiplied by 2 so
    no fractional value ever materializes (2c < 2q1 - 3(q3 - q1)).

    Scale: one rank window per group plus a broadcast-sized quartile
    table joined back — two passes over the corpus, both partitioned
    by the group key; the distributed-percentile machinery
    (percentile_exact, distributed_cumsum) swaps in when groups stop
    fitting a partition."""
    e = table(spark, sf_dir, "events")
    cents = e.select(
        F.col("event_type").alias("g"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("c"),
        "event_id")
    w = Window.partitionBy("g").orderBy("c", "event_id")
    wall = Window.partitionBy("g")
    ranked = (cents.withColumn("rk", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(wall)))
    q = (ranked.groupBy("g")
         .agg(F.max(F.when(F.col("rk") == F.expr("(n + 3) DIV 4"),
                           F.col("c"))).alias("q1"),
              F.max(F.when(F.col("rk") == F.expr("(3 * n + 1) DIV 4"),
                           F.col("c"))).alias("q3")))
    j = ranked.join(F.broadcast(q), "g")
    out = j.filter(
        (2 * F.col("c") < 2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1")))
        | (2 * F.col("c") > 2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))))
    return (out.groupBy(F.col("g").alias("event_type"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_outliers"),
                 F.min("c").cast("long").alias("min_outlier_cents"),
                 F.max("c").cast("long").alias("max_outlier_cents"))
            .orderBy("event_type"))


# ------------------------------------------------ HyperLogLog (portable)

#: HLL geometry: p=10 -> m=1024 registers, 22 rank bits, registers
#: scaled by 2^24 so the harmonic sum is exact int64, alpha_1024 in
#: Q16 fixed point (0.7213/(1+1.079/1024) ~= 47226/65536).
HLL_M = 1024
HLL_RANK_BITS = 22
HLL_SCALE = 1 << 24
HLL_ALPHA_Q16 = 47226
#: 47226 * 2^20 (m^2) * 2^24 (scale) / 2^16 (Q16) = 47226 * 2^28
HLL_EST_NUM = HLL_ALPHA_Q16 * (1 << 28)
#: small-range threshold: the paper switches to linear counting when
#: the raw estimate is below 2.5m and any register is still zero
HLL_LC_THRESHOLD = 5 * HLL_M // 2
#: linear counting needs ln(m/V) for V in 1..m — 1024 PRE-ROUNDED ppm
#: literals (the only irrational inputs, fixed at module definition and
#: injected verbatim into both the Spark expression and the DuckDB
#: oracle text, so no runtime log anywhere)
import math as _math  # noqa: E402 — constant table below, not runtime math

HLL_LC_LN_PPM = [round(_math.log(HLL_M / v) * 1_000_000)
                 for v in range(1, HLL_M + 1)]


def _hll_corrected_sql(raw: str, zeros: str, lc_lookup: str,
                       idiv: str) -> str:
    """Flajolet et al. §4 small-range correction, shared text shape for
    both engines: linear counting m*ln(m/V) (via the pre-rounded ppm
    table, floor division) when raw < 2.5m and V > 0, else raw.
    ``idiv`` is the engine's integer-division token (Spark ``div``,
    DuckDB ``//``) — all operands here are non-negative, where the two
    operators agree."""
    return (f"CASE WHEN ({zeros}) > 0 AND ({raw}) < {HLL_LC_THRESHOLD} "
            f"THEN ({HLL_M} * {lc_lookup}) {idiv} 1000000 "
            f"ELSE ({raw}) END")


def _hll_rho_sql(w: str) -> str:
    """rho(w) = (trailing zeros of the 22-bit word) + 1, w = 0 -> 23 —
    a pure CASE/modulo chain both engines evaluate identically. The
    trailing-zero rank is the PCSA/Flajolet-Martin convention; its
    geometric distribution is the same one HLL's leading-zero form
    uses, so the published alpha constants apply unchanged."""
    arms = " ".join(
        f"WHEN ({w}) % {1 << k} = {1 << (k - 1)} THEN {k}"
        for k in range(1, HLL_RANK_BITS + 1))
    return f"CASE {arms} ELSE {HLL_RANK_BITS + 1} END"


def _hll_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(l_orderkey AS VARCHAR)")
    rho = _hll_rho_sql(f"(h // {HLL_M}) % {1 << HLL_RANK_BITS}")
    return f"""
    WITH hashed AS (
      SELECT l_returnflag AS grp, {h} AS h FROM lineitem),
    regs AS (
      SELECT grp, h % {HLL_M} AS reg, MAX({rho}) AS m_rho
      FROM hashed GROUP BY grp, reg),
    grid AS (
      SELECT DISTINCT grp, UNNEST(generate_series(0, {HLL_M - 1})) AS reg
      FROM hashed),
    filled AS (
      SELECT g.grp, COALESCE(r.m_rho, 0) AS m_rho
      FROM grid g LEFT JOIN regs r ON r.grp = g.grp AND r.reg = g.reg),
    sk AS (
      SELECT grp,
             CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_registers,
             CAST(SUM({HLL_SCALE} // (1 << m_rho)) AS BIGINT) AS denom,
             CAST({HLL_EST_NUM} // SUM({HLL_SCALE} // (1 << m_rho))
                  AS BIGINT) AS raw_estimate
      FROM filled GROUP BY grp)
    SELECT grp AS l_returnflag, zero_registers, denom, raw_estimate,
           CAST({_hll_corrected_sql(
               "raw_estimate", "zero_registers",
               "list_extract(" + str(HLL_LC_LN_PPM)
               + ", CAST(zero_registers AS INT))", "//")}
             AS BIGINT) AS distinct_estimate
    FROM sk ORDER BY grp
    """


def hll_registers(df: DataFrame, keys: list[str],
                  column: str) -> DataFrame:
    """(keys..., reg, m_rho) register rollup over ANY frame: the
    mergeable per-(group, register) MAX, bounded by |groups| x 1024
    regardless of rows seen. Shared by the registered batch operator,
    the streaming twin, and the incremental aggview state kind
    (``aggview.create_hll_agg_view``) — one definition, so a sketch
    built by any of the three merges bit-exactly with the others."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    h = spark_h60(f"cast({column} as string)")
    # internal hash column gets a reserved name: a plain "h" collided
    # with sources that themselves have an `h` column (AMBIGUOUS_REFERENCE
    # under the aggview's arbitrary keys — caught by the multi-key test)
    rho = _hll_rho_sql(f"(__hll_h div {HLL_M}) % {1 << HLL_RANK_BITS}")
    return (df.select(*keys, F.expr(h).alias("__hll_h"))
            .select(*keys, (F.col("__hll_h") % HLL_M).alias("reg"),
                    F.expr(rho).alias("rho"))
            .groupBy(*keys, "reg").agg(F.max("rho").alias("m_rho")))


def hll_register_rollup(lineitem: DataFrame) -> DataFrame:
    """(grp, reg, m_rho) sketch frame from the raw fact table — the
    operator's ONLY state, batch or stream (its twin declaration)."""
    return hll_registers(
        lineitem.select(F.col("l_returnflag").alias("grp"), "l_orderkey"),
        ["grp"], "l_orderkey")


def hll_estimate_from_registers(regs: DataFrame) -> DataFrame:
    """Finisher: register frame -> per-group estimate (shared verbatim
    by the batch operator, its streaming twin and the aggview reader)."""
    # full 1024-register grid per group: explode a sequence literal over
    # the distinct groups taken from the SKETCH frame (<= |groups|*1024
    # rows), not the corpus — one corpus pass total
    grid = (regs.select("grp").distinct()
            .select("grp", F.explode(
                F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("reg")))
    filled = (grid.join(regs, ["grp", "reg"], "left")
              .select("grp", F.coalesce("m_rho", F.lit(0)).alias("m_rho")))
    term = F.expr(f"{HLL_SCALE} div shiftleft(1L, m_rho)")
    lc_lookup = (f"element_at(array({', '.join(map(str, HLL_LC_LN_PPM))}), "
                 "CAST(zero_registers AS INT))")
    return (filled.groupBy("grp")
            .agg(F.sum(F.when(F.col("m_rho") == 0, 1).otherwise(0))
                 .cast("long").alias("zero_registers"),
                 F.sum(term).cast("long").alias("denom"))
            .withColumn("raw_estimate",
                        F.expr(f"CAST({HLL_EST_NUM} div denom AS BIGINT)"))
            .select("grp",
                    "zero_registers", "denom", "raw_estimate",
                    F.expr("CAST(" + _hll_corrected_sql(
                        "raw_estimate", "zero_registers", lc_lookup,
                        "div") + " AS BIGINT)")
                    .alias("distinct_estimate"))
            .orderBy("grp"))


def hll_returnflag_estimate(regs: DataFrame) -> DataFrame:
    """The twin finisher of ``sketch_hyperloglog_distinct``: the
    table-agnostic estimate, with the group named after the lineitem
    column it came from."""
    return (hll_estimate_from_registers(regs)
            .select(F.col("grp").alias("l_returnflag"),
                    "zero_registers", "denom", "raw_estimate",
                    "distinct_estimate"))


@register(
    "sketch_hyperloglog_distinct",
    twin=("lineitem", (hll_register_rollup,), hll_returnflag_estimate),
    category="analytics",
    bench=True,
    # CBO off: a bare-path read has no catalog stats, so the CBO stats
    # visitor is pure driver overhead, and AQE re-costs this query's
    # plan (the widest expression tree in the bench set: the finisher's
    # 1024-entry ln-ppm literal) at every stage boundary. Interleaved
    # min-of-3 at sf0.1: 2.93 s with CBO vs 1.77 s without; every other
    # bench query was within noise, so this is declared per query.
    confs={"spark.sql.cbo.enabled": "false",
           "spark.sql.cbo.joinReorder.enabled": "false"},
    oracle=_hll_oracle())
def sketch_hyperloglog_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007), fully
    portable and integer-exact: estimate distinct orders per return
    flag from the line-item fact table with a 1024-register sketch
    instead of an exact distinct shuffle (~11k distinct per group at
    sf0.01 — safely above the 2.5m small-range threshold where the raw
    estimator is unbiased). The register index is the low 10 bits of the
    portable md5 hash (the same h60 scheme every signature operator
    uses — DuckDB recomputes identical values); the rank is the
    trailing-zero count of the next 22 bits (the PCSA convention — same
    geometric law, so HLL's alpha_m applies); the harmonic mean is
    computed EXACTLY by scaling each 2^-M term to the integer
    2^24 // 2^M, and the final estimate uses alpha_1024 in Q16 fixed
    point — no IEEE float
    anywhere, so Spark and DuckDB agree bit-for-bit. Standard error
    1.04/sqrt(1024) ~ 3.3% (asserted against the exact count in
    tests). The paper's §4 small-range correction is applied exactly:
    when the raw estimate falls below 2.5m and zero registers remain,
    the estimate switches to linear counting m*ln(m/V) — the ln values
    are 1024 PRE-ROUNDED ppm literals (the only irrational inputs,
    fixed at module definition and shared verbatim with the oracle
    text), so even the correction is engine-exact integer arithmetic.
    Both raw_estimate and the corrected distinct_estimate are emitted.

    Scale: THE 100 TB distinct-count story — the corpus is touched
    once, the shuffle carries at most |groups| x 1024 register rows
    (map-side combined by the partial MAX), and the estimate is a
    5-row projection. An exact COUNT(DISTINCT) shuffles every distinct
    key; this shuffles 4 KB per group no matter how many trillions of
    rows flow in. The register rollup is a mergeable MAX — the same
    property that merges it across partitions merges it across
    micro-batches, so the query declares its twin as that rollup and
    ``hll_returnflag_estimate``: ``streaming.runner.run_twin`` maintains
    the identical sketch on an unbounded stream and runs the same
    finisher."""


def _temperature_mix_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH cnts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY lang),
    quotas AS (
      SELECT lang,
             ((SELECT COUNT(*) // 5 FROM documents) * cnt * cnt)
               // (SELECT SUM(cnt * cnt) FROM cnts) AS quota
      FROM cnts),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY {h}, doc_id) AS rn
      FROM documents)
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN quotas q ON q.lang = r.lang
    WHERE r.rn <= q.quota
    ORDER BY r.lang, r.doc_id
    """


@register(
    "sample_temperature_mix",
    category="analytics",
    allow_bnlj=True,  # two 1-row broadcast anchors (budget K, weight sum)
    oracle=_temperature_mix_oracle())
def sample_temperature_mix(spark, sf_dir):
    """Temperature-weighted dataset mixing — the sampling step every
    multi-source LLM training pipeline runs: re-draw a K-document
    budget across languages with weights cnt^(1/T) instead of raw
    proportions. T = 1/2 here (weight = cnt², sharpening toward
    high-resource languages) because it is the exponent that stays
    INTEGER-exact end to end; the mechanism — weights → integer
    quotas → lowest-portable-hash quota take per group — is
    temperature-agnostic (a fractional T swaps in a fixed-point pow
    table, nothing else changes). The per-group take is rank-by-md5,
    not an RNG, so the sample is reproducible across engines, epochs,
    and retries, and any document's membership can be audited.

    Scale: one count aggregate (|lang| rows, map-side combined), a
    broadcast quota table, and one rank window per lang partition.
    The window sort is the cost driver at 100 TB; for truly giant
    groups swap the exact rank for a hash-threshold take (keep rows
    with h < quota/cnt · 2^60 — constant-time, no sort) at the price
    of a binomially-distributed quota."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    total = d.groupBy().agg(
        (F.count(F.lit(1)).cast("long") / 5).cast("long").alias("k"))
    cnts = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long")
                                 .alias("cnt"))
    wsum = cnts.groupBy().agg(F.sum(F.col("cnt") * F.col("cnt"))
                              .alias("wsum"))
    quotas = (cnts.crossJoin(F.broadcast(wsum))
              .crossJoin(F.broadcast(total))
              .select("lang", F.expr("k * cnt * cnt div wsum")
                      .alias("quota")))
    h = F.expr(spark_h60("cast(doc_id as string)"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = d.select("doc_id", "lang",
                      F.row_number().over(w).alias("rn"))
    return (ranked.join(F.broadcast(quotas), "lang")
            .filter(F.col("rn") <= F.col("quota"))
            .select("doc_id", "lang")
            .orderBy("lang", "doc_id"))


@register(
    "stats_chi_square_independence",
    category="analytics",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, r.r_name AS region,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM customer c
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY segment, region),
    tot AS (
      SELECT segment, region, obs,
             SUM(obs) OVER (PARTITION BY segment) AS rt,
             SUM(obs) OVER (PARTITION BY region) AS ct,
             SUM(obs) OVER () AS n
      FROM cells)
    SELECT segment, region, obs,
           CAST((rt * ct * 1000000) // n AS BIGINT) AS expected_ppm,
           CAST(((obs * 1000000 - (rt * ct * 1000000) // n) // 1000)
                * ((obs * 1000000 - (rt * ct * 1000000) // n) // 1000)
                // ((rt * ct * 1000000) // n) AS BIGINT)
             AS chi2_contrib
    FROM tot ORDER BY segment, region
    """)
def stats_chi_square_independence(spark, sf_dir):
    """Pearson chi-square test of independence over the market-segment
    x region contingency table (customer joined through the broadcast
    nation->region dimensions) — the categorical-drift / association
    check a data-quality pipeline runs between a sampled corpus and
    its parent. Per-cell contributions (obs - exp)^2 / exp are
    computed in deterministic fixed point: expected counts in parts
    per million (rt*ct*10^6 // n — int64-safe to ~3M rows), the
    deviation pre-scaled back by 10^3 before squaring so the square
    stays in int64, then divided by the ppm expectation — every step
    an identical integer expression in both engines, so the oracle
    match is bit-exact (no IEEE division anywhere). The chi-square
    statistic is SUM(chi2_contrib) + cell count over the result; dof =
    (|segments|-1)(|regions|-1).

    Scale: the corpus aggregates once into a |segments| x |regions|
    cell table (25 rows here — map-side combined); the marginals are
    windows over that bounded model table, never over corpus rows; the
    dimension joins broadcast."""
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    cells = (c.join(F.broadcast(n),
                    n["n_nationkey"] == c["c_nationkey"])
             .join(F.broadcast(r),
                   r["r_regionkey"] == n["n_regionkey"])
             .groupBy(F.col("c_mktsegment").alias("segment"),
                      F.col("r_name").alias("region"))
             .agg(F.count(F.lit(1)).cast("long").alias("obs")))
    ws = Window.partitionBy("segment")
    wr = Window.partitionBy("region")
    wall = Window.partitionBy()
    tot = cells.select(
        "segment", "region", "obs",
        F.sum("obs").over(ws).alias("rt"),
        F.sum("obs").over(wr).alias("ct"),
        F.sum("obs").over(wall).alias("n"))
    e_ppm = F.expr("rt * ct * 1000000 div n")
    contrib = F.expr(
        "((obs * 1000000 - rt * ct * 1000000 div n) div 1000)"
        " * ((obs * 1000000 - rt * ct * 1000000 div n) div 1000)"
        " div (rt * ct * 1000000 div n)")
    return (tot.select(
        "segment", "region", "obs",
        e_ppm.cast("long").alias("expected_ppm"),
        contrib.cast("long").alias("chi2_contrib"))
        .orderBy("segment", "region"))


#: Benford's-law first-digit probabilities log10(1 + 1/d), d = 1..9,
#: in parts per million (published constants, same literals in both
#: engines — no runtime log10 anywhere).
BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992,
               51153, 45757]

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN {ppm}" for d, ppm in enumerate(BENFORD_PPM, 1)) + " END"


def benford_digit_counts(lineitem: DataFrame) -> DataFrame:
    """(digit, obs): the first digit of each price in cents, counted —
    nine mergeable counters, the Benford screen's only state, batch or
    stream."""
    return (lineitem.select(
        F.expr("CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100) AS "
               "BIGINT) AS STRING), 1, 1) AS BIGINT)").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("obs")))


def benford_from_digit_counts(counts: DataFrame) -> DataFrame:
    """Finisher: (digit, obs) counts -> ppm comparison vs the Benford
    literals (shared verbatim by the batch query and its streaming
    twin)."""
    cells = counts.withColumn(
        "n", F.sum("obs").over(Window.partitionBy()))
    return (cells.select(
        "digit", "obs",
        F.expr("obs * 1000000 div n").cast("long").alias("obs_ppm"),
        F.expr(_BENFORD_CASE).cast("long").alias("benford_ppm"),
        F.expr(f"obs * 1000000 div n - {_BENFORD_CASE}").cast("long")
        .alias("deviation_ppm"))
        .orderBy("digit"))


@register(
    "stats_benford_first_digit",
    twin=("lineitem", (benford_digit_counts,), benford_from_digit_counts),
    category="analytics",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM lineitem),
    cells AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS obs,
             SUM(COUNT(*)) OVER () AS n
      FROM digits GROUP BY digit)
    SELECT digit, obs,
           CAST(obs * 1000000 // n AS BIGINT) AS obs_ppm,
           CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm,
           CAST(obs * 1000000 // n - {_BENFORD_CASE} AS BIGINT)
             AS deviation_ppm
    FROM cells ORDER BY digit
    """)
def stats_benford_first_digit(spark, sf_dir):
    """Benford's-law first-digit screening over line-item prices — the
    fraud/synthetic-data drift check auditors run on any value column
    spanning orders of magnitude: compare the observed first-digit
    distribution of the price (in cents, so the digit is taken from an
    exact integer, never a float rendering) against the published
    log10(1 + 1/d) frequencies, both in parts per million. The Benford
    constants are fixed integer literals (the only irrational inputs,
    pre-rounded once), and observed shares use floor-division ppm, so
    both engines agree bit-for-bit. TPC-H prices are deliberately NOT
    Benford-distributed (they span barely two decades) — the operator
    measures and reports the deviation; judging it is the caller's
    domain decision, and the pytest pins the direction (uniform-ish
    prices under-represent digit 1 relative to Benford).

    Scale: one map-side-combined 9-group aggregate over the corpus —
    the digit projection is pure codegen string arithmetic on an
    int64; the ppm comparison is a projection over 9 rows."""


def _hll_union_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(l_orderkey AS VARCHAR)")
    rho = _hll_rho_sql(f"(h // {HLL_M}) % {1 << HLL_RANK_BITS}")
    est = (f"CAST({HLL_EST_NUM} // SUM({HLL_SCALE} // (1 << m_rho)) "
           "AS BIGINT)")
    return f"""
    WITH hashed AS (
      SELECT l_returnflag AS grp, {h} AS h
      FROM lineitem WHERE l_returnflag IN ('A', 'R')),
    regs AS (
      SELECT grp, h % {HLL_M} AS reg, MAX({rho}) AS m_rho
      FROM hashed GROUP BY grp, reg),
    grid AS (SELECT UNNEST(generate_series(0, {HLL_M - 1})) AS reg),
    fa AS (
      SELECT g.reg, COALESCE(r.m_rho, 0) AS m_rho
      FROM grid g LEFT JOIN (SELECT * FROM regs WHERE grp = 'A') r
        ON r.reg = g.reg),
    fr AS (
      SELECT g.reg, COALESCE(r.m_rho, 0) AS m_rho
      FROM grid g LEFT JOIN (SELECT * FROM regs WHERE grp = 'R') r
        ON r.reg = g.reg),
    fu AS (
      SELECT a.reg, GREATEST(a.m_rho, b.m_rho) AS m_rho
      FROM fa a JOIN fr b ON b.reg = a.reg),
    ea AS (SELECT {est} AS v FROM fa),
    er AS (SELECT {est} AS v FROM fr),
    eu AS (SELECT {est} AS v FROM fu)
    SELECT ea.v AS est_a, er.v AS est_r, eu.v AS est_union,
           CAST(ea.v + er.v - eu.v AS BIGINT) AS est_intersect
    FROM ea, er, eu
    """


@register(
    "sketch_hll_union_intersect",
    category="analytics",
    oracle=_hll_union_oracle())
def sketch_hll_union_intersect(spark, sf_dir):
    """HLL sketch ALGEBRA — the property that makes sketches the 100 TB
    distinct-count story: two independently built register sets (orders
    with returnflag A vs R) merge into their UNION's sketch by a
    per-register MAX — no rescan, no re-shuffle, the same merge that
    combines partitions, micro-batches, or month-old sketches from cold
    storage — and the intersection estimate follows by
    inclusion-exclusion (|A∩R| = |A|+|R|-|A∪R|, Flajolet et al. §5).
    All three estimates use the exact integer pipeline of
    sketch_hyperloglog_distinct (raw estimator here: both operands are
    ~11k distinct at sf0.01, far above the small-range threshold; the
    inclusion-exclusion difference inherits ~3x the per-sketch error —
    emitted for the caller to judge, as with any HLL intersection).

    Scale: the corpus is scanned once; everything after the
    |flags| x 1024 register rollup is arithmetic on 1024-row frames."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    li = (table(spark, sf_dir, "lineitem")
          .filter(F.col("l_returnflag").isin("A", "R")))
    h = spark_h60("cast(l_orderkey as string)")
    rho = _hll_rho_sql(f"(h div {HLL_M}) % {1 << HLL_RANK_BITS}")
    regs = (li.select(F.col("l_returnflag").alias("grp"),
                      F.expr(h).alias("h"))
            .select("grp", (F.col("h") % HLL_M).alias("reg"),
                    F.expr(rho).alias("rho"))
            .groupBy("reg")
            .agg(F.max(F.when(F.col("grp") == "A", F.col("rho"))
                       .otherwise(0)).alias("rho_a"),
                 F.max(F.when(F.col("grp") == "R", F.col("rho"))
                       .otherwise(0)).alias("rho_r")))
    grid = (spark.range(HLL_M).select(F.col("id").alias("reg")))
    filled = (grid.join(regs, "reg", "left")
              .select(F.coalesce("rho_a", F.lit(0)).alias("rho_a"),
                      F.coalesce("rho_r", F.lit(0)).alias("rho_r"),
                      F.greatest(F.coalesce("rho_a", F.lit(0)),
                                 F.coalesce("rho_r", F.lit(0)))
                      .alias("rho_u")))

    def est(col):
        return F.expr(
            f"CAST({HLL_EST_NUM} div SUM({HLL_SCALE} div "
            f"shiftleft(1L, {col})) AS BIGINT)")

    out = filled.agg(est("rho_a").alias("est_a"),
                     est("rho_r").alias("est_r"),
                     est("rho_u").alias("est_union"))
    return out.select(
        "est_a", "est_r", "est_union",
        (F.col("est_a") + F.col("est_r") - F.col("est_union"))
        .cast("long").alias("est_intersect"))


# ------------------------------------------- Count-Min / Bloom sketches

#: Count-Min geometry (Cormode & Muthukrishnan '05): d=4 independent
#: hash rows (the four 32-bit md5 windows — same digest, one hash per
#: row) x w=512 counters. State is 2048 integers regardless of rows
#: seen; point-estimate = MIN over the 4 rows; guaranteed est >= exact,
#: and est <= exact + 2N/w with probability 1 - (1/2)^4 per query.
CM_D = 4
CM_W = 512


def _countmin_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_w32
    key = "CAST(user_id AS VARCHAR)"
    rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS i, {duck_w32(key, i)} % {CM_W} AS b "
        "FROM events" for i in range(CM_D))
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, {i} AS i, {duck_w32(key, i)} % {CM_W} AS b "
        "FROM probes" for i in range(CM_D))
    return f"""
    WITH hashed AS ({rows}),
    cm AS (
      SELECT i, b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY i, b),
    probes AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events WHERE user_id % 37 = 0 GROUP BY user_id),
    pb AS ({probe_rows})
    SELECT p.user_id, p.exact_cnt,
           CAST(MIN(c.cnt) AS BIGINT) AS est_cnt
    FROM pb JOIN cm c ON c.i = pb.i AND c.b = pb.b
    JOIN probes p ON p.user_id = pb.user_id
    GROUP BY p.user_id, p.exact_cnt
    """


def _cm_bucket_arr():
    """The d (row, bucket) pairs of a user_id — one md5, four windows."""
    from cstore_fdw_spark.functions.portable_hash import spark_w32

    key = "cast(user_id as string)"
    return F.array(*[
        F.struct(F.lit(i).alias("i"),
                 (F.expr(spark_w32(key, i)) % CM_W).alias("b"))
        for i in range(CM_D)])


def countmin_rollup(ev: DataFrame) -> DataFrame:
    """(i, b, cnt) sketch frame — the operator's ONLY state, a
    sum-mergeable per-(row, bucket) COUNT bounded by d x w regardless
    of rows seen (shared verbatim with the streaming twin)."""
    return (ev.select(F.explode(_cm_bucket_arr()).alias("x"))
            .groupBy(F.col("x.i").alias("i"), F.col("x.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def countmin_probe_counts(ev: DataFrame) -> DataFrame:
    """Exact counts for the deterministic probe set (the audit column)."""
    return (ev.filter(F.col("user_id") % 37 == 0)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt")))


def countmin_estimates(cm: DataFrame, probes: DataFrame) -> DataFrame:
    """Serving finisher: MIN over the d probed cells per key (shared
    verbatim between the batch operator and the streaming twin)."""
    pb = probes.select("user_id", "exact_cnt",
                       F.explode(_cm_bucket_arr()).alias("x"))
    return (pb.join(F.broadcast(cm),
                    (F.col("x.i") == F.col("i"))
                    & (F.col("x.b") == F.col("b")))
            .groupBy("user_id", "exact_cnt")
            .agg(F.min("cnt").cast("long").alias("est_cnt")))


@register(
    "sketch_countmin_user_counts",
    twin=("events", (countmin_rollup, countmin_probe_counts),
          countmin_estimates),
    category="analytics",
    oracle=_countmin_oracle())
def sketch_countmin_user_counts(spark, sf_dir):
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) over
    the event stream's user_id: estimate per-user event counts from a
    4x512-counter sketch instead of an exact per-key shuffle, evaluated
    here on a deterministic probe set (user_id % 37 = 0) against the
    exact counts so the one-sided guarantee (est_cnt >= exact_cnt,
    over-count bounded by ~2N/w) is visible in the output. Hashing is
    the portable 4-window md5 scheme, all arithmetic integer — the
    DuckDB oracle recomputes the identical sketch and estimates.

    Scale: THE bounded-state frequency story, the counting twin of the
    HLL distinct sketch. The corpus is touched once; the per-(row,
    bucket) COUNT combines map-side so at most d x w = 2048 rows per map
    partition ever shuffle, and serving is a broadcast join against a
    2048-row table. The sketch is sum-mergeable — across partitions,
    micro-batches, and epoch deltas: its state IS a per-(i, b) count,
    exactly the shape ``aggview.create_agg_view`` already maintains
    incrementally (keys=[i, b], n_rows), so a lakehouse deployment gets
    an always-current CM sketch from the existing crash-atomic refresh
    with zero new machinery."""


#: Bloom geometry: m=1024 bits, k=4 hash positions (the four 32-bit md5
#: windows). Fixed m keeps the oracle deterministic; production sizes m
#: to the expected key count (m/n ~ 10 bits/key for ~1% FP at k=4).
BLOOM_M = 1024
BLOOM_K = 4


def bloom_positions(column: str, m: int = BLOOM_M, k: int = BLOOM_K):
    """The k bit positions of ``column`` in an m-bit Bloom filter as an
    array Column (the four 32-bit md5 windows, mod m) — the one
    definition behind the filter build (:func:`bloom_bits`) and every
    probe, so a probe tests exactly the bits a build sets."""
    from cstore_fdw_spark.functions.portable_hash import spark_w32

    key = f"cast({column} as string)"
    return F.array(*[(F.expr(spark_w32(key, i)) % m) for i in range(k)])


def bloom_bits(df: DataFrame, keys: list[str], column: str,
               m: int = BLOOM_M, k: int = BLOOM_K) -> DataFrame:
    """(keys..., bit) DISTINCT set-bit table of an m-bit/k-hash Bloom
    filter over ``column`` — the filter's ONLY state (<= |groups| x m
    rows regardless of keys streamed in), OR-mergeable by distinct
    union: across partitions, micro-batches, and epoch deltas (the
    aggview ``bloom`` state kind). Shared by the registered operator
    and ``aggview.create_bloom_agg_view`` — one definition, so filters
    built anywhere merge exactly."""
    return (df.select(*keys, F.explode(bloom_positions(column, m, k))
                      .alias("bit")).distinct())


def _bloom_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_w32
    okey = "CAST(o_custkey AS VARCHAR)"
    ckey = "CAST(c_custkey AS VARCHAR)"
    obits = " UNION ALL ".join(
        f"SELECT {duck_w32(okey, i)} % {BLOOM_M} AS bit FROM keys"
        for i in range(BLOOM_K))
    cbits = " UNION ALL ".join(
        f"SELECT c_custkey, {duck_w32(ckey, i)} % {BLOOM_M} AS bit "
        "FROM customer" for i in range(BLOOM_K))
    return f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'P'),
    bits AS (SELECT DISTINCT bit FROM ({obits}) u),
    probe AS ({cbits}),
    hits AS (
      SELECT p.c_custkey,
             SUM(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS nhit
      FROM probe p LEFT JOIN bits b ON b.bit = p.bit
      GROUP BY p.c_custkey)
    SELECT h.c_custkey,
           (h.nhit = {BLOOM_K}) AS bloom_member,
           (k.o_custkey IS NOT NULL) AS has_orders
    FROM hits h
    LEFT JOIN keys k ON k.o_custkey = h.c_custkey
    """


@register(
    "sketch_bloom_order_membership",
    category="analytics",
    oracle=_bloom_oracle())
def sketch_bloom_order_membership(spark, sf_dir):
    """Bloom-filter membership (Bloom 1970): does this customer have a
    pending ('P') order? The filter is m=1024 bits set by k=4 portable
    md5 positions over the pending orders' custkeys, stored as the
    DISTINCT set-bit table (<= m rows no matter how many keys stream
    in); every customer probes its 4 positions and is a member iff all
    are set. The output carries the exact answer too, so the one-sided
    guarantee is visible: bloom_member is always true when has_orders
    is (no false negatives — asserted in tests); false positives are
    the deterministic, oracle-reproduced price of the 128-byte state.

    Scale: the key set is folded to <= m set-bit rows with a map-side
    distinct; probing is a broadcast join against that table. The
    set-bit table is OR-mergeable (distinct union) across partitions,
    batches, and archived filters. m is a fixture constant here — a
    production build sizes m ~ 10n for ~1% FP and shards the bit space
    by key range."""
    keys = (table(spark, sf_dir, "orders")
            .filter(F.col("o_orderstatus") == "P")
            .select("o_custkey").distinct())
    bits = (bloom_bits(keys, [], "o_custkey")
            .withColumn("present", F.lit(1)))
    probe = (table(spark, sf_dir, "customer")
             .select("c_custkey",
                     F.explode(bloom_positions("c_custkey")).alias("bit")))
    hits = (probe.join(F.broadcast(bits), "bit", "left")
            .groupBy("c_custkey")
            .agg(F.sum(F.coalesce("present", F.lit(0))).alias("nhit")))
    return (hits.join(keys,
                      hits.c_custkey == keys.o_custkey, "left")
            .select("c_custkey",
                    (F.col("nhit") == BLOOM_K).alias("bloom_member"),
                    F.col("o_custkey").isNotNull().alias("has_orders")))


# ------------------------------------------ quantile histogram sketch

#: Quantile-histogram geometry: a DECLARED value range [QH_LO, QH_HI)
#: split into QH_NB equi-width buckets. Fixed geometry is what makes the
#: state mergeable (identical bucket boundaries everywhere — across
#: partitions, micro-batches, and epoch deltas) and the error bound
#: DETERMINISTIC: the rank-r order statistic provably lands in the first
#: bucket whose cumulative count reaches r, so the reported
#: [q_lo, q_hi) value interval is a certificate, not an estimate. The
#: declared range covers the TPC-H l_extendedprice domain
#: (qty <= 50 x retailprice < $2100); out-of-range values would land in
#: edge-overflow buckets (floor keeps the mapping monotone), keeping the
#: certificate valid at the cost of wider state — production declares
#: the range from ANALYZE min/max stats.
QH_LO = 900.0
QH_HI = 105000.0
QH_NB = 1024
QH_QS = (50, 90, 99)


def _qbucket_sql(col: str, lo: float = QH_LO, hi: float = QH_HI,
                 nbuckets: int = QH_NB) -> str:
    """Engine-shared bucket index: floor((x - lo) * nb / (hi - lo)).
    Plain IEEE -,*,/ and floor in the identical order, so Spark and
    DuckDB compute bit-identical indices (each op is exactly rounded;
    same text, same doubles in, same int out). Monotone in x, which is
    all the rank-certificate needs."""
    return (f"CAST(FLOOR((({col}) - {lo!r}) * {float(nbuckets)!r} "
            f"/ {hi - lo!r}) AS BIGINT)")


def quantile_buckets(df: DataFrame, keys: list[str], column: str,
                     lo: float = QH_LO, hi: float = QH_HI,
                     nbuckets: int = QH_NB) -> DataFrame:
    """(keys..., bucket, cnt) histogram rollup over ANY frame: the
    sum-mergeable per-(group, bucket) COUNT, bounded by |groups| x
    nbuckets for in-range data regardless of rows seen. Shared by the
    registered batch operator, the streaming twin, and the incremental
    aggview state kind (``aggview.create_quantile_agg_view``) — one
    definition, so a histogram built by any of the three merges exactly
    with the others (same algebra ladder as HLL/CM/Bloom: this is the
    fourth classic mergeable sketch, per-bucket SUM).

    NULLs in ``column`` are filtered out HERE, in the one shared
    definition: a NULL value has no bucket (the floor expression would
    yield a bucket=NULL state row), and the two engines disagree on
    where NULLs sort in the finisher's cumulative window (Spark NULLS
    FIRST, DuckDB NULLS LAST) — so on nullable user data the rank
    certificate would silently cover a different order statistic.
    Consequence, documented contract: ``n`` (and every rank the
    finisher derives from it) counts NON-NULL rows only — the same
    convention as SQL ``percentile_cont``/``NTILE`` over nullable
    input."""
    b = _qbucket_sql(column, lo, hi, nbuckets)
    return (df.filter(F.col(column).isNotNull())
            .select(*keys, F.expr(b).alias("bucket"))
            .groupBy(*keys, "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def quantile_estimate_from_buckets(counts: DataFrame,
                                   lo: float = QH_LO, hi: float = QH_HI,
                                   nbuckets: int = QH_NB,
                                   qs: tuple = QH_QS) -> DataFrame:
    """Finisher (shared verbatim by the batch operator, the streaming
    twin, and the aggview reader): (grp, bucket, cnt) histogram ->
    (grp, q, n, rnk, bucket, q_lo, q_hi) per requested percentile.
    rnk = ceil(n*q/100) in pure integer arithmetic; the picked bucket is
    the first whose cumulative count reaches rnk — by construction the
    bucket that CONTAINS the exact rank-rnk order statistic, making
    [q_lo, q_hi) a deterministic bound. All joins are sketch-sized
    (|groups| x nbuckets rows at most) — a dashboard read, never a
    corpus pass."""
    w = (Window.partitionBy("grp").orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = counts.select("grp", "bucket", F.sum("cnt").over(w).alias("cum"))
    tot = counts.groupBy("grp").agg(F.sum("cnt").cast("long").alias("n"))
    qarr = F.array(*[F.lit(int(q)).cast("long") for q in qs])
    tq = (tot.select("grp", "n", F.explode(qarr).alias("q"))
          .withColumn("rnk", F.expr("CAST((n * q + 99) div 100 AS BIGINT)")))
    picked = (tq.join(cum, "grp")
              .filter(F.col("cum") >= F.col("rnk"))
              .groupBy("grp", "q", "n", "rnk")
              .agg(F.min("bucket").alias("bucket")))
    span, nb = hi - lo, float(nbuckets)
    blo = f"{lo!r} + CAST(bucket AS DOUBLE) * {span!r} / {nb!r}"
    bhi = f"{lo!r} + CAST(bucket + 1 AS DOUBLE) * {span!r} / {nb!r}"
    return (picked.select("grp", "q", "n", "rnk", "bucket",
                          F.expr(blo).alias("q_lo"),
                          F.expr(bhi).alias("q_hi"))
            .orderBy("grp", "q"))


def _qhist_pipeline_sql(qs: tuple = QH_QS) -> str:
    """DuckDB replica of quantile_buckets + the finisher over lineitem —
    shared between the two quantile oracles so the sketch text can't
    drift from the guarantee-check text."""
    b = _qbucket_sql("l_extendedprice")
    span, nb = QH_HI - QH_LO, float(QH_NB)
    qlist = ", ".join(str(int(q)) for q in qs)
    return f"""
    b AS (SELECT l_returnflag AS grp, {b} AS bucket FROM lineitem
          WHERE l_extendedprice IS NOT NULL),
    c AS (SELECT grp, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM b GROUP BY grp, bucket),
    cum AS (SELECT grp, bucket,
                   SUM(cnt) OVER (PARTITION BY grp ORDER BY bucket) AS cum
            FROM c),
    tot AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY grp),
    tq AS (SELECT grp, n, q, CAST((n * q + 99) // 100 AS BIGINT) AS rnk
           FROM tot CROSS JOIN
                (SELECT CAST(UNNEST([{qlist}]) AS BIGINT) AS q) qq),
    picked AS (SELECT tq.grp, tq.q, tq.n, tq.rnk,
                      MIN(cum.bucket) AS bucket
               FROM tq JOIN cum ON cum.grp = tq.grp
                               AND cum.cum >= tq.rnk
               GROUP BY tq.grp, tq.q, tq.n, tq.rnk),
    est AS (SELECT grp, q, n, rnk, bucket,
                   {QH_LO!r} + CAST(bucket AS DOUBLE) * {span!r} / {nb!r}
                     AS q_lo,
                   {QH_LO!r} + CAST(bucket + 1 AS DOUBLE) * {span!r} / {nb!r}
                     AS q_hi
            FROM picked)"""


def quantile_price_buckets(lineitem: DataFrame) -> DataFrame:
    """(grp, bucket, cnt): the per-return-flag price histogram, the
    only state of ``sketch_quantile_histogram``, batch or stream."""
    return quantile_buckets(
        lineitem.select(F.col("l_returnflag").alias("grp"),
                        "l_extendedprice"),
        ["grp"], "l_extendedprice")


def quantile_returnflag_estimate(counts: DataFrame) -> DataFrame:
    """The twin finisher of ``sketch_quantile_histogram``: the
    table-agnostic estimate, with the group named after the lineitem
    column it came from."""
    return (quantile_estimate_from_buckets(counts)
            .select(F.col("grp").alias("l_returnflag"),
                    "q", "n", "rnk", "bucket", "q_lo", "q_hi"))


@register(
    "sketch_quantile_histogram",
    twin=("lineitem", (quantile_price_buckets,),
          quantile_returnflag_estimate),
    category="analytics",
    bench=True,
    oracle=f"""
    WITH {_qhist_pipeline_sql()}
    SELECT grp AS l_returnflag, q, n, rnk, bucket, q_lo, q_hi
    FROM est ORDER BY l_returnflag, q
    """)
def sketch_quantile_histogram(spark, sf_dir):
    """Bounded-state quantile sketch — the fourth classic mergeable
    algebra next to HLL (distinct, MAX), Count-Min (frequency, SUM) and
    Bloom (membership, OR): p50/p90/p99 of l_extendedprice per return
    flag from a fixed-geometry equi-width histogram instead of an exact
    per-group sort. The state is the per-(group, bucket) COUNT —
    sum-mergeable across partitions, micro-batches (the query's twin
    declaration: ``streaming.runner.run_twin`` maintains the identical
    table and runs the same finisher) and epoch deltas
    (``aggview.create_quantile_agg_view``). The error bound is
    DETERMINISTIC, not probabilistic: the emitted [q_lo, q_hi) interval
    provably contains the exact rank-ceil(n*q/100) order statistic
    (asserted against ``percentile_exact``'s machinery in
    ``sketch_quantile_vs_exact`` and in tests), with width
    (hi-lo)/nbuckets ~ $101.66 here. The reference host's analog is
    PostgreSQL's ANALYZE equi-depth histograms + percentile_cont
    (cstore_fdw delegates both to the executor); this is the
    histogram-as-maintained-state form those stats files approximate.

    Scale: THE 100 TB percentile story — one corpus pass, map-side
    combined to <= |groups| x 1024 shuffle rows, finisher is a
    |groups|x1024-row window + broadcast-sized joins. An exact
    percentile must globally sort (or multi-pass select) every group;
    this ships 8 KB per group no matter how many trillions of rows
    stream in."""


@register(
    "sketch_quantile_vs_exact",
    category="analytics",
    oracle=f"""
    WITH {_qhist_pipeline_sql()},
    v AS (SELECT l_returnflag AS grp, l_extendedprice AS x FROM lineitem),
    vc AS MATERIALIZED (
        SELECT grp, x, CAST(COUNT(*) AS BIGINT) AS c
        FROM v GROUP BY grp, x),
    vcum AS (SELECT grp, x,
                    SUM(c) OVER (PARTITION BY grp ORDER BY x) AS cum
             FROM vc),
    vtot AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY grp),
    vtq AS (SELECT grp, n, q, CAST((n * q + 99) // 100 AS BIGINT) AS rnk
            FROM vtot CROSS JOIN
                 (SELECT CAST(UNNEST([50, 90, 99]) AS BIGINT) AS q) qq),
    exact AS (SELECT vtq.grp, vtq.q, MIN(vcum.x) AS exact_val
              FROM vtq JOIN vcum ON vcum.grp = vtq.grp
                                AND vcum.cum >= vtq.rnk
              GROUP BY vtq.grp, vtq.q)
    SELECT e.grp AS l_returnflag, e.q, e.exact_val,
           est.bucket, est.q_lo, est.q_hi,
           {_qbucket_sql("e.exact_val")} AS exact_bucket,
           ({_qbucket_sql("e.exact_val")} = est.bucket) AS bounds_hold
    FROM exact e JOIN est ON est.grp = e.grp AND est.q = e.q
    ORDER BY e.grp, e.q
    """)
def sketch_quantile_vs_exact(spark, sf_dir):
    """The quantile sketch's guarantee, made visible in the output (the
    family contract: every approximate operator ships its exact twin):
    the exact rank-ceil(n*q/100) order statistic — computed by the
    scalable value-histogram form: per-(group, value) counts, cumulative
    sum, first value reaching the rank (never a collect or a per-group
    full sort) — must land in EXACTLY the bucket the sketch picked
    (``bounds_hold``), i.e. q_lo <= exact_val < q_hi. Bucket equality is
    the theorem-level check: both sides bucket through the identical
    monotone floor expression, so the first-bucket-reaching-rank IS the
    exact value's bucket — no floating-point edge can break it. At
    100 TB the exact side re-shuffles every distinct (group, value)
    pair; the sketch side ships 8 KB per group — the cost gap the
    bounded state exists to avoid."""
    li = table(spark, sf_dir, "lineitem")
    src = li.select(F.col("l_returnflag").alias("grp"),
                    F.col("l_extendedprice").alias("x"))
    # sketch side (the registered operator's own pipeline)
    est = quantile_estimate_from_buckets(
        quantile_buckets(src, ["grp"], "x"))
    # exact side: value-histogram rank selection
    vc = (src.groupBy("grp", "x")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    w = (Window.partitionBy("grp").orderBy("x")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vcum = vc.select("grp", "x", F.sum("c").over(w).alias("cum"))
    vtot = vc.groupBy("grp").agg(F.sum("c").cast("long").alias("n"))
    qarr = F.array(*[F.lit(int(q)).cast("long") for q in QH_QS])
    vtq = (vtot.select("grp", "n", F.explode(qarr).alias("q"))
           .withColumn("rnk",
                       F.expr("CAST((n * q + 99) div 100 AS BIGINT)")))
    exact = (vtq.join(vcum, "grp")
             .filter(F.col("cum") >= F.col("rnk"))
             .groupBy("grp", "q")
             .agg(F.min("x").alias("exact_val")))
    eb = _qbucket_sql("exact_val")
    return (exact.join(est.select("grp", "q", "bucket", "q_lo", "q_hi"),
                       ["grp", "q"])
            .select(F.col("grp").alias("l_returnflag"), "q", "exact_val",
                    "bucket", "q_lo", "q_hi",
                    F.expr(eb).alias("exact_bucket"),
                    (F.expr(eb) == F.col("bucket")).alias("bounds_hold"))
            .orderBy("l_returnflag", "q"))


def _hll_rolling_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    h = duck_h60("CAST(user_id AS VARCHAR)")
    rho = _hll_rho_sql(f"(h // {HLL_M}) % {1 << HLL_RANK_BITS}")
    shifted = " UNION ALL ".join(
        f"SELECT day + {o} AS wday, reg, m_rho FROM dayregs"
        for o in range(3))
    return f"""
    WITH hashed AS (
      SELECT CAST(ts AS DATE) AS day, {h} AS h FROM events),
    dayregs AS (
      SELECT day, h % {HLL_M} AS reg, MAX({rho}) AS m_rho
      FROM hashed GROUP BY day, reg),
    win AS (
      SELECT wday AS day, reg, MAX(m_rho) AS m_rho
      FROM ({shifted}) u
      WHERE wday IN (SELECT DISTINCT day FROM dayregs)
      GROUP BY wday, reg),
    grid AS (
      SELECT DISTINCT w.day, UNNEST(generate_series(0, {HLL_M - 1})) AS reg
      FROM win w),
    filled AS (
      SELECT g.day, COALESCE(w.m_rho, 0) AS m_rho
      FROM grid g LEFT JOIN win w ON w.day = g.day AND w.reg = g.reg),
    sk AS (
      SELECT day,
             CAST(SUM(CASE WHEN m_rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zero_registers,
             CAST({HLL_EST_NUM} // SUM({HLL_SCALE} // (1 << m_rho))
                  AS BIGINT) AS raw_estimate
      FROM filled GROUP BY day)
    SELECT day, zero_registers, raw_estimate,
           CAST({_hll_corrected_sql(
               "raw_estimate", "zero_registers",
               "list_extract(" + str(HLL_LC_LN_PPM)
               + ", CAST(zero_registers AS INT))", "//")}
             AS BIGINT) AS distinct_estimate
    FROM sk
    """


@register(
    "sketch_hll_rolling_distinct",
    category="analytics",
    oracle=_hll_rolling_oracle())
def sketch_hll_rolling_distinct(spark, sf_dir):
    """Trailing 3-day rolling DISTINCT users per day from merged daily
    HLL sketches — the dashboard primitive where sketch algebra earns
    its keep: an exact rolling distinct must re-touch every window's
    raw rows (each row lands in 3 windows, and distinct state cannot
    subtract), while here the corpus is scanned ONCE into per-day
    register tables and every window is a per-register MAX over ≤ 3
    day-sketches (associativity of the same merge that combines
    partitions, micro-batches, and the aggview's archived sketches).
    The window expansion is an explode over window offsets — pure
    equi-join shuffle bounded by |days| x 1024 x 3 rows, no range join,
    no BNLJ — and trailing windows at the data's edge only emit days
    that exist. Small daily cardinalities sit squarely in the paper's
    linear-counting regime, so the §4 correction is live in every row
    (same pre-rounded ln-ppm literals as sketch_hyperloglog_distinct).

    Scale: at 100 TB of events this is |days| x 4 KB of state per
    window grain — rolling uniques over years of history without ever
    rescanning a day."""
    ev = table(spark, sf_dir, "events")
    dayregs = hll_registers(
        ev.select(F.to_date("ts").alias("day"), "user_id"),
        ["day"], "user_id")
    days = dayregs.select("day").distinct()
    win = (dayregs
           .select(F.explode(F.expr(
               "sequence(day, date_add(day, 2))")).alias("day"),
               "reg", "m_rho")
           .join(days, "day", "left_semi")
           .groupBy("day", "reg").agg(F.max("m_rho").alias("m_rho")))
    est = hll_estimate_from_registers(
        win.withColumnRenamed("day", "grp"))
    return est.select(F.col("grp").alias("day"),
                      "zero_registers", "raw_estimate",
                      "distinct_estimate")


@register(
    "timeseries_rolling_distinct_exact",
    category="analytics",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    expanded AS (
      SELECT day + 0 AS wday, user_id FROM du
      UNION ALL SELECT day + 1, user_id FROM du
      UNION ALL SELECT day + 2, user_id FROM du)
    SELECT wday AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM expanded
    WHERE wday IN (SELECT day FROM du)
    GROUP BY wday
    """)
def timeseries_rolling_distinct_exact(spark, sf_dir):
    """EXACT trailing 3-day rolling distinct users per day — the
    correctness anchor for ``sketch_hll_rolling_distinct`` (the repo
    convention: every approximate operator ships its exact twin). Same
    window-by-explode shape (each (day, user) pair lands in its 3
    trailing windows, equi-joins only), but the final COUNT(DISTINCT)
    must shuffle every (window, user) pair — the cost the sketch twin's
    4 KB-per-window registers exist to avoid; at 100 TB the exact form
    re-shuffles the user universe once per window grain while the
    sketch form ships registers."""
    ev = table(spark, sf_dir, "events")
    du = (ev.select(F.to_date("ts").alias("day"), "user_id").distinct())
    days = du.select("day").distinct()
    return (du.select(F.explode(F.expr(
                "sequence(day, date_add(day, 2))")).alias("day"),
                "user_id")
            .join(days, "day", "left_semi")
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("long")
                 .alias("n_distinct")))
