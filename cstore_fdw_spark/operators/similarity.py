"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Brute-force cosine top-k is the exact baseline; the LSH-bucketed variant is
the 100 TB path (bucket join instead of full cross product). Dot products
run JVM-side via zip_with/aggregate with a double accumulator — bit-exact
against DuckDB's list_dot_product over DOUBLE[] (both fold in index order),
so even raw cosine values hash-match the oracle.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, functions as F
from pyspark.sql.window import Window

from cstore_fdw_spark.operators import (register, spread, table,
                                        table_rows, track_cache)
from cstore_fdw_spark.session import conf_override

N_QUERIES = 5    # demo query set: vec_id < 5
TOP_K = 3


def dot(x: Column, y: Column) -> Column:
    """Ordered-fold double dot product (JVM higher-order functions — no
    Python in the loop)."""
    return F.aggregate(
        F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def cosine(x: Column, y: Column) -> Column:
    return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))


_ORACLE_COS = """
  list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
  (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
   sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
"""


@register(
    "ann_cosine_topk",
    category="similarity",
    bench=True,
    allow_bnlj=True,  # corpus × broadcast |queries|-row query set
    oracle=f"""
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_ORACLE_COS} AS cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_ORACLE_COS} DESC, b.vec_id) AS BIGINT) AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}) t
    WHERE rank <= {TOP_K}
    """)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k: broadcast the query set, stream the
    candidate table once, per-query top-k via window. At 100 TB the
    candidate scan is embarrassingly parallel and nothing shuffles except
    the k·|queries| result rows."""
    e = table(spark, sf_dir, "embeddings")
    # hoist norms: ||q|| and ||c|| computed once per vector, not per pair
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("cvec"),
                 F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                 .alias("cnorm"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
    return (c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cos"))


@register(
    "cosine_pairs_threshold",
    category="similarity",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_ORACLE_COS} AS cos
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_ORACLE_COS} >= 0.35
    """)
def cosine_pairs_threshold(spark, sf_dir):
    """All near-duplicate embedding pairs (cosine ≥ 0.35) within a label —
    label acts as the blocking key so the pair space is |label-group|²,
    not |table|² (the embedding-cosine near-dup family from the dedup
    inventory)."""
    e = table(spark, sf_dir, "embeddings")
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"),
                    cos.alias("cos"))
            .filter(F.col("cos") >= 0.35))


# ------------------------------------------------- LSH-bucketed ANN (scale)

#: L hash tables of b bits each (classic E2LSH layout): a vector lands in
#: one bucket per table; candidates = union over tables. b sizes bucket
#: occupancy (~N/2^b per table), L buys recall. The bit count is
#: OCCUPANCY-TARGETED (VERDICT r12 task 3): derived from the corpus row
#: count so per-table bucket occupancy — and hence candidate pairs per
#: row — stays ~constant as N grows, instead of every bucket growing
#: linearly with the corpus. LSH_BITS is the floor (small/gate corpora
#: keep the historical 6-bit layout bit-for-bit).
LSH_BITS = 6
LSH_TABLES = 6
DIM = 64
#: target vectors per (table, bucket); bits = smallest b with
#: N <= occupancy·2^b. 64 keeps within-bucket verify work trivially
#: cache-resident while bounding candidates at ~N·L·occupancy/2.
LSH_TARGET_OCCUPANCY = 64
#: fixture-range cap (64·2^16 ≈ 4.2 M vectors); at true 100 TB scale
#: raise it — the plane construction below extends to any j.
LSH_MAX_BITS = 16


def lsh_bits_for(n_rows: int) -> int:
    """Occupancy-targeted bit count: the smallest b in
    [LSH_BITS, LSH_MAX_BITS] with ``n_rows <= LSH_TARGET_OCCUPANCY·2^b``.
    Pure integer comparisons (no float log2) so the DuckDB oracles can
    replicate the choice exactly from ``COUNT(*)``."""
    for b in range(LSH_BITS, LSH_MAX_BITS + 1):
        if n_rows <= LSH_TARGET_OCCUPANCY << b:
            return b
    return LSH_MAX_BITS


def lsh_bits_sql(corpus_sql: str = "SELECT COUNT(*) FROM embeddings") -> str:
    """A DuckDB CTE body computing :func:`lsh_bits_for` over the corpus —
    integer threshold table, COALESCE to the cap; names the result
    ``nb(bits)``."""
    vals = ", ".join(
        f"({b}, {LSH_TARGET_OCCUPANCY << b})"
        for b in range(LSH_BITS, LSH_MAX_BITS + 1))
    return (f"nb(bits) AS (SELECT COALESCE(MIN(b), {LSH_MAX_BITS}) "
            f"FROM (VALUES {vals}) AS caps(b, cap) "
            f"WHERE ({corpus_sql}) <= cap)")


def _plane_matrix(nbits: int = LSH_BITS):
    """(LSH_TABLES·nbits, DIM) ±1 matrix, SHA-256-derived —
    deterministic, no RNG state, reproducible across sessions. Plane
    (t, j) depends only on its own key, so a wider matrix extends the
    narrower one row-for-row (adaptive bit counts never move the
    existing planes)."""
    import numpy as np
    rows = []
    for t in range(LSH_TABLES):
        for j in range(nbits):
            rows.append([1.0 if hashlib.sha256(
                f"cstore-lsh-{t}-{j}-{k}".encode()).digest()[0] & 1 else -1.0
                for k in range(DIM)])
    return np.asarray(rows)


def lsh_buckets(vec_col_name: str, nbits: int = LSH_BITS) -> Column:
    """array of per-table bucket ids (index = table): bit j of table t's
    bucket = sign(vec · plane_{t,j}).

    Arrow-vectorized pandas UDF: the projections run as DIM vectorized
    accumulation steps (one fused multiply-add over all rows × planes per
    dimension). The accumulation is deliberately a LEFT FOLD in dimension
    order — acc += v[k]·p[k] for k = 0..DIM−1 — so every partial sum
    rounds exactly like DuckDB's sequential list_dot_product fold; with
    ±1 planes the products are exact sign flips, making the bucket bits
    bit-identical across engines (that's what lets the LSH op carry a
    full oracle). A BLAS matmul would be ~the same speed here but sums in
    unspecified order. The JVM higher-order-function formulation was
    measured at ~2.3 ms/row (interpreted fold overhead) vs microseconds
    here — the documented case where built-ins genuinely can't express
    the semantics efficiently (batch linear algebra)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def buckets_of(vecs):
        import numpy as np
        import pandas as pd
        planes = _plane_matrix(nbits)                  # (L*B, DIM)
        V = np.stack(vecs.to_numpy()).astype(np.float64)   # (n, DIM)
        acc = np.zeros((len(V), planes.shape[0]))      # (n, L*B)
        for k in range(planes.shape[1]):               # ordered fold
            acc += V[:, k:k + 1] * planes[None, :, k]
        bits = acc > 0
        bits = bits.reshape(len(V), LSH_TABLES, nbits)
        weights = (1 << np.arange(nbits)).astype(np.int64)
        out = bits @ weights                            # (n, L)
        return pd.Series(list(out))

    return buckets_of(vec_col_name)


def _planes_values_sql(max_bits: int) -> str:
    """The SHA-256-derived ±1 hyperplanes as inline DuckDB VALUES rows
    ``(t, j, w, plane)`` up to ``max_bits`` per table — the adaptive bit
    count then filters ``j < bits`` (plane (t, j) never changes, so the
    literal block is a superset of every bit count's matrix)."""
    planes = _plane_matrix(max_bits)
    rows = []
    for t in range(LSH_TABLES):
        for j in range(max_bits):
            arr = ", ".join("1.0" if v > 0 else "-1.0"
                            for v in planes[t * max_bits + j])
            rows.append(f"({t}, {j}, {1 << j}, [{arr}]::DOUBLE[])")
    return ",\n      ".join(rows)


def _lsh_oracle() -> str:
    """DuckDB replica of the LSH pipeline: the ±1 hyperplanes are inlined
    as literal DOUBLE[] rows (same SHA-256-derived matrix the pandas UDF
    uses), the occupancy-targeted bit count is recomputed from COUNT(*)
    via the same integer thresholds (lsh_bits_sql), bucket bits from
    list_dot_product signs (bit-exact vs the UDF's ordered fold), then
    the identical candidate-union + exact cosine re-rank."""
    return f"""
    WITH planes(t, j, w, plane) AS (VALUES
      {_planes_values_sql(LSH_MAX_BITS)}),
    {lsh_bits_sql()},
    buck AS (
      SELECT e.vec_id, p.t,
             CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                                                 p.plane) > 0
                      THEN p.w ELSE 0 END) AS BIGINT) AS b
      FROM embeddings e, planes p, nb
      WHERE p.j < nb.bits
      GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT qa.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM buck qa JOIN buck ca
        ON qa.t = ca.t AND qa.b = ca.b AND ca.vec_id <> qa.vec_id
      WHERE qa.vec_id < {N_QUERIES}),
    scored AS (
      SELECT c.query_id, c.neighbor_id, {_ORACLE_COS} AS cos
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.query_id
      JOIN embeddings b ON b.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored) t
    WHERE rank <= {TOP_K}
    """


@register("ann_lsh_bucketed", category="similarity", bench=True,
          oracle=_lsh_oracle())
def ann_lsh_bucketed(spark, sf_dir):
    """Approximate NN via multi-table sign-random-projection LSH
    (LSH_TABLES tables × LSH_BITS bits): candidates share a bucket in any
    table, then exact cosine re-ranks within the candidate set. The scale
    path: the join is on bucket keys (occupancy ≈ N/2^bits per table)
    instead of a cross product; recall is bounded by L·p^b collision
    probability — low on these *uniform random* test vectors by
    construction, high on clustered real embeddings. The hyperplane
    projections fold in dimension order (see lsh_buckets), so the DuckDB
    oracle recomputes the identical buckets, candidates, and ranking.
    The bit count is occupancy-targeted (lsh_bits_for over the corpus
    row count, read from the parquet footer): occupancy per
    (table, bucket) stays ~LSH_TARGET_OCCUPANCY as N grows, so candidate
    pairs stay flat-per-row instead of growing linearly per bucket.
    Output: (query_id, neighbor_id, rank, cos)."""
    e = table(spark, sf_dir, "embeddings")
    bits = lsh_bits_for(table_rows(sf_dir, "embeddings"))
    sig = (e.select("vec_id", "embedding",
                    F.posexplode(lsh_buckets("embedding", bits)),
                    F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                    .alias("norm"))
           .select("vec_id", "embedding", "norm",
                   F.struct(F.col("pos").alias("t"),
                            F.col("col").alias("b")).alias("tb")))
    q = (sig.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec"),
                 F.col("norm").alias("qnorm"), "tb"))
    c = sig.select(F.col("vec_id").alias("neighbor_id"),
                   F.col("embedding").alias("cvec"),
                   F.col("norm").alias("cnorm"), "tb")
    # candidate = shares a bucket in ANY table. The cosine is computed
    # BEFORE the multi-table dedup: the dropDuplicates exchange then
    # ships (query_id, neighbor_id, cos) — ~24 bytes/row — instead of
    # both 64-dim double vectors (~1 KB/row, a 40x wider shuffle; guide
    # §2.3 "shuffle keys and metadata instead of payloads"). A pair hit
    # in k tables now scores k times in the map stage instead of once
    # post-dedup, but k ≤ LSH_TABLES and the dot product is a fused
    # codegen loop — per-pair CPU is far below the per-row exchange
    # cost it replaces. Duplicate rows of a pair carry bit-identical cos
    # (same vectors, same fold order), so dropDuplicates keeping an
    # arbitrary row is value-identical to scoring after the dedup.
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
    return (c.join(F.broadcast(q), ["tb"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", cos.alias("cos"))
            .dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cos"))


# ------------------------------------------------------ IVF ANN (scale alt)

IVF_NLIST_MIN = 16   # centroid floor for tiny corpora
IVF_NPROBE = 3       # probed cells per query


def ivf_nlist(n_rows: int) -> int:
    """Coarse-quantizer cell count as a FUNCTION of corpus size:
    ``nlist = max(16, ceil(√N))`` — the standard IVF sizing (FAISS
    guidelines recommend nlist ∝ √N). Expected cell size is then ~√N,
    so within-cell pair generation is Σ|cell|² ≈ N·√N, not the
    N²/const a fixed nlist degenerates to as the corpus grows (the
    round-4 scale wart: nlist pinned at 16 meant ~6 %-of-corpus cells
    forever). The matching oracle-side expression is
    :data:`_NLIST_SQL`; both fold sqrt over the same COUNT so cells
    reproduce bit-for-bit."""
    import math
    return max(IVF_NLIST_MIN, math.ceil(math.sqrt(n_rows)))


#: DuckDB replica of :func:`ivf_nlist` — a scalar subquery so the static
#: oracle SQL derives nlist from the very corpus it scans.
_NLIST_SQL = (f"(SELECT GREATEST({IVF_NLIST_MIN}, "
              "CAST(ceil(sqrt(COUNT(*))) AS BIGINT)) FROM embeddings)")


def _ivf_centroids(e, n_rows: int):
    """(cell, centroid, centnorm) — the deterministic hash-seeded coarse
    centers (the vectors with the nlist smallest portable hashes) of the
    ``n_rows``-row corpus ``e``. Tiny (nlist×dim) → always broadcast;
    the top-nlist-by-hash sample is a cheap metadata-size top-k, not a
    full sort (plan-locked by
    test_pushdown.py::test_seed_topk_never_globally_sorts_corpus). The
    callers read ``n_rows`` from the parquet footer
    (``operators.table_rows``), so sizing nlist runs no job."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    nlist = ivf_nlist(n_rows)
    wc = Window.orderBy("h", "vec_id")
    return (e.select("vec_id", "embedding",
                     F.expr(spark_h60("cast(vec_id as string)")).alias("h"))
            .withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") <= nlist)
            .select((F.col("rn") - 1).alias("cell"),
                    F.col("embedding").alias("centroid"),
                    F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                    .alias("centnorm")))


def _ivf_scored_cells(e, cents):
    """(vec_id, embedding, norm, cell, ccos, rn) — every vector scored
    against the coarse centroids ``cents`` (the hash-seeded
    ``_ivf_centroids``, or vector_ivf_pq_topk's trained ones), rn
    ordering cells by cosine per vector (rn=1 is the vector's home
    cell). Shared by IVF search and clustered semantic dedup."""
    v = e.select("vec_id", "embedding",
                 F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                 .alias("norm"))
    ccos = (dot(F.col("embedding"), F.col("centroid"))
            / (F.col("norm") * F.col("centnorm")))
    wassign = Window.partitionBy("vec_id").orderBy(F.col("ccos").desc(),
                                                   "cell")
    return (v.crossJoin(F.broadcast(cents))
            .select("vec_id", "embedding", "norm", "cell",
                    ccos.alias("ccos"))
            .withColumn("rn", F.row_number().over(wassign)))


def _ivf_oracle() -> str:
    """DuckDB replica of the IVF pipeline: same hash-seeded centroid
    selection, same argmax-cosine assignment, same probe + re-rank."""
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    ccos = """
     list_dot_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) /
     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      sqrt(list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[])))"""
    return f"""
    WITH cents AS (
      SELECT rn - 1 AS cell, embedding AS centroid FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                 ORDER BY {duck_h60("CAST(vec_id AS VARCHAR)")}, vec_id)
                 AS rn
        FROM embeddings) t
      WHERE rn <= {_NLIST_SQL}),
    ccos AS (
      SELECT e.vec_id, c.cell, {ccos} AS ccos
      FROM embeddings e, cents c),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cell) AS rn
        FROM ccos) t WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cell) AS rn
        FROM ccos WHERE vec_id < {N_QUERIES}) t
      WHERE rn <= {IVF_NPROBE}),
    scored AS (
      SELECT p.query_id, s.vec_id AS neighbor_id, {_ORACLE_COS} AS cos
      FROM probes p
      JOIN assign s ON s.cell = p.cell AND s.vec_id <> p.query_id
      JOIN embeddings a ON a.vec_id = p.query_id
      JOIN embeddings b ON b.vec_id = s.vec_id)
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored) t
    WHERE rank <= {TOP_K}
    """


@register("ann_ivf_coarse", category="similarity", oracle=_ivf_oracle(),
          allow_bnlj=True)  # vectors × 16 broadcast IVF centroids
def ann_ivf_coarse(spark, sf_dir):
    """IVF-style approximate NN: a coarse quantizer partitions vectors
    into nlist cells; each query probes its nprobe nearest centroids and
    re-ranks exactly within those cells only.

    The other classic ANN scale path next to LSH: candidate count ≈
    N·nprobe/nlist instead of N. Coarse centers are a deterministic
    hash-seeded sample of the corpus (the vectors with the NLIST smallest
    portable hashes — the random-center quantizer FAISS offers as k-means
    init; iterating k-means on the sample is an orthogonal refinement
    that would make centers engine-private again). Centers are tiny
    (nlist×dim) → broadcast; assignment is one map-side argmax-cosine
    pass; every cosine is an ordered fold, so the DuckDB oracle
    reproduces cells, probes, and ranking bit-for-bit.
    Output: (query_id, neighbor_id, rank, cos)."""
    e = table(spark, sf_dir, "embeddings")
    scored_cells = _ivf_scored_cells(
        e, _ivf_centroids(e, table_rows(sf_dir, "embeddings")))
    assigned = (scored_cells.filter(F.col("rn") == 1)
                .select("vec_id", "embedding", "norm", "cell"))
    probes = (scored_cells.filter((F.col("vec_id") < N_QUERIES)
                                  & (F.col("rn") <= IVF_NPROBE))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("qvec"),
                      F.col("norm").alias("qnorm"), "cell"))

    c = assigned.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("cvec"),
                        F.col("norm").alias("cnorm"), "cell")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               "neighbor_id")
    cos = dot(F.col("qvec"), F.col("cvec")) / (F.col("qnorm") * F.col("cnorm"))
    return (c.join(F.broadcast(probes), ["cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cos"))


# --------------------------------------------------------------- semdedup

#: within-cluster duplicate threshold — same cosine bar as the embedding
#: dedup family (dedup.EMB_DEDUP_TAU; duplicated constant keeps the
#: modules decoupled)
SEMDEDUP_TAU = 0.35


def _semdedup_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    ccos = """
     list_dot_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) /
     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      sqrt(list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[])))"""
    return f"""
    WITH cents AS (
      SELECT rn - 1 AS cell, embedding AS centroid FROM (
        SELECT vec_id, embedding,
               ROW_NUMBER() OVER (
                 ORDER BY {duck_h60("CAST(vec_id AS VARCHAR)")}, vec_id)
                 AS rn
        FROM embeddings) t
      WHERE rn <= {_NLIST_SQL}),
    ccos AS (
      SELECT e.vec_id, c.cell, {ccos} AS ccos
      FROM embeddings e, cents c),
    assign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cell) AS rn
        FROM ccos) t WHERE rn = 1),
    pairs AS (
      SELECT * FROM (
        SELECT sa.vec_id AS va, sb.vec_id AS vb,
               CAST(sa.cell AS BIGINT) AS cell, {_ORACLE_COS} AS cos
        FROM assign sa
        JOIN assign sb ON sa.cell = sb.cell AND sa.vec_id < sb.vec_id
        JOIN embeddings a ON a.vec_id = sa.vec_id
        JOIN embeddings b ON b.vec_id = sb.vec_id) t
      WHERE cos >= {SEMDEDUP_TAU})
    SELECT vb AS dup_id, va AS keeper_id, cell, cos FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vb ORDER BY va) AS rn
      FROM pairs) t
    WHERE rn = 1
    """


@register("dedup_semantic_clustered", category="dedup",
          oracle=_semdedup_oracle(),
          allow_bnlj=True)  # same bounded centroid broadcast (_ivf_scored_cells)
def dedup_semantic_clustered(spark, sf_dir):
    """SemDeDup-style semantic deduplication (Abbas et al. '23): cluster
    the corpus with the IVF coarse quantizer, then find cosine-≥-τ
    duplicates ONLY within each cluster; each duplicate maps to the
    smallest-id keeper it duplicates. The third embedding-dedup scale
    path next to the exact per-label anchor and sign-LSH blocking:
    clustering bounds the pair space at Σ|cell|² ≈ N²/nlist, and with
    ``nlist = max(16, ⌈√N⌉)`` (:func:`ivf_nlist`) that is N·√N — cells
    stay ~√N rows as the corpus grows instead of a fixed fraction of
    it. Cluster assignment is one broadcast argmax pass — no shuffle of
    the vectors beyond the per-cell equi-join.

    Every cosine is an ordered fold, so the DuckDB oracle reproduces
    cells, pairs, and keeper choice bit-for-bit.
    Output: (dup_id, keeper_id, cell, cos)."""
    e = table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids(e, table_rows(sf_dir, "embeddings"))
    assigned = (_ivf_scored_cells(e, cents).filter(F.col("rn") == 1)
                .select("vec_id", "embedding", "norm",
                        F.col("cell").cast("long").alias("cell")))
    a = assigned.select(F.col("vec_id").alias("va"),
                        F.col("embedding").alias("avec"),
                        F.col("norm").alias("anorm"), "cell")
    b = assigned.select(F.col("vec_id").alias("vb"),
                        F.col("embedding").alias("bvec"),
                        F.col("norm").alias("bnorm"), "cell")
    cos = dot(F.col("avec"), F.col("bvec")) / (F.col("anorm") * F.col("bnorm"))
    pairs = (a.join(b, ["cell"])
             .filter(F.col("va") < F.col("vb"))
             .select("va", "vb", "cell", cos.alias("cos"))
             .filter(F.col("cos") >= SEMDEDUP_TAU))
    w = Window.partitionBy("vb").orderBy("va")
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("vb").alias("dup_id"),
                    F.col("va").alias("keeper_id"), "cell", "cos"))


# --------------------------------------------------- vector compression

#: Johnson-Lindenstrauss sign matrix (Achlioptas '01: ±1 entries preserve
#: pairwise distances in expectation with k projections). Deterministic
#: md5-seeded signs so Spark and the DuckDB oracle share the literal
#: matrix; 64 -> 8 projected dims.
RP_OUT_DIMS = 8
RP_IN_DIMS = 64
RP_SIGNS: list[list[int]] = [
    [1 if int(hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest(), 16) & 1
     else -1 for i in range(RP_IN_DIMS)]
    for j in range(RP_OUT_DIMS)]


def _rp_oracle() -> str:
    cols = ",\n           ".join(
        "list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(f'{s}.0' for s in RP_SIGNS[j])}]::DOUBLE[]) AS p{j}"
        for j in range(RP_OUT_DIMS))
    return f"SELECT vec_id, label,\n           {cols}\n    FROM embeddings"


@register("embedding_dim_reduce", category="similarity",
          oracle=_rp_oracle())
def embedding_dim_reduce(spark, sf_dir):
    """Random-projection dimensionality reduction (Johnson-Lindenstrauss
    with an Achlioptas ±1 sign matrix): 64-dim float embeddings down to
    8 projected doubles — the standard pre-ANN compression when index
    memory, not recall, is the constraint. Each projection is the
    ordered-fold :func:`dot` against a broadcast-literal sign row, so
    the result is BIT-exact vs DuckDB's ``list_dot_product`` (both fold
    in index order — the same convention that makes ann_cosine_topk
    hash-match). Pure projection: no shuffle, no Python, the sign
    matrix is 512 int literals folded into the codegen plan.

    Scale: O(rows x 64 x 8) fused multiply-adds inside whole-stage
    codegen; at 100 TB this is scan-bound, exactly what a projection
    should be."""
    e = table(spark, sf_dir, "embeddings")
    signs = [F.array(*[F.lit(float(s)) for s in row]) for row in RP_SIGNS]
    return e.select(
        "vec_id", "label",
        *[dot(F.col("embedding"), signs[j]).alias(f"p{j}")
          for j in range(RP_OUT_DIMS)])


@register(
    "embedding_quantize_int8",
    category="similarity",
    oracle="""
    WITH ex AS (
      SELECT vec_id, UNNEST(embedding) AS v,
             generate_subscripts(embedding, 1) AS i
      FROM embeddings),
    stats AS (
      SELECT i, MIN(v) AS mn, MAX(v) AS mx FROM ex GROUP BY i),
    coded AS (
      SELECT vec_id, i,
             CAST(CASE WHEN mx = mn THEN 0 ELSE
               FLOOR((CAST(v AS DOUBLE) - CAST(mn AS DOUBLE)) * 254
                     / (CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE)) + 0.5)
               - 127 END AS INT) AS code
      FROM ex JOIN stats USING (i))
    SELECT vec_id,
           ARRAY_TO_STRING(LIST(code ORDER BY i), ',') AS codes_csv,
           CAST(SUM(ABS(code)) AS BIGINT) AS l1
    FROM coded GROUP BY vec_id
    """)
def embedding_quantize_int8(spark, sf_dir):
    """Scalar int8 quantization — the vector-database memory lever (4x
    smaller than float32, the form FAISS/pgvector store for SQ8): each
    dimension min-max-scaled to [-127, 127] with a per-dimension global
    range. Two tiny aggregates (64 (min, max) pairs) broadcast back onto
    an explode/rebuild; the quantized code arithmetic is the identical
    double expression on both engines, so codes hash-match bit-for-bit
    (FLOOR(x + 0.5) fixed-point rounding — no banker's-rounding
    divergence).

    Scale: stats are a 64-row broadcast; the code build is one explode +
    map-side broadcast join + one groupBy(vec_id) rebuild — a single
    shuffle of integer rows. The flat-dim explode form (not a 64-literal
    struct) keeps the plan independent of dimensionality."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("vec_id", F.posexplode("embedding").alias("i0", "v")) \
          .select("vec_id", (F.col("i0") + 1).alias("i"), "v")
    stats = ex.groupBy("i").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0)).otherwise(
        F.floor((F.col("v").cast("double") - F.col("mn").cast("double"))
                * 254 / (F.col("mx").cast("double")
                         - F.col("mn").cast("double")) + 0.5)
        - 127).cast("int")
    coded = ex.join(F.broadcast(stats), "i").select("vec_id", "i",
                                                    code.alias("code"))
    codes = (F.array_sort(F.collect_list(F.struct("i", "code")))
             .getField("code"))
    return (coded.groupBy("vec_id")
            .agg(F.concat_ws(",", codes.cast("array<string>"))
                 .alias("codes_csv"),
                 F.sum(F.abs("code")).cast("long").alias("l1")))


# ------------------------------------------------------- product quant

PQ_M = 8        # subspaces (64-dim embedding -> 8 sub-vectors of 8 dims)
PQ_SUBDIM = 8
PQ_K = 16       # codebook entries per subspace (4-bit codes here; real
                # deployments use 256 — a capacity knob, not a scale knob)
PQ_TRAIN_N = 256   # Lloyd training sample: the hash-top rows (bounded)
PQ_ITERS = 2       # Lloyd refinement iterations over the sample
IVF_COARSE_ITERS = 1   # coarse-quantizer Lloyd iterations (one pass over
#                        the sample already turns sampled members into
#                        cell means, which is what residual encoding
#                        needs; the second pass measurably buys nothing
#                        at 4-bit PQ and doubles the trainer's stages)
FX_SCALE = 1099511627776.0   # 2^40 fixed-point for deterministic means


def _trained_codebook(vecs, m=None, subdim=None, k=None, train_n=None,
                      iters=None):
    """(j, k, cvec: array<double>) — Lloyd-refined PQ codebooks, the
    k-means "train" stage FAISS runs before encoding (Jégou '11 §II;
    sample-seeded codebooks alone quantize too coarsely for the ADC
    ranking to track true neighbors). Deterministic at any parallelism:

    - the training sample is the hash-top ``PQ_TRAIN_N`` rows and the
      initial centers the hash-top ``PQ_K`` of the SAME ordering (i.e.
      iteration 0 is exactly the old sampled codebook);
    - each Lloyd mean is computed in 2^40 fixed-point — floor to
      BIGINT, exact integer SUM (order-free), then one double division
      chain — so the refined centers are identical regardless of
      partitioning/fold order AND bit-reproducible by the DuckDB
      oracle (``_train_ctes``);
    - assignment ties break on (dist, k) like every argmin in this
      family; empty clusters keep their previous center.

    Scale: train-on-sample is the FAISS discipline at 100 TB too —
    every frame here is ≤ train_n·m rows regardless of corpus size, so
    the whole trainer is broadcast-bounded. ``vecs`` must be
    (vec_id, v: array<double>).

    With ``m=1, subdim=dim, k=nlist`` this same machinery trains the
    COARSE quantizer (spherical-ish k-means over whole vectors) — the
    other half of the IVFADC recipe Jégou '11 §V assumes."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    m = PQ_M if m is None else m
    subdim = PQ_SUBDIM if subdim is None else subdim
    k = PQ_K if k is None else k
    train_n = PQ_TRAIN_N if train_n is None else train_n
    iters = PQ_ITERS if iters is None else iters
    w = Window.orderBy("h", "vec_id")
    slices = F.array(*[F.slice("v", j * subdim + 1, subdim)
                       for j in range(m)])
    sample = (vecs.select(
        "vec_id", "v",
        F.expr(spark_h60("cast(vec_id as string)")).alias("h"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= train_n))
    subs = sample.select("rn", F.posexplode(slices).alias("j", "sub"))
    cents = (subs.filter(F.col("rn") <= k)
             .select("j", (F.col("rn") - 1).alias("k"),
                     F.col("sub").alias("cvec")))
    for _ in range(iters):
        # map-side Lloyd assignment: the current codebook collapses to
        # ONE broadcast row and the per-(sample, subspace) argmin is a
        # pure expression — no join, no keyed aggregate over the full
        # sample per iteration (at scale the sample shuffle was the
        # trainer's only non-constant stage). Same dist form and the
        # same (dist, k) tie-break (array_min over (d, k) structs) as
        # the oracle's ROW_NUMBER ORDER BY dist, k.
        book1 = (cents.groupBy()
                 .agg(F.array_sort(
                     F.collect_list(F.struct("j", "k", "cvec")))
                     .alias("s")))

        def ent(ki):
            return F.element_at("s", F.col("j") * k + ki + 1)["cvec"]

        amin = F.array_min(F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda ki: F.struct(
                (dot(F.col("sub"), F.col("sub"))
                 - 2 * dot(F.col("sub"), ent(ki))
                 + dot(ent(ki), ent(ki))).alias("d"),
                ki.alias("k"))))["k"]
        assigned = (subs.crossJoin(F.broadcast(book1))
                    .select("j", amin.alias("k"), "sub"))
        means = (assigned
                 .select("j", "k", F.posexplode("sub").alias("dim", "x"))
                 .groupBy("j", "k", "dim")
                 .agg(F.sum(F.floor(F.col("x") * FX_SCALE)).alias("s"),
                      F.count("*").alias("n"))
                 .select("j", "k", "dim",
                         ((F.col("s").cast("double") / FX_SCALE)
                          / F.col("n").cast("double")).alias("val")))
        refined = (means.groupBy("j", "k")
                   .agg(F.array_sort(
                       F.collect_list(F.struct("dim", "val"))).alias("a"))
                   .select("j", "k",
                           F.transform("a", lambda e: e["val"])
                           .alias("ncvec")))
        cents = (cents.join(refined, ["j", "k"], "left")
                 .select("j", "k",
                         F.coalesce("ncvec", "cvec").alias("cvec")))
    return cents


def _cached_codebook(spark, sf_dir, tag, params, build):
    """Train-once, serve-many: a trained codebook is a deterministic
    function of (corpus, trainer params), so like any real ANN
    deployment the index artifact is MAINTAINED, not recomputed per
    query — FAISS trains once at build time and serves millions of
    queries. The trained (j, k, cvec) frame is persisted as parquet
    under a scratch path keyed by corpus path + every trainer
    parameter (so e.g. the quality gate's iters=0 probe never reads an
    iters=2 book); doubles round-trip parquet bit-exactly, so cached
    and freshly-trained books are indistinguishable to the oracles.
    Same build-once discipline as ``scratch_catalog`` (the projection
    warehouse); a crashed write has no _SUCCESS marker and retrains.
    The artifact is read through ``table``, which declares the schema
    its part files record instead of inferring it with a Spark job."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5((os.path.abspath(sf_dir) + "|" + repr(params))
                      .encode()).hexdigest()[:16]
    name = f"cstore_cb_{tag}_{key}"
    path = os.path.join(tempfile.gettempdir(), f"{name}.parquet")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        df = build()
        if tag not in CORPUS_SIZED_TAGS:
            # codebooks are model-sized: one file reads in one task
            df = df.coalesce(1)
        # offline-build broadcast budget: the artifact write's plan can
        # broadcast a side whose subtree is itself expensive at build
        # scale (the ivfcodes encode at 200k vectors starved the
        # broadcast future past the 300 s interactive default and
        # killed the g10 build). Index training is the train-once
        # OFFLINE path — give it an offline timeout, restore after.
        with conf_override(spark, {"spark.sql.broadcastTimeout": "3600"}):
            df.write.mode("overwrite").parquet(path)
        TRAINED_TAGS.append(tag)
    return table(spark, tempfile.gettempdir(), name)


#: artifact tags whose frame is corpus-sized (one row per vector) —
#: written with the plan's own partitioning, never coalesce(1)
CORPUS_SIZED_TAGS = frozenset({"ivfcodes"})


#: codebook tags trained (artifact cache miss) since import — lets the
#: bench distinguish a warm host ([] appended) from a fresh one where the
#: one-time offline build actually ran
TRAINED_TAGS: list = []


def ensure_index_artifacts(spark, sf_dir):
    """Force the maintained ANN index artifacts to exist without running
    any serving query: train-once, serve-many (a real deployment builds
    the FAISS-style index OFFLINE and serves millions of queries against
    it — ``_cached_codebook``). Constructing the two builder plans
    triggers any missing codebook training writes eagerly ("rawpq" for
    the PQ family, "ivfc" + "ivfpq" for IVFADC); the queries themselves
    never execute. Returns the tags that actually trained ([] on a host
    that already has the artifacts). bench.py calls this during bring-up
    and reports the wall cost as its own ``index_build_sec`` metric, so
    the per-query cold/warm numbers measure query SERVING rather than a
    one-time build only a fresh host pays. The builders run through the
    registry, so training runs under their declared settings, and
    ``release_build_caches`` drops the last builder's persists and
    restores those settings."""
    from cstore_fdw_spark.operators import REGISTRY, release_build_caches

    n0 = len(TRAINED_TAGS)
    # trains "rawpq" on a miss
    REGISTRY["vector_quantize_pq"].builder(spark, sf_dir)
    # trains "ivfc" + "ivfpq"
    REGISTRY["vector_ivf_pq_topk"].builder(spark, sf_dir)
    release_build_caches()
    return TRAINED_TAGS[n0:]


def _train_ctes(src: str, pfx: str, m=None, subdim=None, k=None,
                train_n=None, iters=None) -> str:
    """DuckDB replica of :func:`_trained_codebook` over CTE
    ``src(vec_id, v)``: same hash-top sample and seeds, same Lloyd
    iterations with the same 2^40 fixed-point means and the same
    ``(CAST(SUM(...) AS DOUBLE) / scale) / count`` division chain, same
    (dist, k) assignment tie-break, same empty-cluster COALESCE. The
    final codebook CTE is ``{pfx}cents{PQ_ITERS}(j, k, cvec)``.
    ``k``/``train_n`` may be SQL expressions (the coarse trainer sizes
    them from the corpus via the nlist scalar subquery)."""
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    m = PQ_M if m is None else m
    subdim = PQ_SUBDIM if subdim is None else subdim
    k = PQ_K if k is None else k
    train_n = PQ_TRAIN_N if train_n is None else train_n
    iters = PQ_ITERS if iters is None else iters
    js = ", ".join(f"({j})" for j in range(m))
    ds = ", ".join(f"({d})" for d in range(subdim))
    parts = [f"""{pfx}sample AS (
      SELECT rn, v FROM (
        SELECT vec_id, v,
               ROW_NUMBER() OVER (
                 ORDER BY {duck_h60("CAST(vec_id AS VARCHAR)")}, vec_id)
                 AS rn
        FROM {src}) t
      WHERE rn <= {train_n}),
    {pfx}subs AS (
      SELECT rn, j,
             list_slice(v, j * {subdim} + 1,
                        j * {subdim} + {subdim}) AS sub
      FROM {pfx}sample, (VALUES {js}) sub(j)),
    {pfx}cents0 AS (
      SELECT j, rn - 1 AS k, sub AS cvec
      FROM {pfx}subs WHERE rn <= {k})"""]
    for it in range(1, iters + 1):
        prev = f"{pfx}cents{it - 1}"
        parts.append(f"""{pfx}assign{it} AS (
      SELECT j, k, sub FROM (
        SELECT s.rn, s.j, s.sub, c.k,
               ROW_NUMBER() OVER (PARTITION BY s.rn, s.j ORDER BY
                 list_dot_product(s.sub, s.sub)
                   - 2 * list_dot_product(s.sub, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), c.k) AS arn
        FROM {pfx}subs s JOIN {prev} c USING (j)) t
      WHERE arn = 1),
    {pfx}mean{it} AS (
      SELECT j, k, d.dim,
             (CAST(SUM(CAST(FLOOR(sub[d.dim + 1] * {FX_SCALE!r})
                            AS BIGINT)) AS DOUBLE) / {FX_SCALE!r})
               / CAST(COUNT(*) AS DOUBLE) AS val
      FROM {pfx}assign{it}, (VALUES {ds}) d(dim)
      GROUP BY 1, 2, 3),
    {pfx}cents{it} AS (
      SELECT c.j, c.k, COALESCE(n.cvec, c.cvec) AS cvec
      FROM {prev} c LEFT JOIN (
        SELECT j, k, LIST(val ORDER BY dim) AS cvec
        FROM {pfx}mean{it} GROUP BY 1, 2) n USING (j, k))""")
    return ",\n    ".join(parts)


def _pq_ctes() -> str:
    """Shared DuckDB CTE chain replicating the PQ assignment: same
    Lloyd-trained codebooks (``_train_ctes``), same squared-L2
    expression shape ((v·v − 2·v·c) + c·c, left-assoc), same (dist, k)
    argmin tie-break. Ends with ``best(vec_id, j, k, dist, rn)``."""
    js = ", ".join(f"({j})" for j in range(PQ_M))
    return f"""pqv AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_train_ctes("pqv", "pq")},
    cents AS (
      SELECT j, k, cvec FROM pqcents{PQ_ITERS}),
    subs AS (
      SELECT vec_id, j,
             list_slice(embedding, j * {PQ_SUBDIM} + 1,
                        j * {PQ_SUBDIM} + {PQ_SUBDIM})::DOUBLE[] AS sub
      FROM embeddings, (VALUES {js}) sub(j)),
    dists AS (
      SELECT s.vec_id, s.j, c.k,
             list_dot_product(s.sub, s.sub)
               - 2 * list_dot_product(s.sub, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS dist
      FROM subs s JOIN cents c USING (j)),
    best AS (
      SELECT vec_id, j, k, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                ORDER BY dist, k) AS rn
      FROM dists)"""


def _pq_oracle() -> str:
    return f"""
    WITH {_pq_ctes()}
    SELECT vec_id,
           ARRAY_TO_STRING(LIST(k ORDER BY j), ',') AS codes_csv,
           list_reduce(LIST(dist ORDER BY j), (a, b) -> a + b) AS q_err
    FROM best WHERE rn = 1 GROUP BY vec_id
    """


@register(
    "vector_quantize_pq",
    category="similarity",
    allow_bnlj=True,  # one-row broadcast codebook in the Lloyd trainer
    oracle=_pq_oracle())
def vector_quantize_pq(spark, sf_dir):
    """Product quantization (Jégou et al. '11 — the FAISS ``PQ8``
    family): each 64-dim embedding splits into 8 sub-vectors; each
    sub-vector is assigned the nearest of 16 per-subspace codebook
    entries by squared L2 (deterministic (dist, k) tie-break), giving an
    8-code word per vector plus the exact quantization error —
    completing the vector-compression ladder next to SQ8
    (embedding_quantize_int8) and JL projection (embedding_dim_reduce).
    Codebooks are Lloyd-trained on the hash-top sample
    (``_trained_codebook`` — deterministic fixed-point means, so the
    oracle reproduces them bit-for-bit); distances use the ordered-fold
    double convention shared with the whole similarity family.

    Scale: ONE corpus shuffle (the trainer is sample-bounded). The
    codebook is 8×16 tiny rows — broadcast; sub-vector explode +
    distance scoring is a map-side projection; the argmin AND the code
    assembly fold into a single groupBy(vec_id) aggregate (the
    per-(vec, subspace) argmin is extracted from one sorted (j, dist,
    k) array, so no separate window-by-(vec, j) shuffle precedes the
    rollup)."""
    e = table(spark, sf_dir, "embeddings")
    slices = F.array(*[F.slice("embedding", j * PQ_SUBDIM + 1, PQ_SUBDIM)
                       for j in range(PQ_M)])
    cents = _cached_codebook(
        spark, sf_dir, "rawpq",
        ("rawpq", PQ_M, PQ_SUBDIM, PQ_K, PQ_TRAIN_N, PQ_ITERS, FX_SCALE),
        lambda: _trained_codebook(e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double"))
            .alias("v"))))
    subs = e.select("vec_id", F.posexplode(slices).alias("j", "sub"))
    dist = (dot(F.col("sub"), F.col("sub"))
            - 2 * dot(F.col("sub"), F.col("cvec"))
            + dot(F.col("cvec"), F.col("cvec")))
    scored = (subs.join(F.broadcast(cents), "j")
              .select("vec_id", "j", "k", dist.alias("dist")))
    agg = (scored.groupBy("vec_id")
           .agg(F.array_sort(F.collect_list(F.struct("j", "dist", "k")))
                .alias("arr")))
    best = F.expr(
        f"transform(sequence(0, {PQ_M - 1}),"
        " jj -> filter(arr, s -> s.j = jj)[0])")
    return agg.select(
        "vec_id",
        F.concat_ws(",", F.expr(
            f"transform(sequence(0, {PQ_M - 1}),"
            " jj -> cast(filter(arr, s -> s.j = jj)[0].k as string))"))
        .alias("codes_csv"),
        F.aggregate(best.getField("dist"), F.lit(0.0),
                    lambda a, x: a + x).alias("q_err"))


def _pq_adc_oracle() -> str:
    js = ", ".join(f"({j})" for j in range(PQ_M))
    return f"""
    WITH {_pq_ctes()},
    codes AS (SELECT vec_id, j, k FROM best WHERE rn = 1),
    qsubs AS (
      SELECT vec_id AS query_id, j,
             list_slice(embedding, j * {PQ_SUBDIM} + 1,
                        j * {PQ_SUBDIM} + {PQ_SUBDIM})::DOUBLE[] AS sub
      FROM embeddings, (VALUES {js}) sub(j)
      WHERE vec_id < {N_QUERIES}),
    dtab AS (
      SELECT q.query_id, q.j, c.k,
             list_dot_product(q.sub, q.sub)
               - 2 * list_dot_product(q.sub, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS d
      FROM qsubs q JOIN cents c USING (j)),
    adc AS (
      SELECT t.query_id, c.vec_id AS neighbor_id,
             list_reduce(LIST(t.d ORDER BY t.j), (a, b) -> a + b) AS adc
      FROM codes c JOIN dtab t ON t.j = c.j AND t.k = c.k
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, neighbor_id) AS BIGINT)
               AS rank
      FROM adc WHERE neighbor_id <> query_id)
    SELECT query_id, neighbor_id, rank, adc
    FROM ranked WHERE rank <= {TOP_K}
    """


@register(
    "vector_pq_adc_topk",
    category="similarity",
    allow_bnlj=True,  # one-row broadcast codebook in the Lloyd trainer
    oracle=_pq_adc_oracle())
def vector_pq_adc_topk(spark, sf_dir):
    """ADC top-k over PQ codes (Jégou '11 §III.B — asymmetric distance
    computation, the search half of the PQ story): each query
    pre-computes a tiny per-subspace distance table against the
    codebooks; a candidate's approximate distance is then just the SUM
    of 8 table lookups selected by its stored code — no candidate
    embedding is ever touched at query time, which is the entire point
    of PQ at 100 TB (the index is 8 bytes/vector + one broadcast
    table).

    Scale: the distance tables are |queries|×8×16 rows — broadcast; the
    code assignment reuses the PQ pipeline's single argmin aggregate
    (min(struct(dist, k)) per (vec, subspace) — same (dist, k)
    tie-break as the oracle's window); the lookup join is map-side and
    the per-(query, candidate) sum folds in stored-j order so the
    double ADC values hash-match DuckDB's list_reduce. Codebooks are
    Lloyd-trained (``_trained_codebook``) — same trainer as the full
    IVFADC, minus the coarse stage."""
    e = table(spark, sf_dir, "embeddings")
    slices = F.array(*[F.slice("embedding", j * PQ_SUBDIM + 1, PQ_SUBDIM)
                       for j in range(PQ_M)])
    cents = _cached_codebook(
        spark, sf_dir, "rawpq",
        ("rawpq", PQ_M, PQ_SUBDIM, PQ_K, PQ_TRAIN_N, PQ_ITERS, FX_SCALE),
        lambda: _trained_codebook(e.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double"))
            .alias("v"))))
    dist = (dot(F.col("sub"), F.col("sub"))
            - 2 * dot(F.col("sub"), F.col("cvec"))
            + dot(F.col("cvec"), F.col("cvec")))
    subs = e.select("vec_id", F.posexplode(slices).alias("j", "sub"))
    codes = (subs.join(F.broadcast(cents), "j")
             .select("vec_id", "j", "k", dist.alias("dist"))
             .groupBy("vec_id", "j")
             .agg(F.min(F.struct("dist", "k")).alias("m"))
             .select("vec_id", "j", F.col("m.k").alias("k")))
    qsubs = (e.filter(F.col("vec_id") < N_QUERIES)
             .select(F.col("vec_id").alias("query_id"),
                     F.posexplode(slices).alias("j", "sub")))
    dtab = (qsubs.join(F.broadcast(cents), "j")
            .select("query_id", "j", "k", dist.alias("d")))
    adc_arr = F.array_sort(F.collect_list(F.struct("j", "d")))
    adc = (codes.join(F.broadcast(dtab), ["j", "k"])
           .groupBy("query_id", "vec_id")
           .agg(F.aggregate(adc_arr.getField("d"), F.lit(0.0),
                            lambda a, x: a + x).alias("adc"))
           .filter(F.col("vec_id") != F.col("query_id")))
    wr = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    return (adc.withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "rank", "adc"))


#: Spark settings of the IVFADC queries: adaptive execution off. AQE runs
#: every exchange as its own job to re-plan on real sizes, which is pure
#: sequential overhead for a pipeline of dozens of bounded mini-stages
#: (trainer chains on an artifact miss, one-row codebook aggregates,
#: per-query probe tables): ~9 s static vs ~12-18 s adaptive at sf0.1.
#: Safe because the only corpus-sized shuffles are hash-partitioned by
#: vec_id (no skew for AQE to fix) and every join side is an explicit
#: broadcast() (no plan for AQE to switch).
_STATIC_PLANNING = {"spark.sql.adaptive.enabled": "false"}


def _ivf_pq_oracle() -> str:
    """Pure-ADC ranking over the shared IVFADC CTE chain."""
    return f"""
    WITH {_ivf_pq_ctes()}
    SELECT query_id, neighbor_id, rank, adc FROM (
      SELECT query_id, neighbor_id, adc,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc, neighbor_id) AS BIGINT)
               AS rank
      FROM adc) t
    WHERE rank <= {TOP_K}
    """


def _ivf_pq_ctes() -> str:
    """IVFADC-with-residuals replica: the IVF CTE chain (i*) assigns
    home cells and probes; every vector's RESIDUAL v − centroid(home
    cell) is PQ-encoded against residual-seeded codebooks; per-(query,
    probed cell) residual distance tables feed the ADC sums, which rank
    only candidates whose home cell is probed. All element-wise
    arithmetic is double (list_zip + subtract), matching Spark's
    zip_with double fold bit-for-bit."""
    js = ", ".join(f"({j})" for j in range(PQ_M))
    iccos = """
     list_dot_product(e.embedding::DOUBLE[], c.centroid::DOUBLE[]) /
     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      sqrt(list_dot_product(c.centroid::DOUBLE[], c.centroid::DOUBLE[])))"""
    return f"""iv AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_train_ctes("iv", "ic", m=1, subdim=PQ_M * PQ_SUBDIM, k=_NLIST_SQL,
                 train_n=f"GREATEST({PQ_TRAIN_N}, 8 * {_NLIST_SQL})",
                 iters=IVF_COARSE_ITERS)},
    icents AS (
      SELECT k AS cell, cvec AS centroid FROM iccents{IVF_COARSE_ITERS}),
    iccos AS (
      SELECT e.vec_id, c.cell, {iccos} AS ccos
      FROM embeddings e, icents c),
    iassign AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cell) AS rn
        FROM iccos) t WHERE rn = 1),
    iprobes AS (
      SELECT vec_id AS query_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cell) AS rn
        FROM iccos WHERE vec_id < {N_QUERIES}) t
      WHERE rn <= {IVF_NPROBE}),
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(
               list_zip(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),
               x -> x[1] - x[2]) AS resid
      FROM iassign a
      JOIN embeddings e USING (vec_id)
      JOIN icents c USING (cell)),
    rv AS (SELECT vec_id, resid AS v FROM resid),
    {_train_ctes("rv", "rq")},
    rcents AS (SELECT j, k, cvec FROM rqcents{PQ_ITERS}),
    rsubs AS (
      SELECT vec_id, cell, j,
             list_slice(resid, j * {PQ_SUBDIM} + 1,
                        j * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
      FROM resid, (VALUES {js}) sub(j)),
    codes AS (
      SELECT vec_id, cell, j, k FROM (
        SELECT s.vec_id, s.cell, s.j, c.k,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
                 list_dot_product(s.sub, s.sub)
                   - 2 * list_dot_product(s.sub, c.cvec)
                   + list_dot_product(c.cvec, c.cvec), c.k) AS rn
        FROM rsubs s JOIN rcents c USING (j)) t
      WHERE rn = 1),
    qresid AS (
      SELECT p.query_id, p.cell,
             list_transform(
               list_zip(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),
               x -> x[1] - x[2]) AS resid
      FROM iprobes p
      JOIN embeddings e ON e.vec_id = p.query_id
      JOIN icents c USING (cell)),
    qsubs AS (
      SELECT query_id, cell, j,
             list_slice(resid, j * {PQ_SUBDIM} + 1,
                        j * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sub
      FROM qresid, (VALUES {js}) sub(j)),
    dtab AS (
      SELECT q.query_id, q.cell, q.j, c.k,
             list_dot_product(q.sub, q.sub)
               - 2 * list_dot_product(q.sub, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS d
      FROM qsubs q JOIN rcents c USING (j)),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, p.cell
      FROM iprobes p JOIN iassign a ON a.cell = p.cell
      WHERE a.vec_id <> p.query_id),
    adc AS (
      SELECT n.query_id, n.neighbor_id,
             list_reduce(LIST(t.d ORDER BY t.j), (a, b) -> a + b) AS adc
      FROM cand n
      JOIN codes c ON c.vec_id = n.neighbor_id
      JOIN dtab t ON t.query_id = n.query_id AND t.cell = n.cell
                 AND t.j = c.j AND t.k = c.k
      GROUP BY 1, 2)"""


@register(
    "vector_ivf_pq_topk",
    category="similarity",
    bench=True,
    allow_bnlj=True,  # bounded centroid broadcast via _ivf_scored_cells
    confs=_STATIC_PLANNING,
    oracle=_ivf_pq_oracle())
def vector_ivf_pq_topk(spark, sf_dir):
    """IVFADC with residual encoding (Jégou '11 §V — the composed FAISS
    ``IVFx,PQy`` index as actually shipped, Algorithm eq. 17): the
    coarse quantizer prunes the candidate set to the query's nprobe
    cells, and ONLY those candidates are scored — by ADC table lookups
    over their stored PQ codes, never their embeddings. What is PQ-coded
    is the RESIDUAL v − centroid(home cell), not the raw vector: the
    coarse quantizer removes the cell mean so the product codebooks
    spend their 16 entries/subspace on the much-lower-energy remainder
    (the recall refinement §V motivates). At query time the query's
    residual is recomputed PER PROBED CELL (q − centroid(cell)), so each
    cell gets its own 8×16 distance table — candidates and query are
    compared in the same residual frame. Search cost drops twice:
    N·nprobe/nlist candidates instead of N (IVF), and 8 table lookups
    per candidate instead of a 64-dim dot product (PQ).

    Both quantizers are TRAINED (``_trained_codebook``: Lloyd over the
    hash-top sample, deterministic fixed-point means) — §V assumes
    k-means centroids, and against sampled members the residuals carry
    two vectors' noise (test_ann_ladder_recall_quality_gate measures
    the distortion flip).

    Scale: the trainers are sample-bounded; the coarse-center and
    residual-codebook tables are tiny (nlist×dim, 16 seed residuals)
    → broadcast; residuals are one map-side zip_with after a broadcast
    centroid join — never a shuffle; code assignment is a pure per-row
    expression against the one-row broadcast codebook (no explode, no
    keyed aggregate); the probe list and per-(query, cell) 8×16
    distance tables broadcast; the ADC sum is 8 array lookups per
    candidate row, folded in one projection — the only corpus-sized
    shuffles are the home-cell window and the final per-query rank.
    The hash-seeded top-k keeps its rank-limit pushdown
    (test_seed_topk_never_globally_sorts_corpus covers this registry
    entry's seeding shape via the shared helpers).
    Output: (query_id, neighbor_id, rank, adc)."""
    adc = _ivfadc_adc(spark, sf_dir)
    wr = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "adc"))


def _ivfadc_adc(spark, sf_dir):
    """The shared IVFADC pipeline: (query_id, neighbor_id, adc) for
    every candidate in the query's probed cells, scored by residual-PQ
    asymmetric distance (see ``vector_ivf_pq_topk`` for the full
    story; ``vector_ivf_pq_rerank_topk`` consumes the same frame as a
    shortlist generator). Registered callers run it under
    ``_STATIC_PLANNING``."""
    e = table(spark, sf_dir, "embeddings")
    # --- coarse stage: home cell per vector, probed cells per query.
    # Unlike the sampled-centroid operators (ann_ivf_coarse,
    # dedup_semantic_clustered), the PQ pipeline TRAINS its coarse
    # quantizer (m=1 Lloyd over whole vectors — Jégou '11 §V assumes
    # k-means coarse centroids): residuals against a sampled member
    # carry TWO vectors' noise and quantize worse than raw vectors,
    # against the trained cell mean they are genuinely low-energy
    # (asserted by test_ann_ladder_recall_quality_gate's distortion
    # comparison).
    dim = PQ_M * PQ_SUBDIM
    nlist = ivf_nlist(table_rows(sf_dir, "embeddings"))
    # train-once, serve-many: the trained coarse centroids are a
    # maintained index artifact (_cached_codebook); on a cache hit this
    # is a tiny parquet read, nlist rows
    coarse_params = ("coarse", dim, nlist, max(PQ_TRAIN_N, 8 * nlist),
                     IVF_COARSE_ITERS, FX_SCALE)
    cents_ivf = _cached_codebook(
        spark, sf_dir, "ivfc", coarse_params,
        lambda: (_trained_codebook(
            e.select("vec_id",
                     F.transform("embedding", lambda x: x.cast("double"))
                     .alias("v")),
            m=1, subdim=dim, k=nlist,
            train_n=max(PQ_TRAIN_N, 8 * nlist), iters=IVF_COARSE_ITERS)
            .select(F.col("k").alias("cell"),
                    F.col("cvec").alias("centroid"),
                    F.sqrt(dot(F.col("cvec"), F.col("cvec")))
                    .alias("centnorm"))))
    # scored_cells feeds assigned (every vector's home cell) and probes
    # (the query rows' nprobe cells). NOT persisted deliberately: the
    # probes branch's vec_id < N_QUERIES predicate pushes below the
    # per-vector window, so its recompute scores only the query rows,
    # while a persist would materialize the full N×nlist scored set —
    # a scale-killer at 100 TB for a branch that reads 5 vectors.
    scored_cells = _ivf_scored_cells(e, cents_ivf)
    assigned = (scored_cells.filter(F.col("rn") == 1)
                .select("vec_id", "embedding", "cell"))
    probes = (scored_cells.filter((F.col("vec_id") < N_QUERIES)
                                  & (F.col("rn") <= IVF_NPROBE))
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").alias("qvec"), "cell"))
    # --- residuals: v − centroid(home cell), map-side broadcast join.
    # Persisted: resid feeds BOTH the codebook seeding and the code
    # assignment, and the persist bounds the corpus-wide centroid
    # scoring (the expensive N×nlist stage upstream) to exactly one
    # execution — the r9 +85% bench regression was this subtree
    # re-running per consumer. Same bounded-residency pattern as the
    # BPE vocab cache (text.py); released at the next builder call.
    sub_vec = (lambda a, b: F.zip_with(
        a, b, lambda x, y: x.cast("double") - y.cast("double")))
    resid = track_cache(
        (assigned
         .join(F.broadcast(cents_ivf.select("cell", "centroid")), "cell")
         .select("vec_id", "cell",
                 sub_vec(F.col("embedding"), F.col("centroid"))
                 .alias("resid"))).persist())

    # --- PQ stage over residuals, fully map-side: the Lloyd-trained
    #     residual codebook (``_trained_codebook`` — sample-bounded,
    #     deterministic) collapses to ONE row that broadcasts to every
    #     consumer, so per-vector code assignment and the per-(query,
    #     cell) distance tables are pure expressions — no sub-vector
    #     explode, no codes groupBy, no per-(j, k) join. Arithmetic
    #     keeps the family conventions (expanded v·v − 2·v·c + c·c via
    #     the ordered-fold ``dot``, (dist, k) argmin tie-break,
    #     j-ascending ADC fold from 0.0) so the DuckDB oracle
    #     hash-matches.
    pq_params = ("residpq", PQ_M, PQ_SUBDIM, PQ_K, PQ_TRAIN_N,
                 PQ_ITERS, FX_SCALE) + coarse_params
    cents_pq = _cached_codebook(
        spark, sf_dir, "ivfpq", pq_params,
        lambda: _trained_codebook(
            resid.select("vec_id", F.col("resid").alias("v"))))
    # ``book``: per subspace j, the 16 codebook entries with their
    # ||c||² hoisted — seed-side constants computed once in the one-row
    # aggregate, not per corpus row (HOF expressions are interpreted,
    # so per-row arithmetic is the constant that matters).
    ent = (lambda j, k: F.element_at("s", j * PQ_K + k + 1)["cvec"])
    seeds1 = (cents_pq
              .groupBy()
              .agg(F.array_sort(F.collect_list(
                  F.struct("j", "k", "cvec"))).alias("s"))
              .select(F.transform(
                  F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                  lambda j: F.transform(
                      F.sequence(F.lit(0), F.lit(PQ_K - 1)),
                      lambda k: F.struct(
                          ent(j, k).alias("cv"),
                          dot(ent(j, k), ent(j, k)).alias("cvcv"))))
                  .alias("book")))

    def dists_j(j):
        # v·v − 2·v·c + c·c with the same left-assoc grouping and
        # ordered-fold dots as the exploded r9 form (c·c reused from
        # the broadcast book — same bits, just not recomputed per row).
        # ``j`` is a COLUMN (from transform over sequence(0, PQ_M-1)):
        # one parameterized expression tree instead of PQ_M copies —
        # the analysis/optimization of these trees happens on the
        # driver per run and dominated wall time in the unrolled form.
        sub = F.slice("resid", j * PQ_SUBDIM + 1, F.lit(PQ_SUBDIM))
        return F.transform(
            F.element_at("book", j + 1),
            lambda ent: dot(sub, sub) - 2 * dot(sub, ent["cv"])
            + ent["cvcv"])

    def code_j(j):
        # min over (dist, k) structs = smallest k on ties, matching the
        # exploded form's min(struct(dist, k)); dists computed ONCE
        arr = F.zip_with(
            dists_j(j), F.sequence(F.lit(0), F.lit(PQ_K - 1)),
            lambda d, k: F.struct(d.alias("d"), k.alias("k")))
        return F.array_min(arr)["k"].cast("int")

    jseq = F.sequence(F.lit(0), F.lit(PQ_M - 1))
    # --- the INDEX itself is the third maintained artifact: in a
    # deployed IVFADC the per-vector (home cell, PQ codes) pair IS the
    # index FAISS stores on disk — recomputing it per query repeats the
    # N×nlist coarse assignment, the one corpus-superlinear stage
    # (measured: the r12 scale-slope bench flagged exactly this,
    # SCALE_MEASURED.md). Cached, serving reads N (vec_id, cell,
    # codes<8 x int>) rows linearly and scores only probed candidates;
    # the assignment cost moves into index_build_sec where every real
    # deployment pays it. Codes are a deterministic function of
    # (corpus, both trained codebooks) — pq_params embeds the coarse
    # params, so any trainer change re-keys the codes too; ints
    # round-trip parquet exactly, so the oracles can't tell.
    coded = _cached_codebook(
        spark, sf_dir, "ivfcodes", ("codes",) + pq_params,
        lambda: (resid.crossJoin(F.broadcast(seeds1))
                 .select("vec_id", "cell",
                         F.transform(jseq, code_j).alias("codes"))))
    qresid = (probes
              .join(F.broadcast(cents_ivf.select("cell", "centroid")),
                    "cell")
              .select("query_id", "cell",
                      sub_vec(F.col("qvec"), F.col("centroid"))
                      .alias("resid")))
    dtab = (qresid.crossJoin(F.broadcast(seeds1))
            .select("query_id", "cell",
                    F.transform(jseq, dists_j).alias("dtab")))

    # --- ADC over pruned candidates only: 8 lookups per (query, cand),
    #     looked up in the probed cell's own residual frame
    cand = (coded
            .join(F.broadcast(probes.select("query_id", "cell")), "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cell", "codes"))
    # j-ascending left-assoc fold from 0.0 — the same summation order
    # as the exploded form's sorted collect_list aggregate
    adc_val = F.aggregate(
        jseq, F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.element_at("dtab", j + 1),
            F.element_at("codes", j + 1) + F.lit(1)))
    return (cand.join(F.broadcast(dtab), ["query_id", "cell"])
            .select("query_id", "neighbor_id", adc_val.alias("adc")))


PQ_RERANK_R = 32   # ADC shortlist size fed to the exact re-rank


def _ivf_pq_rerank_oracle() -> str:
    """Shortlist by ADC over the shared IVFADC chain, then exact-cosine
    re-rank (same cosine form as ann_cosine_topk's oracle)."""
    return f"""
    WITH {_ivf_pq_ctes()},
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc, neighbor_id) AS srn
        FROM adc) t
      WHERE srn <= {PQ_RERANK_R}),
    rer AS (
      SELECT s.query_id, s.neighbor_id, {_ORACLE_COS} AS cos
      FROM short s
      JOIN embeddings a ON a.vec_id = s.query_id
      JOIN embeddings b ON b.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT query_id, neighbor_id, cos,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id)
                  AS BIGINT) AS rank
      FROM rer) t
    WHERE rank <= {TOP_K}
    """


@register(
    "vector_ivf_pq_rerank_topk",
    category="similarity",
    allow_bnlj=True,  # bounded centroid broadcast via _ivf_scored_cells
    confs=_STATIC_PLANNING,
    oracle=_ivf_pq_rerank_oracle())
def vector_ivf_pq_rerank_topk(spark, sf_dir):
    """IVFADC+R (Jégou '11 §VII — the re-ranked variant every
    production deployment runs): the IVFADC pipeline produces an ADC
    SHORTLIST of ``PQ_RERANK_R`` candidates per query, and only those
    are re-scored with exact cosine against the raw embeddings. This
    is the recipe that turns 4-bit-code ADC (whose absolute ranking is
    quantization-noise-limited — see
    test_ann_ladder_recall_quality_gate for the measured numbers) into
    high-recall search: ADC only has to get the true neighbors into
    the top-R, not into the top-k.

    Scale: everything up to the shortlist is the broadcast-bounded
    IVFADC plan; the shortlist is |queries|·R rows → broadcast back
    against the corpus for a map-side embedding fetch (the ONLY stage
    that touches raw vectors at query time, and it reads exactly R
    per query); the re-rank window is per-query over R rows.
    Output: (query_id, neighbor_id, rank, cos)."""
    e = table(spark, sf_dir, "embeddings")
    ws = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    short = (_ivfadc_adc(spark, sf_dir)
             .withColumn("srn", F.row_number().over(ws))
             .filter(F.col("srn") <= PQ_RERANK_R)
             .select("query_id", "neighbor_id"))
    qv = (e.filter(F.col("vec_id") < N_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qvec")))
    rer = (e.select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("nvec"))
           .join(F.broadcast(short), "neighbor_id")
           .join(F.broadcast(qv), "query_id")
           .select("query_id", "neighbor_id",
                   cosine(F.col("qvec"), F.col("nvec")).alias("cos")))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                "neighbor_id")
    return (rer.withColumn("rank", F.row_number().over(wr).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cos"))


KNN_K = 5


@register(
    "vector_knn_label_vote",
    category="similarity",
    allow_bnlj=True,  # corpus × broadcast 5-query set (same anchor shape
    #                   as ann_cosine_topk; rank stage swaps for any ANN)
    oracle=f"""
    WITH ranked AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY {_ORACLE_COS} DESC, b.vec_id) AS BIGINT)
               AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}),
    votes AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM ranked WHERE rank <= {KNN_K}
      GROUP BY query_id, label)
    SELECT query_id, label AS predicted_label, votes FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY votes DESC, label) AS rn
      FROM votes) t
    WHERE rn = 1
    """)
def vector_knn_label_vote(spark, sf_dir):
    """k-NN label voting (the evaluation primitive behind every
    embedding-quality probe — 'do my vectors cluster by label?'): each
    query vector takes the majority label of its {KNN_K} nearest
    neighbors by exact cosine, ties broken deterministically (vote
    count, then lexicographic label). Composes the brute-force rank
    stage with a second bounded aggregate — at scale the rank stage
    swaps for any of the registered ANN paths (LSH / IVF / IVFADC)
    without touching the vote; the vote itself handles k·|queries|
    rows. Output: (query_id, predicted_label, votes)."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.sqrt(dot(F.col("embedding"), F.col("embedding"))).alias("qnorm"))
    c = e.select(F.col("vec_id").alias("neighbor_id"), "label",
                 F.col("embedding").alias("cvec"),
                 F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                 .alias("cnorm"))
    cos = (dot(F.col("qvec"), F.col("cvec"))
           / (F.col("qnorm") * F.col("cnorm")))
    wr = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                                "neighbor_id")
    ranked = (c.join(F.broadcast(q),
                     F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id", "label",
                      cos.alias("cos"))
              .withColumn("rank", F.row_number().over(wr))
              .filter(F.col("rank") <= KNN_K))
    wv = Window.partitionBy("query_id").orderBy(F.col("votes").desc(),
                                                "label")
    return (ranked.groupBy("query_id", "label")
            .agg(F.count(F.lit(1)).alias("votes"))
            .withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("query_id", F.col("label").alias("predicted_label"),
                    "votes"))


_ORACLE_DOT = ("list_dot_product(a.embedding::DOUBLE[], "
               "b.embedding::DOUBLE[])")


@register(
    "vector_mips_topk",
    category="similarity",
    allow_bnlj=True,  # corpus x broadcast |queries|-row query set
    oracle=f"""
    SELECT query_id, neighbor_id, rank, score FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             {_ORACLE_DOT} AS score,
             CAST(ROW_NUMBER() OVER (PARTITION BY a.vec_id
                    ORDER BY {_ORACLE_DOT} DESC, b.vec_id) AS BIGINT)
               AS rank
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}) t
    WHERE rank <= {TOP_K}
    """)
def vector_mips_topk(spark, sf_dir):
    """Maximum-inner-product top-k (MIPS) — the retrieval scoring of
    dot-product-trained dual encoders (DPR/DSSM-style retrievers, where
    score = <q, d> and the norm CARRIES signal): unlike cosine, a
    high-norm candidate legitimately outranks a closer-by-angle
    low-norm one, so this is a distinct operator, not a cosine variant.
    Brute-force exact baseline matching ann_cosine_topk's shape: the
    query set broadcasts, the candidate corpus streams once, the only
    shuffle carries k·|queries| result rows. No norms are computed at
    all (MIPS needs none — half the per-pair flops of cosine).

    Scale: embarrassingly parallel scan, same as ann_cosine_topk; for
    sublinear MIPS the standard reduction (Shrivastava & Li '14,
    asymmetric LSH) appends sqrt(M²−||x||²) to candidates and 0 to
    queries, turning MIPS into cosine search — after which the
    registered ann_lsh_bucketed / IVFADC paths apply unchanged. The
    raw double dot product hash-matches DuckDB's list_dot_product
    (identical left-fold order), the same exactness contract as the
    cosine family."""
    e = table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("cvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               "neighbor_id")
    return (c.join(F.broadcast(q),
                   F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    dot(F.col("qvec"), F.col("cvec")).alias("score"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "score"))


def _alsh_plane_matrix():
    """(LSH_TABLES·LSH_BITS, DIM+1) ±1 matrix for the norm-AUGMENTED
    space — its own SHA-256 tag, deterministic like _plane_matrix."""
    import numpy as np
    rows = []
    for t in range(LSH_TABLES):
        for j in range(LSH_BITS):
            rows.append([1.0 if hashlib.sha256(
                f"cstore-alsh-{t}-{j}-{k}".encode()).digest()[0] & 1
                else -1.0 for k in range(DIM + 1)])
    return np.asarray(rows)


def alsh_buckets(vec_col_name: str, extra_col_name: str) -> Column:
    """Sign-LSH buckets in the augmented space [x; extra]: the fold
    runs over the DIM real dimensions in order (bit-exact vs DuckDB's
    list_dot_product), then the augmented coordinate's term is added
    LAST — the oracle mirrors exactly that order."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def buckets_of(vecs, extras):
        import numpy as np
        import pandas as pd
        planes = _alsh_plane_matrix()                   # (L*B, DIM+1)
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        acc = np.zeros((len(V), planes.shape[0]))
        for k in range(DIM):                            # ordered fold
            acc += V[:, k:k + 1] * planes[None, :, k]
        acc += (extras.to_numpy().astype(np.float64)[:, None]
                * planes[None, :, DIM])                 # aug dim LAST
        bits = (acc > 0).reshape(len(V), LSH_TABLES, LSH_BITS)
        weights = (1 << np.arange(LSH_BITS)).astype(np.int64)
        return pd.Series(list(bits @ weights))

    return buckets_of(vec_col_name, extra_col_name)


def _alsh_oracle() -> str:
    """DuckDB replica of the ALSH-MIPS pipeline: augmented-space ±1
    planes inlined as (64-dim list, extra-coordinate scalar) literals,
    candidate extra = sqrt(maxsq − ‖x‖²) recomputed from the same
    ordered folds, query extra = 0, then exact inner-product re-rank."""
    planes = _alsh_plane_matrix()
    rows = []
    for t in range(LSH_TABLES):
        for j in range(LSH_BITS):
            p = planes[t * LSH_BITS + j]
            arr = ", ".join("1.0" if v > 0 else "-1.0" for v in p[:DIM])
            pex = "1.0" if p[DIM] > 0 else "-1.0"
            rows.append(f"({t}, {1 << j}, [{arr}]::DOUBLE[], {pex})")
    vals = ",\n      ".join(rows)
    return f"""
    WITH planes(t, w, plane, pex) AS (VALUES
      {vals}),
    norms AS (
      SELECT vec_id, list_dot_product(embedding::DOUBLE[],
                                      embedding::DOUBLE[]) AS nsq
      FROM embeddings),
    mx AS (SELECT MAX(nsq) AS maxsq FROM norms),
    cbuck AS (
      SELECT e.vec_id, p.t,
             CAST(SUM(CASE WHEN
                    list_dot_product(e.embedding::DOUBLE[], p.plane)
                    + sqrt(mx.maxsq - n.nsq) * p.pex > 0
                  THEN p.w ELSE 0 END) AS BIGINT) AS b
      FROM embeddings e
      JOIN norms n ON n.vec_id = e.vec_id, mx, planes p
      GROUP BY 1, 2),
    qbuck AS (
      SELECT e.vec_id, p.t,
             CAST(SUM(CASE WHEN
                    list_dot_product(e.embedding::DOUBLE[], p.plane)
                    + 0.0 * p.pex > 0
                  THEN p.w ELSE 0 END) AS BIGINT) AS b
      FROM embeddings e, planes p
      WHERE e.vec_id < {N_QUERIES}
      GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM qbuck q JOIN cbuck c ON q.t = c.t AND q.b = c.b
       AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id, {_ORACLE_DOT} AS score
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.query_id
      JOIN embeddings b ON b.vec_id = c.neighbor_id)
    SELECT query_id, neighbor_id, rank, score FROM (
      SELECT query_id, neighbor_id, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY score DESC, neighbor_id) AS BIGINT) AS rank
      FROM scored) t
    WHERE rank <= {TOP_K}
    """


@register("vector_alsh_mips_topk", category="similarity",
          allow_bnlj=True,  # 1-row maxsq anchor broadcast
          oracle=_alsh_oracle())
def vector_alsh_mips_topk(spark, sf_dir):
    """SUBLINEAR MIPS — the asymmetric-LSH reduction the
    vector_mips_topk docstring points to, made real (Neyshabur &
    Srebro '15 'Simple LSH'; Shrivastava & Li '14 introduced the
    asymmetric trick; Bachrach '14 the norm-completion transform):
    candidates augment to [x; sqrt(M² − ‖x‖²)] (M² = corpus max
    squared norm, so every augmented candidate has norm exactly M) and
    queries to [q; 0] — then cosine in the augmented space ranks by
    inner product, so plain sign-LSH buckets over augmented vectors
    give MIPS candidates. Shared-bucket candidates re-rank by the
    EXACT inner product.

    Bit-exactness: augmented projections fold the 64 real dims in
    order (the lsh_buckets discipline) and add the augmented term
    last; the extra coordinate sqrt(maxsq − nsq) is the same double
    arithmetic in both engines (exactly 0 for the max-norm vector);
    the one-row maxsq anchor broadcasts (the trending-ratio 1-row
    pattern — never a corpus shuffle). At 100 TB: bucket join
    occupancy ≈ N/2^bits per table like ann_lsh_bucketed, norms and
    buckets are one corpus pass, and M is a metadata-grade aggregate
    a real deployment snapshots with its index artifacts.
    Output: (query_id, neighbor_id, rank, score)."""
    e = table(spark, sf_dir, "embeddings")
    nsq = dot(F.col("embedding"), F.col("embedding"))
    norms = e.select("vec_id", "embedding", nsq.alias("nsq"))
    mx = norms.agg(F.max("nsq").alias("maxsq"))
    csig = (norms.crossJoin(F.broadcast(mx))
            .withColumn("extra", F.sqrt(F.col("maxsq") - F.col("nsq")))
            .select("vec_id", "embedding",
                    F.posexplode(alsh_buckets("embedding", "extra")))
            .select(F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("cvec"),
                    F.struct(F.col("pos").alias("t"),
                             F.col("col").alias("b")).alias("tb")))
    qsig = (e.filter(F.col("vec_id") < N_QUERIES)
            .withColumn("extra", F.lit(0.0))
            .select("vec_id", "embedding",
                    F.posexplode(alsh_buckets("embedding", "extra")))
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("qvec"),
                    F.struct(F.col("pos").alias("t"),
                             F.col("col").alias("b")).alias("tb")))
    cand = (csig.join(F.broadcast(qsig), ["tb"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", "qvec", "cvec")
            .dropDuplicates(["query_id", "neighbor_id"]))
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               "neighbor_id")
    return (cand.select("query_id", "neighbor_id",
                        dot(F.col("qvec"), F.col("cvec")).alias("score"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "score"))


@register(
    "vector_label_centroid_sums",
    category="similarity",
    oracle="""
    SELECT label, CAST(i - 1 AS BIGINT) AS dim,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000)
                         AS BIGINT)) AS BIGINT) AS sum_fx,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000)
                         AS BIGINT)) // COUNT(*) AS BIGINT) AS mean_fx
    FROM embeddings,
         LATERAL UNNEST(generate_series(1, len(embedding))) u(i)
    GROUP BY label, i ORDER BY label, dim
    """)
def vector_label_centroid_sums(spark, sf_dir):
    """Per-label class centroids in fixed point — the primitive behind
    SemDeDup cluster assignment, k-NN prototype baselines, and
    embedding-drift monitoring (compare per-class centroids across
    snapshots). Raw float SUMs are order-nondeterministic across
    partitions (the engine's no-raw-float-aggregates rule), so each
    coordinate quantizes to round(e·10^6) FIRST — integer sums are
    then associative/commutative and the centroid (sum_fx DIV n) is
    exact, hash-matching DuckDB bit for bit; both engines' integer
    division truncates toward zero (negative coordinates included).

    Scale: ONE posexplode + map-side-combined groupBy — the shuffle
    carries |labels|·DIM partial rows per task, not the corpus; output
    is |labels|·DIM rows (bounded). Quantization bias is < 0.5e-6 per
    coordinate — negligible against embedding noise, and consistent
    across snapshots because the quantizer is fixed."""
    e = table(spark, sf_dir, "embeddings")
    ex = e.select("label", F.posexplode("embedding"))
    fx = F.expr("CAST(ROUND(CAST(col AS DOUBLE) * 1000000) AS BIGINT)")
    return (ex.select("label", F.col("pos").cast("long").alias("dim"),
                      fx.alias("efx"))
            .groupBy("label", "dim")
            .agg(F.sum("efx").alias("sum_fx"),
                 F.count(F.lit(1)).cast("long").alias("n_vecs"))
            .select("label", "dim", "sum_fx", "n_vecs",
                    F.expr("sum_fx DIV n_vecs").cast("long")
                    .alias("mean_fx"))
            .orderBy("label", "dim"))


def _recall_oracle() -> str:
    from cstore_fdw_spark.operators import REGISTRY

    exact = REGISTRY["ann_cosine_topk"].oracle
    approx = REGISTRY["ann_lsh_bucketed"].oracle
    return f"""
    WITH exact_k AS ({exact}),
    approx_k AS ({approx})
    SELECT e.query_id, COUNT(a.neighbor_id) AS hits,
           CAST({TOP_K} AS BIGINT) AS k,
           COUNT(a.neighbor_id) * 1000 // {TOP_K} AS recall_permille
    FROM exact_k e LEFT JOIN approx_k a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """


@register(
    "vector_recall_at_k",
    category="similarity",
    allow_bnlj=True,  # inherits ann_cosine_topk's broadcast query set
    oracle=_recall_oracle())
def vector_recall_at_k(spark, sf_dir):
    """Retrieval-quality EVALUATION as a first-class operator:
    recall@k of the LSH-bucketed index against exact brute-force
    cosine, per query — the number every ANN deployment monitors
    before trusting an index (the quality gates in
    tests/test_properties.py run the same comparison as assertions;
    this puts it under the oracle as a queryable, schedulable job).
    Composes the two REGISTERED operators literally — the exact tier
    and the approximate tier — and scores the overlap of their top-k
    sets in exact integer permille; the oracle nests both operators'
    own oracle texts, so the eval can never drift from what the
    operators actually return.

    Scale: both inputs are |queries| x k frames (the expensive work
    happens inside the composed operators, each already
    broadcast/bucket-bounded); the overlap join and the per-query
    rollup are model-sized. Run it on a sampled query set in
    production — the shape is unchanged."""
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id")
    approx = ann_lsh_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an"))
    return (exact.join(approx, (F.col("query_id") == F.col("aq"))
                       & (F.col("neighbor_id") == F.col("an")), "left")
            .groupBy("query_id")
            .agg(F.count("an").alias("hits"))
            .select("query_id", "hits",
                    F.lit(TOP_K).cast("long").alias("k"),
                    F.expr(f"hits * 1000 DIV {TOP_K}").cast("long")
                    .alias("recall_permille"))
            .orderBy("query_id"))


#: PCA power iteration: fixed-point scale, iterations, int64 headroom
#: (|c| <= 2*FX, |w| <= FX, |d'| <= |c|*FX*DIM/FX = 2*FX*DIM, so
#: u <= 2*FX * 2*FX*DIM * N -- promote to DECIMAL beyond N ~ 3e4)
PCA_FX = 10 ** 6
PCA_ITERS = 3


def _pca_oracle() -> str:
    c_cte = f"""
    ex AS (
      SELECT vec_id,
             UNNEST(RANGE(1, LEN(embedding) + 1)) AS j,
             CAST(ROUND(UNNEST(embedding::DOUBLE[]) * {PCA_FX})
                  AS BIGINT) AS s
      FROM embeddings),
    mu AS (SELECT j, SUM(s) // COUNT(*) AS m FROM ex GROUP BY j),
    c AS (SELECT ex.vec_id, ex.j, ex.s - mu.m AS cv
          FROM ex JOIN mu ON mu.j = ex.j),
    w0 AS (SELECT j, CAST({PCA_FX} AS BIGINT) AS w FROM mu)"""
    its = []
    for k in range(1, PCA_ITERS + 1):
        its.append(f"""
    d{k} AS (
      SELECT c.vec_id, SUM(c.cv * w{k - 1}.w) // {PCA_FX} AS dp
      FROM c JOIN w{k - 1} ON w{k - 1}.j = c.j GROUP BY c.vec_id),
    u{k} AS (
      SELECT c.j, SUM(c.cv * d{k}.dp) AS u
      FROM c JOIN d{k} ON d{k}.vec_id = c.vec_id GROUP BY c.j),
    m{k} AS (SELECT GREATEST(MAX(ABS(u)) // {PCA_FX}, 1) AS m FROM u{k}),
    w{k} AS (SELECT j, u // m AS w FROM u{k} CROSS JOIN m{k})""")
    return f"""
    WITH {c_cte},{",".join(its)}
    SELECT j - 1 AS dim, CAST(w AS BIGINT) AS loading_fx
    FROM w{PCA_ITERS} ORDER BY dim
    """


@register(
    "vector_pca_power_iteration",
    category="similarity",
    oracle=_pca_oracle())
def vector_pca_power_iteration(spark, sf_dir):
    """Top principal direction of the MEAN-CENTERED embedding corpus by
    three power iterations — the spectral primitive under whitening,
    spectral dedup (SemDeDup's cluster axes), and outlier-direction
    monitoring. Everything is exact BIGINT fixed point so the DuckDB
    oracle hash-matches bit for bit: vectors scale to 10^6
    (Round-parity), the per-dimension mean subtracts as a truncated
    integer division, each iteration computes d_i = (c_i . w) div 10^6
    per row and u = sum_i c_i * d_i per dimension, then renormalizes by
    the max-|u| octave (u div max(|u| div 10^6, 1)) — data-dependent
    scaling with no IEEE division anywhere (the pagerank/Holt
    discipline applied to linear algebra). Initialized from the
    all-ones direction; 3 iterations give the demo-grade dominant
    direction, the iteration count is a constant, not a tuning.

    Scale: the centered corpus is built ONCE (rows carry the full
    64-array, persisted via track_cache); each iteration is (a) a PURE
    MAP-SIDE dot against the 64-literal w (zip_with fold — no join, no
    shuffle), and (b) ONE map-side-combined 64-key aggregate for u.
    The only driver traffic is the 64-row w vector per iteration (the
    vocabulary-bounded collect tier). At 100 TB: 3 corpus passes, each
    one aggregate shuffle carrying 64 partials per task — the textbook
    distributed power iteration."""
    e = table(spark, sf_dir, "embeddings")
    ex = (spread(e).select(
        "vec_id",
        F.expr(f"transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)"
               f" * {PCA_FX}) AS BIGINT))").alias("sv")))
    mu_rows = (ex.select(F.posexplode("sv").alias("j", "s"))
               .groupBy("j")
               .agg(F.expr("SUM(s) DIV COUNT(*)").alias("m"))
               .orderBy("j").collect())           # 64 rows
    mu = [int(r.m) for r in mu_rows]
    dim = len(mu)
    mu_arr = F.array(*[F.lit(v) for v in mu])
    c = track_cache(
        ex.select("vec_id",
                  F.zip_with("sv", mu_arr, lambda x, y: x - y)
                  .alias("cv")).persist())
    c.count()

    w = [PCA_FX] * dim
    for _ in range(PCA_ITERS):
        w_arr = F.array(*[F.lit(int(v)) for v in w])
        d = F.expr(f"aggregate(zip_with(cv, {_sql_long_array(w)}, "
                   f"(x, y) -> x * y), CAST(0 AS BIGINT), "
                   f"(acc, t) -> acc + t) DIV {PCA_FX}")
        u_rows = (c.select(d.alias("dp"), F.posexplode("cv")
                           .alias("j", "cval"))
                  .groupBy("j")
                  .agg(F.sum(F.col("cval") * F.col("dp")).alias("u"))
                  .orderBy("j").collect())        # 64 rows
        u = [int(r.u) for r in u_rows]
        m = max(max(abs(v) for v in u) // PCA_FX, 1)
        w = [holt_like_tdiv(v, m) for v in u]
    out = [(j, int(w[j])) for j in range(dim)]
    return spark.createDataFrame(out, "dim int, loading_fx long") \
        .select(F.col("dim").cast("long").alias("dim"), "loading_fx") \
        .orderBy("dim")


def _sql_long_array(vals) -> str:
    return ("array(" + ", ".join(f"CAST({int(v)} AS BIGINT)"
                                 for v in vals) + ")")


def holt_like_tdiv(a: int, n: int) -> int:
    """Truncate-toward-zero division matching Spark DIV / DuckDB //
    (python // floors; u goes negative on anti-aligned dimensions)."""
    q = abs(a) // n
    return q if a >= 0 else -q


# --------------------------------------------- binary (sign-bit) quantize

_HAMMING_K = 5

_DUCK_PACK_LO = ("list_sum(list_transform(generate_series(0, 31), "
                 "j -> CASE WHEN embedding[j + 1] >= 0 "
                 "THEN (CAST(1 AS BIGINT) << j) ELSE 0 END))")
_DUCK_PACK_HI = ("list_sum(list_transform(generate_series(32, 63), "
                 "j -> CASE WHEN embedding[j + 1] >= 0 "
                 "THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END))")


@register(
    "vector_hamming_topk",
    category="similarity",
    bench=True,
    allow_bnlj=True,  # corpus × broadcast |queries|-row binary query set
    oracle=f"""
    WITH codes AS (
      SELECT vec_id,
             {_DUCK_PACK_LO} AS c_lo,
             {_DUCK_PACK_HI} AS c_hi
      FROM embeddings)
    SELECT query_id, neighbor_id, rank, hamming FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.c_lo, c.c_lo))
                  + bit_count(xor(q.c_hi, c.c_hi)) AS BIGINT) AS hamming,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY bit_count(xor(q.c_lo, c.c_lo))
                        + bit_count(xor(q.c_hi, c.c_hi)), c.vec_id)
               AS BIGINT) AS rank
      FROM codes q JOIN codes c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_HAMMING_K}) t
    WHERE rank <= {TOP_K}
    """)
def vector_hamming_topk(spark, sf_dir):
    """Binary (sign-bit) quantization + Hamming top-k: each 64-dim
    float vector collapses to TWO int64 words (bit j = sign of
    dimension j, packed 32 per word so every shift stays in positive
    int64 range on both engines), and nearest neighbors are ranked by
    ``bit_count(xor(...))`` — pure JVM whole-stage-codegen arithmetic,
    no Python, no floats after the one-time packing pass. Sign-bit
    codes are the extreme end of the quantization ladder the PQ family
    covers (256 bytes -> 16 bytes -> here 16 BYTES TOTAL per vector):
    Hamming distance on sign bits is a monotone proxy for angular
    distance (Charikar 2002, the same guarantee the SimHash dedup tier
    uses), so it serves as a coarse filter or a memory-bound ANN tier.

    Scale: THE cheapest serving tier — a 100 TB corpus of 64-dim
    floats becomes 16 bytes/vector of codes (a 1.6 TB scan), the
    corpus is streamed once against the broadcast query codes, and
    only k·|queries| rows ever shuffle. The packing pass is a
    map-side projection any column store can cache."""
    e = table(spark, sf_dir, "embeddings")
    pack_lo = ("aggregate(sequence(0, 31), 0L, (acc, j) -> acc + "
               "CASE WHEN element_at(embedding, j + 1) >= 0 "
               "THEN shiftleft(1L, j) ELSE 0L END)")
    pack_hi = ("aggregate(sequence(32, 63), 0L, (acc, j) -> acc + "
               "CASE WHEN element_at(embedding, j + 1) >= 0 "
               "THEN shiftleft(1L, j - 32) ELSE 0L END)")
    codes = e.select("vec_id", F.expr(pack_lo).alias("c_lo"),
                     F.expr(pack_hi).alias("c_hi"))
    q = (codes.filter(F.col("vec_id") < _HAMMING_K)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("c_lo").alias("q_lo"), F.col("c_hi").alias("q_hi")))
    dist = F.expr("bit_count(q_lo ^ c_lo) + bit_count(q_hi ^ c_hi)")
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    dist.cast("long").alias("hamming"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "hamming"))


# ------------------------------------------- Matryoshka prefix retrieval

_MRL_DIMS = 16
_MRL_SHORTLIST = 32


@register(
    "vector_matryoshka_topk",
    category="similarity",
    allow_bnlj=True,  # corpus × broadcast |queries|-row query set
    oracle=f"""
    WITH q AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {N_QUERIES}),
    coarse AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.embedding[1:{_MRL_DIMS}]::DOUBLE[],
                              c.embedding[1:{_MRL_DIMS}]::DOUBLE[])
               AS pre_score,
             c.embedding AS cvec, q.embedding AS qvec
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id),
    short AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY query_id
                 ORDER BY pre_score DESC, neighbor_id) AS pre_rank
        FROM coarse) t
      WHERE pre_rank <= {_MRL_SHORTLIST})
    SELECT query_id, neighbor_id, rank, cos FROM (
      SELECT query_id, neighbor_id,
             list_dot_product(qvec::DOUBLE[], cvec::DOUBLE[]) /
               (sqrt(list_dot_product(qvec::DOUBLE[], qvec::DOUBLE[])) *
                sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
               AS cos,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY list_dot_product(qvec::DOUBLE[], cvec::DOUBLE[]) /
                 (sqrt(list_dot_product(qvec::DOUBLE[], qvec::DOUBLE[])) *
                  sqrt(list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[])))
                 DESC, neighbor_id) AS BIGINT) AS rank
      FROM short) r
    WHERE rank <= {TOP_K}
    """)
def vector_matryoshka_topk(spark, sf_dir):
    """Matryoshka-representation retrieval (Kusupati et al. '22 — the
    serving pattern behind MRL/truncatable embedding APIs): a COARSE
    pass scores only the first 16 of 64 dimensions (a 4x-cheaper dot
    against the broadcast queries — with MRL-trained embeddings the
    prefix is a faithful low-rank surrogate; on this synthetic corpus
    it is just a projection, which the docstring owns), keeps a
    32-candidate shortlist per query, and an exact full-dimension
    cosine re-ranks only the shortlist — the same shortlist->rerank
    shape as vector_ivf_pq_rerank_topk, with dimension truncation
    instead of quantization as the cheap tier. Both phases use ordered
    float folds, so DuckDB's list_dot_product reproduces the scores
    bit-for-bit; all tie-breaks are (score, vec_id)-deterministic.

    Scale: the coarse scan touches 16/64 of the embedding bytes per
    row (a column store can physically prune the prefix if stored as
    sliced columns); the exact rerank touches 32 vectors per query
    regardless of corpus size; only k·|queries| rows shuffle."""
    e = table(spark, sf_dir, "embeddings")
    q = (e.filter(F.col("vec_id") < N_QUERIES)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qvec")))
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("cvec"))
    pre = dot(F.slice(F.col("qvec"), 1, _MRL_DIMS),
              F.slice(F.col("cvec"), 1, _MRL_DIMS))
    wpre = Window.partitionBy("query_id").orderBy(
        F.col("pre_score").desc(), "neighbor_id")
    short = (c.join(F.broadcast(q),
                    F.col("neighbor_id") != F.col("query_id"))
             .select("query_id", "neighbor_id", "qvec", "cvec",
                     pre.alias("pre_score"))
             .withColumn("pre_rank", F.row_number().over(wpre))
             .filter(F.col("pre_rank") <= _MRL_SHORTLIST))
    cos = cosine(F.col("qvec"), F.col("cvec"))
    wfin = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), "neighbor_id")
    return (short.select("query_id", "neighbor_id", cos.alias("cos"))
            .withColumn("rank", F.row_number().over(wfin).cast("long"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "rank", "cos"))
