"""Deduplication operators over the ``documents`` table — the
training-data-pipeline extensions (BASELINE.json north star).

Families: exact (hash groupBy), token-set and char-n-gram Jaccard (exact
pairwise), MinHash+LSH (banded candidate generation — the 100 TB path),
SimHash (bit-signature near-dup), and embedding-cosine near-dup (one-hop
keeper assignment plus full iterative connected components). EVERY
family carries a DuckDB oracle: the hash-signature variants use the
portable md5-derived hash scheme (functions.portable_hash), so even
MinHash signatures, band buckets, and SimHash bit planes are recomputed
bit-for-bit by the oracle (components check against a recursive CTE).

Scale design: every pipeline is explode→aggregate→join on keys — no
driver-side materialization, no quadratic all-pairs except *within LSH/
blocking buckets*. The exact-Jaccard operator exists as the correctness
oracle for the approximate ones; at 100 TB you run minhash_lsh, whose
candidate set is then verified with the same join-on-shingle counting but
restricted to candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from cstore_fdw_spark.operators import register, spread, table, track_cache

#: Spark settings of the queries whose shuffles are CPU-dense per byte:
#: hash self-joins and window ranks over 8-byte digests (the PPJoin
#: digest self-join and verify, SimHash chunk blocking) carry a few MB
#: but seconds of CPU. The session's 1m AQE floor coalesces them to ~6
#: reducers on 32 cores; 256k restores full width (token pipeline 6.4 s
#: vs 11.5 s at sf0.1). Broadcast-heavy queries are faster at 1m (q3
#: 1.18 s vs 1.46 s), so the floor is declared per query. At 100 TB both
#: floors are no-ops: reducers are sized by bytes/parallelism.
_FINE_COALESCING = {
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k"}

#: Spark settings of the MinHash queries: exclude InferFiltersFromGenerate.
#: The rule re-infers ``size(shingles) > 0`` from the explode inside
#: :func:`shingle_hashes`, and filter pushdown drives that whole derived
#: shingle build through the spread() exchange into the scan, where it
#: runs once per row in the scan's few splits and again after the
#: exchange (the defect measured at 22 s vs 1.1 s on the route tier's
#: gram build at g1.0; dedup_minhash_lsh 1.68 → 1.38 s). Removing an
#: explicit filter does not help, because the rule puts it back. The
#: inferred filter is semantics-free: explode already emits nothing for
#: an empty array.
_NO_GENERATE_FILTER_INFERENCE = {
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"}

#: the duplicated corpus used by exact-dedup demos: documents ∪ documents
#: with shifted ids, so every text has exactly one duplicate. (The driver's
#: synthetic documents are all-distinct; real corpora aren't.)
_DUP_OFFSET = 1_000_000


def _dup_corpus(spark, sf_dir) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    return d.unionByName(
        d.withColumn("doc_id", F.col("doc_id") + _DUP_OFFSET))


@register(
    "dedup_exact",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents)
    SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS copies
    FROM corpus GROUP BY text
    """)
def dedup_exact(spark, sf_dir):
    """Exact dedup: group by full text, keep the lowest doc_id. One shuffle
    on the text hash; at scale, group by a 128-bit digest instead of the
    raw text to keep shuffle rows narrow (see dedup_exact_hash)."""
    return (_dup_corpus(spark, sf_dir)
            .groupBy("text")
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("copies"))
            .select("keeper_id", "copies"))


@register(
    "dedup_exact_hash",
    category="dedup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {_DUP_OFFSET} AS doc_id, text FROM documents)
    SELECT MD5(LOWER(TRIM(text))) AS content_hash,
           MIN(doc_id) AS keeper_id, COUNT(*) AS copies
    FROM corpus GROUP BY 1
    """)
def dedup_exact_hash(spark, sf_dir):
    """Exact dedup via content digest of normalized text — the shuffle key
    is 32 bytes regardless of document size, which is what makes exact
    dedup feasible at 100 TB (shuffling full texts is not)."""
    return (_dup_corpus(spark, sf_dir)
            .withColumn("content_hash",
                        F.md5(F.lower(F.trim(F.col("text"))).cast("binary")))
            .groupBy("content_hash")
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count(F.lit(1)).alias("copies")))


TOKEN_JACCARD_TAU = 0.8

#: average posting-list length (docs per distinct item) above which the
#: exact PPJoin tier is declared saturated: collision rows grow like
#: Σ_item posting_len², so once the item space stops growing with the
#: corpus every new doc collides with a constant fraction of ALL docs —
#: measured α ≈ 2.3 on the driver-shaped bounded-vocabulary corpus
#: (SCALE_MEASURED.md: grams flat at 1,885 keys while collision rows
#: grew 7.9 M → 768 M across a 10× corpus step). 256 clears diverse
#: corpora (posting lists stay O(dup-cluster size), single digits) by
#: two orders of magnitude while firing well before the measured
#: blow-up regime (g1.0 sits at ~4,500 docs/gram).
SATURATION_POSTINGS_PER_ITEM = 256


class JaccardSaturationWarning(UserWarning):
    """The exact Jaccard tier is running on a saturated item space —
    candidate density is growing ~N²; the calibrated approximate tier
    (``dedup_minhash_lsh``, measured α ≈ 0.48) is the scale path."""


def _saturation_guard(freq: DataFrame, sets: DataFrame,
                      on_saturation: str) -> bool:
    """Detect item-space saturation from the (lang, item)→frequency
    table the prefix stage already builds, and warn/raise/route per
    ``on_saturation``. One 1-row aggregate over the cached sets — the
    corpus itself is never re-scanned, and the whole check is skipped
    under ``'ignore'``. Returns True when saturation was detected (the
    ``'route'`` caller switches tiers on it).

    This collect is also the pipeline's EAGER MATERIALIZATION of the
    persisted ``sets``/``freq`` frames: the aggregate flows through
    both persists as one linear subtree (no parallel broadcast branch,
    so no cache-fill race), so every later consumer is a guaranteed
    cache hit and the pipeline needs no separate ``sets.count()``
    barrier job (one fewer action per invocation; the corpus doc count
    — used only in the warning text — reads the just-filled cache and
    only when saturation actually fired, so diverse corpora never pay
    it at all).

    The metric is the mean posting-list length ``Σ freq / #items`` =
    docs per distinct item. Diverse corpora keep it O(duplication
    factor) regardless of N; a bounded vocabulary makes it grow
    linearly with N (Heaps' law with exponent → 0), which is exactly
    the condition under which prefix-collision rows go quadratic
    (SCALE_MEASURED.md, dedup_ngram_jaccard g0.1→g1.0)."""
    if on_saturation == "ignore":
        return False
    if on_saturation not in ("warn", "raise", "route"):
        raise ValueError(
            f"on_saturation must be 'warn'|'raise'|'ignore'|'route', "
            f"got {on_saturation!r}")
    row = freq.agg(F.count(F.lit(1)).alias("n_items"),
                   F.sum("gf").alias("postings")).collect()[0]
    n_items = row.n_items or 1
    docs_per_item = (row.postings or 0) / n_items
    if docs_per_item <= SATURATION_POSTINGS_PER_ITEM:
        return False
    n_docs = sets.count()  # message only; a cached count (see above)
    action = (
        "Routing this call to that tier (rows carry approx=true)."
        if on_saturation == "route" else
        "Use dedup_minhash_lsh (or on_saturation='route') for "
        "low-diversity corpora at scale, or pass "
        "on_saturation='ignore' to accept the cost.")
    msg = (
        f"exact Jaccard tier is saturated: {n_items} distinct items "
        f"across {n_docs} docs = {docs_per_item:.0f} docs per item "
        f"(threshold {SATURATION_POSTINGS_PER_ITEM}). Prefix-collision "
        f"candidates grow ~N² once the item space stops growing with "
        f"the corpus (measured α≈2.3, SCALE_MEASURED.md) — no exact "
        f"algorithm can skip pairs that genuinely share items. The "
        f"τ-calibrated MinHash-LSH tier (measured α≈0.48) is the scale "
        f"path. {action}")
    if on_saturation == "raise":
        raise RuntimeError(msg)
    import warnings
    warnings.warn(msg, JaccardSaturationWarning, stacklevel=3)
    return True


def ppjoin_jaccard_pairs(item_sets: DataFrame, tau: float,
                         on_saturation: str = "warn") -> DataFrame:
    """Exact Jaccard-≥-τ pairs over a (doc_id, lang, items: array<string>)
    per-doc set table via PPJoin-style prefix filtering (Xiao et al.,
    WWW'08) — the shared engine for both the word-token and char-n-gram
    Jaccard families.

    Naive inverted-index self-joins are quadratic in posting-list size
    (Zipfian items like "the" put O(n²) pairs in one bucket). Candidates
    are instead generated only from each doc's |S| − ⌈τ·|S|⌉ + 1 RAREST
    items under a global (per-language) rarity order: a pair with
    jaccard ≥ τ has overlap ≥ τ·max(|A|,|B|), and by pigeonhole over the
    shared total order such a pair must collide inside both prefixes —
    lossless pruning (oracles run the unfiltered form), while the
    inverted index drops the frequent items that dominate the blowup.
    The exact overlap is then counted over candidates only.
    Output: (doc_a, doc_b, n_common, size_a, size_b, jaccard).

    ``on_saturation`` controls what happens when the item space is
    saturated (mean posting-list length > SATURATION_POSTINGS_PER_ITEM,
    the regime where collisions grow ~N²): ``'warn'`` (default) /
    ``'raise'`` / ``'ignore'``, or ``'route'`` — fall through to the
    τ-calibrated MinHash-LSH tier over the same item sets. Under
    ``'route'`` the output always carries an ``approx`` boolean column:
    false when the exact tier ran, true when routed (banding bounds
    recall; the per-pair jaccard is still exactly verified ≥ τ).

    Callers pass ``item_sets`` already ``spread()`` (repartition before
    the item projection), so the set build runs at cluster parallelism
    even when the source scan is one split. Registered callers run it
    under ``_FINE_COALESCING``; a direct caller gets the same speed by
    wrapping it in ``session.conf_override``."""
    # The per-doc sorted hash set is built as ONE projection — hash each
    # item inside transform(), no explode, no collect_set shuffle (the
    # earlier exploded-rows form materialized every (doc, item) string
    # row and shuffled them all back into per-doc sets; at sf0.1 that
    # was ~45 % of the query). The hash is an internal 64-bit xxhash64
    # (never surfaced — any injective-on-the-data hash works, and long
    # joins/intersections run several× faster than string ones); sizes
    # and overlap share one convention because n_s is derived from the
    # SAME distinct-hash array that verification intersects (a 64-bit
    # collision — assumed absent, as in any set-similarity-on-hashes
    # scheme — would otherwise skew jaccard via inconsistent sizes).
    sets = track_cache(
        item_sets.select(
            "doc_id", "lang",
            F.sort_array(F.expr(
                "transform(items, x -> xxhash64(x))")).alias("iset"))
        .withColumn("n_s", F.size("iset").cast("long"))
        .persist())
    # The cache must be materialized BEFORE the plan fans out: the
    # prefix build, the self-join's two sides, and the verify join all
    # consume `sets`, and Spark evaluates broadcast/subquery branches
    # on parallel threads — with a lazy persist those threads race to
    # fill the cache and the loser recomputes the whole gram/token
    # build (measured as sporadic 2-4x outlier runs). The saturation
    # guard's 1-row collect below IS that materialization (a single
    # linear subtree through both persists — no racing branches); only
    # the 'ignore' path, which skips the guard, needs its own count()
    # barrier (one job saved per invocation on every other path).
    if on_saturation == "ignore":
        sets.count()
    # one exploded (doc_id, lang, n_s, ih) view over the cached sets —
    # re-derived per consumer as pure CPU over cached arrays
    ex = sets.select("doc_id", "lang", "n_s",
                     F.explode("iset").alias("ih"))
    # global (per-language) item frequency → total rarity order (freq,
    # then item hash as the deterministic tie-break; ANY shared total
    # order preserves the pigeonhole argument, so ordering by the
    # 64-bit hash instead of the item string changes which items land
    # in prefixes but not losslessness)
    freq = ex.groupBy("lang", "ih").agg(F.count(F.lit(1)).alias("gf"))
    # persist the (lang, item)→frequency table: it is consumed TWICE in
    # separate jobs — the saturation guard's 1-row collect and the
    # prefix join — and exchange reuse never crosses job boundaries, so
    # without the persist the full explode+aggregate over the cached
    # sets ran once per consumer (r16 A/B on dedup_ngram_jaccard at
    # sf0.1, min-of-4 interleaved: 4.29 s → 2.97 s, outputs identical).
    # The frame is item-vocabulary-sized (distinct (lang, item) rows),
    # not corpus-sized, so the cache is small at any scale.
    freq = track_cache(freq.persist())
    # saturation guard: a bounded item space makes the collision stage
    # ~N² (measured); detect it from `freq` before paying for the join.
    # Under 'route' a saturated corpus falls through to the τ-calibrated
    # MinHash-LSH tier over the SAME item sets (the unattended-pipeline
    # behavior the guard's own message recommends) instead of paying the
    # measured 10⁴× collision blow-up; rows carry approx=true because
    # banding bounds recall, though each returned pair's jaccard is still
    # exact (verified over the full item sets, then filtered ≥ τ).
    if _saturation_guard(freq, sets, on_saturation) \
            and on_saturation == "route":
        return routed_jaccard_pairs(item_sets, tau)
    wdoc = Window.partitionBy("doc_id").orderBy("gf", "ih")
    # persist: the self-join below would otherwise rebuild the whole
    # freq-aggregate + rarity window on BOTH sides (verified in the
    # executed plan — no subtree reuse without materialization)
    from fractions import Fraction

    fr = Fraction(tau).limit_denominator(10 ** 6)
    tp, tq = fr.numerator, fr.denominator        # probing:  ⌈τ·n⌉
    ip, iq = 2 * tp, tp + tq                     # indexing: ⌈2τ/(1+τ)·n⌉
    ap, aq = tp, tp + tq                         # overlap:  ⌈τ/(1+τ)·s⌉

    def ceil_mul(col, p, q):
        # exact ⌈p·col/q⌉ for positive ints; the double quotient is
        # exact-or-safe (p·col ≤ 2^53 and true non-integer quotients
        # sit ≥ 1/q away from integers, so floor can never overshoot)
        return F.floor((p * col + (q - 1)) / q).cast("long")

    prefix = (ex.join(freq, ["lang", "ih"])
              .withColumn("rn", F.row_number().over(wdoc))
              .filter(F.col("rn") <= F.col("n_s")
                      - ceil_mul(F.col("n_s"), tp, tq) + 1)
              .select("doc_id", "lang", "ih", "rn", "n_s")
              .persist())
    track_cache(prefix)
    prefix.count()  # same eager-materialization rationale as `sets`
    # PPJoin candidate generation with pair-level overlap accumulation
    # (Xiao WWW'08 §3.2): collect ALL prefix collisions per pair, then
    # bound the best-case total overlap by
    #   c + min(|A| − max rn_a, |B| − max rn_b)
    # (c collisions seen inside the prefixes; everything else must come
    # after each side's last colliding position). A τ-pair needs overlap
    # α = ⌈τ/(1+τ)·(|A|+|B|)⌉, so pairs whose bound misses α are pruned
    # LOSSLESSLY before touching the item arrays — on dense corpora this
    # is the difference between verifying thousands and verifying
    # hundreds of thousands of candidates. Length filter in the join:
    # |A| ≥ ⌈τ·|B|⌉ (else jaccard < τ regardless of overlap).
    # INDEXING prefix on the shorter side (Xiao WWW'08 §3.3): pairs are
    # generated canonically shorter-side-first (the (n_s, doc_id) total
    # order), and for the shorter record x of a τ-pair the overlap is
    # α ≥ ⌈2τ/(1+τ)·|x|⌉ (since |y| ≥ |x|), so the collision the
    # pigeonhole guarantees already lies inside x's SHORTER
    # |x| − ⌈2τ/(1+τ)·|x|⌉ + 1 prefix — at τ=0.8 that is ~0.11·n vs the
    # probing prefix's ~0.2·n, cutting collision rows almost in half on
    # gram-dense corpora (the stage SCALE_MEASURED.md shows grows ~N²
    # on bounded vocabularies). All ceilings are EXACT integer
    # arithmetic ((p·n + q − 1) div q over the rationalized τ,
    # ``ceil_mul`` above): the float form ceil(2τ/(1+τ)·n) OVERSHOOTS
    # the true ceiling at ~3% of lengths (0.888…9 > 8/9), which would
    # silently drop true pairs.
    # the indexing-prefix cut references only pa columns: apply it ONCE
    # per row BEFORE the join, not per evaluated pair inside the join's
    # inner loop (at g1.0 that loop evaluates ~10^9 same-key pairs)
    pa = (prefix.filter(F.col("rn") <= F.col("n_s")
                        - ceil_mul(F.col("n_s"), ip, iq) + 1)
          .alias("pa"))
    pb = prefix.alias("pb")
    # (n_s, doc_id) lexicographic order as FLAT scalar comparisons — the
    # earlier struct(...) < struct(...) form allocated two InternalRow
    # structs per evaluated pair inside the sort-merge inner loop, which
    # at the g1.0 collision density (~10^9 evaluations) turned a 141 s
    # stage into a GC-bound 30-minute one (r13 regression, caught by the
    # 10x gate sweep and fixed here; pair sets identical by definition)
    shorter_first = ((F.col("pa.n_s") < F.col("pb.n_s"))
                     | ((F.col("pa.n_s") == F.col("pb.n_s"))
                        & (F.col("pa.doc_id") < F.col("pb.doc_id"))))
    collisions = (
        pa.join(pb, (F.col("pa.ih") == F.col("pb.ih"))
                & (F.col("pa.lang") == F.col("pb.lang"))
                & shorter_first
                & (F.col("pa.n_s") >= ceil_mul(F.col("pb.n_s"), tp, tq))
                & (F.col("pb.n_s") >= ceil_mul(F.col("pa.n_s"), tp, tq)))
        .select(F.col("pa.doc_id").alias("doc_a"),
                F.col("pb.doc_id").alias("doc_b"),
                F.col("pa.rn").alias("rn_a"), F.col("pb.rn").alias("rn_b"),
                F.col("pa.n_s").alias("n_a"), F.col("pb.n_s").alias("n_b")))
    alpha = ceil_mul(F.col("n_a") + F.col("n_b"), ap, aq)
    cand = (collisions
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("c"),
                 F.max("rn_a").alias("mra"), F.max("rn_b").alias("mrb"),
                 F.first("n_a").alias("n_a"), F.first("n_b").alias("n_b"))
            .filter((F.col("c") + F.least(F.col("n_a") - F.col("mra"),
                                          F.col("n_b") - F.col("mrb")))
                    >= alpha)
            # canonical output order is by doc_id (the oracle's
            # a.doc_id < b.doc_id), not by the length order pairs were
            # generated in
            .select(F.least("doc_a", "doc_b").alias("doc_a"),
                    F.greatest("doc_a", "doc_b").alias("doc_b")))
    # exact overlap on surviving candidates — long-array intersection in
    # whole-stage codegen, not an exploded item join (the explode form
    # multiplies candidates by items-per-doc and was the dominant cost
    # on dense posting lists)
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("iset").alias("set_a"),
                     F.col("n_s").alias("size_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("iset").alias("set_b"),
                     F.col("n_s").alias("size_b"))
    # |A∩B| via the UNION identity |A|+|B|−|A∪B|: array_union has a
    # primitive-long fast path while array_intersect takes the generic
    # boxed path — micro-benchmarked 16x on the real candidate set
    # (474 k pairs × ~200-element sets at sf0.1: 16.5 s → 1.0 s for the
    # identical filter; guide §1 empirical loop). The identity is exact
    # for these arrays: both sides are distinct-per-doc (array_distinct
    # items, injective-on-the-data hash — the pipeline's standing
    # convention, see the `sets` comment above) so union size is
    # n_a + n_b − n_common. Verified output-identical at sf0.1
    # (474 k candidates → same 6 pairs) and oracle-green at the gate.
    n_common = (F.col("size_a") + F.col("size_b")
                - F.size(F.array_union("set_a", "set_b")))
    jac = (n_common.cast("double")
           / (F.col("size_a") + F.col("size_b") - n_common))
    exact = (cand.join(sa, "doc_a").join(sb, "doc_b")
             .select("doc_a", "doc_b",
                     n_common.cast("long").alias("n_common"),
                     "size_a", "size_b", jac.alias("jaccard"))
             .filter(F.col("jaccard") >= tau))
    if on_saturation == "route":
        # 'route' callers always see the marker column, whichever tier ran
        exact = exact.withColumn("approx", F.lit(False))
    return exact


@register(
    "dedup_token_jaccard",
    category="dedup",
    confs=_FINE_COALESCING,  # PPJoin digest self-join + verify
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents WHERE text <> ''),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM tok a JOIN tok b
        ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_common,
           sa.n_tok AS size_a, sb.n_tok AS size_b,
           CAST(p.n_common AS DOUBLE)
             / (sa.n_tok + sb.n_tok - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE)
             / (sa.n_tok + sb.n_tok - p.n_common) >= {TOKEN_JACCARD_TAU}
    """)
def dedup_token_jaccard(spark, sf_dir):
    """Exact token-set (1-gram) Jaccard near-dup pairs within a language,
    via the shared PPJoin prefix-filtered pipeline (lossless — the oracle
    runs the unfiltered inverted-index form). This is also the exact
    correctness anchor for the MinHash estimate (dedup_minhash_lsh).

    The distinct token set per doc is an array_distinct PROJECTION (not
    a distinct() over exploded rows — same set, zero pre-shuffle), and
    spread() runs BEFORE the projection: a projection written upstream of
    the repartition would execute in the scan's (single, for a small
    file) task and serialize the whole token build."""
    d = table(spark, sf_dir, "documents")
    tok = spread(d).select(
        "doc_id", "lang",
        F.expr("array_distinct(filter(split(text, ' '),"
               " t -> t <> ''))").alias("items"))
    return ppjoin_jaccard_pairs(tok, TOKEN_JACCARD_TAU)


#: character 3-grams as one JVM projection; `text` is a plain attribute so
#: per-position substring() has no re-evaluation blowup (unlike split()).
_CHAR_GRAM_ARR = ("array_distinct(transform("
                  "sequence(1, greatest(length(text) - 2, 1)),"
                  " i -> substring(text, i, 3)))")

NGRAM_JACCARD_TAU = 0.8


@register(
    "dedup_ngram_jaccard",
    bench=True,
    category="dedup",
    confs=_FINE_COALESCING,  # PPJoin digest self-join + verify
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang,
             UNNEST(list_distinct(list_transform(
               generate_series(1, GREATEST(LENGTH(text) - 2, 1)),
               i -> substr(text, i, 3)))) AS gram
      FROM documents WHERE text <> ''),
    sizes AS (SELECT doc_id, COUNT(*) AS n_g FROM g GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM g a JOIN g b
        ON a.gram = b.gram AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, p.n_common,
           sa.n_g AS size_a, sb.n_g AS size_b,
           CAST(p.n_common AS DOUBLE)
             / (sa.n_g + sb.n_g - p.n_common) AS jaccard
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE)
             / (sa.n_g + sb.n_g - p.n_common) >= {NGRAM_JACCARD_TAU}
    """)
def dedup_ngram_jaccard(spark, sf_dir):
    """Character n-gram (k=3) Jaccard near-dup pairs within a language —
    the n-gram flavor of the Jaccard family (word-token flavor:
    dedup_token_jaccard), via the shared PPJoin prefix-filtered pipeline
    (see :func:`ppjoin_jaccard_pairs`; char-gram posting lists are dense,
    so the prefix filter matters even more here). Jaccard from exact int
    counts so the double division is deterministic.

    The shared engine's saturation guard warns (names the calibrated
    dedup_minhash_lsh tier) when the gram space stops growing with the
    corpus — the measured-α≈2.3 regime a bounded-vocabulary 100 TB
    corpus would silently hit (SCALE_MEASURED.md)."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    # spread BEFORE the gram projection (see dedup_token_jaccard)
    g = spread(d).select("doc_id", "lang",
                         F.expr(_CHAR_GRAM_ARR).alias("items"))
    return ppjoin_jaccard_pairs(g, NGRAM_JACCARD_TAU)


# --------------------------------------------- embedding-cosine near-dup

EMB_DEDUP_TAU = 0.35


@register(
    "dedup_embedding_cosine",
    category="dedup",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))
        >= {EMB_DEDUP_TAU}),
    edges AS (
      SELECT vec_a AS vec_id, vec_b AS nb FROM pairs
      UNION ALL SELECT vec_b AS vec_id, vec_a AS nb FROM pairs
      UNION ALL SELECT vec_id, vec_id AS nb FROM embeddings)
    SELECT vec_id, MIN(nb) AS keeper_id,
           (MIN(nb) <> vec_id) AS is_dup
    FROM edges GROUP BY vec_id
    """)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup with dedup semantics: every vector is
    assigned keeper = min(vec_id) over itself and its cosine-≥-τ
    neighbors within the same label (label = blocking key, so the pair
    space is per-group, never |table|²). One-hop min assignment — the
    full transitive closure is iterative connected components (alternate
    the min over both edge directions to a fixed point); one hop is the
    standard canopy pass that already collapses direct duplicates.

    Cosine via ordered zip_with/aggregate fold — bit-exact vs DuckDB's
    list_dot_product (both fold in index order)."""
    from cstore_fdw_spark.operators.similarity import cosine

    e = table(spark, sf_dir, "embeddings")
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    pairs = (a.join(b, (F.col("a.label") == F.col("b.label"))
                    & (F.col("a.vec_id") < F.col("b.vec_id")))
             .select(F.col("a.vec_id").alias("vec_a"),
                     F.col("b.vec_id").alias("vec_b"),
                     cos.alias("cos"))
             .filter(F.col("cos") >= EMB_DEDUP_TAU)
             .select("vec_a", "vec_b"))
    edges = (pairs.select(F.col("vec_a").alias("vec_id"),
                          F.col("vec_b").alias("nb"))
             .unionByName(pairs.select(F.col("vec_b").alias("vec_id"),
                                       F.col("vec_a").alias("nb")))
             .unionByName(e.select("vec_id",
                                   F.col("vec_id").alias("nb"))))
    return (edges.groupBy("vec_id")
            .agg(F.min("nb").alias("keeper_id"))
            .select("vec_id", "keeper_id",
                    (F.col("keeper_id") != F.col("vec_id")).alias("is_dup")))


def lsh_verified_pairs(e: DataFrame, tau: float,
                       dedup: bool = True) -> DataFrame:
    """The scale-path candidate generator shared by the embedding-dedup
    family: sign-random-projection buckets (the deterministic multi-table
    planes from operators.similarity) REPLACE the all-pairs join inside
    each label group — candidates must share (label, table, bucket), so
    occupancy per block is ~|group|/2^bits instead of |group|, which is
    what keeps a skewed or huge label group from going quadratic at
    100 TB. Candidates are then verified with the exact ordered-fold
    cosine. Output: (vec_a, vec_b) with vec_a < vec_b, cosine ≥ tau.

    ``dedup=False`` skips the candidate ``distinct()`` (one whole
    shuffle of the candidate set): a pair found in k of the LSH tables
    then comes out k times. Callers whose downstream is a set-semantics
    aggregate that shuffles anyway (connected components' min-label
    propagation folds its own dropDuplicates into the edge-partitioning
    exchange) get the same answer one exchange cheaper; callers that
    COUNT pairs must keep the default."""
    from cstore_fdw_spark.operators.similarity import (
        cosine, lsh_bits_for, lsh_buckets)

    # occupancy-targeted bit count from the corpus row count (parquet-
    # footer count, no data scan): per-(label, table, bucket) occupancy
    # stays ~constant as N grows, so candidate pairs stay flat-per-row
    sig = (e.select("vec_id", "label",
                    F.posexplode(lsh_buckets("embedding",
                                             lsh_bits_for(e.count()))))
           .select("vec_id", "label",
                   F.struct(F.col("pos").alias("t"),
                            F.col("col").alias("b")).alias("tb")))
    a, b = sig.alias("a"), sig.alias("b")
    cand = (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.tb") == F.col("b.tb"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b")))
    if dedup:
        cand = cand.distinct()
    va = e.select(F.col("vec_id").alias("vec_a"),
                  F.col("embedding").alias("avec"))
    vb = e.select(F.col("vec_id").alias("vec_b"),
                  F.col("embedding").alias("bvec"))
    return (cand.join(va, "vec_a").join(vb, "vec_b")
            .filter(cosine(F.col("avec"), F.col("bvec")) >= tau)
            .select("vec_a", "vec_b"))


def embedding_lsh_dedup(e: DataFrame, tau: float) -> DataFrame:
    """LSH pre-blocked embedding dedup over any (vec_id, label, embedding)
    DataFrame: candidate pairs from :func:`lsh_verified_pairs`, then every
    vector takes keeper = min(vec_id) over itself and its verified
    neighbors — the same dedup semantics as the exact
    dedup_embedding_cosine (whose output is the recall anchor: verified
    blocked pairs ⊆ exact pairs by construction).
    Output: (vec_id, keeper_id, is_dup)."""
    pairs = lsh_verified_pairs(e, tau)
    edges = (pairs.select(F.col("vec_a").alias("vec_id"),
                          F.col("vec_b").alias("nb"))
             .unionByName(pairs.select(F.col("vec_b").alias("vec_id"),
                                       F.col("vec_a").alias("nb")))
             .unionByName(e.select("vec_id", F.col("vec_id").alias("nb"))))
    return (edges.groupBy("vec_id")
            .agg(F.min("nb").alias("keeper_id"))
            .select("vec_id", "keeper_id",
                    (F.col("keeper_id") != F.col("vec_id")).alias("is_dup")))


def _lsh_pairs_ctes() -> str:
    """Shared DuckDB CTE block replicating :func:`lsh_verified_pairs`:
    inline ±1 planes → occupancy-targeted bit count from COUNT(*)
    (lsh_bits_sql, same integer thresholds as lsh_bits_for) → buckets →
    (label, table, bucket) candidates → exact-cosine verification.
    Ends with a ``pairs(vec_a, vec_b)`` CTE."""
    from cstore_fdw_spark.operators.similarity import (
        LSH_MAX_BITS, _ORACLE_COS, _planes_values_sql, lsh_bits_sql)

    return f"""planes(t, j, w, plane) AS (VALUES
      {_planes_values_sql(LSH_MAX_BITS)}),
    {lsh_bits_sql()},
    buck AS (
      SELECT e.vec_id, e.label, p.t,
             CAST(SUM(CASE WHEN list_dot_product(e.embedding::DOUBLE[],
                                                 p.plane) > 0
                      THEN p.w ELSE 0 END) AS BIGINT) AS b
      FROM embeddings e, planes p, nb
      WHERE p.j < nb.bits
      GROUP BY 1, 2, 3),
    cand AS (
      SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
      FROM buck x JOIN buck y
        ON x.label = y.label AND x.t = y.t AND x.b = y.b
       AND x.vec_id < y.vec_id),
    pairs AS (
      SELECT c.vec_a, c.vec_b
      FROM cand c
      JOIN embeddings a ON a.vec_id = c.vec_a
      JOIN embeddings b ON b.vec_id = c.vec_b
      WHERE {_ORACLE_COS} >= {EMB_DEDUP_TAU})"""


def _emb_lsh_oracle() -> str:
    """DuckDB replica: same inline ±1 planes → buckets → (label, table,
    bucket) candidates → exact-cosine verification → min-keeper."""
    return f"""
    WITH {_lsh_pairs_ctes()},
    edges AS (
      SELECT vec_a AS vec_id, vec_b AS nb FROM pairs
      UNION ALL SELECT vec_b AS vec_id, vec_a AS nb FROM pairs
      UNION ALL SELECT vec_id, vec_id AS nb FROM embeddings)
    SELECT vec_id, MIN(nb) AS keeper_id,
           (MIN(nb) <> vec_id) AS is_dup
    FROM edges GROUP BY vec_id
    """


@register("dedup_embedding_lsh_blocked", category="dedup",
          oracle=_emb_lsh_oracle())
def dedup_embedding_lsh_blocked(spark, sf_dir):
    """The 100 TB path of the embedding-dedup family: LSH bucket blocking
    composed inside each label group (see :func:`embedding_lsh_dedup`),
    with the exact all-pairs dedup_embedding_cosine as the recall anchor
    (tests/test_properties.py asserts blocked ⊆ exact and full recall on
    clustered vectors)."""
    return embedding_lsh_dedup(table(spark, sf_dir, "embeddings"),
                               EMB_DEDUP_TAU)


# ---------------------------------------------------------------- MinHash

from cstore_fdw_spark.functions.portable_hash import (  # noqa: E402
    P31, band_key_sql, duck_w32, minhash_coeffs,
)

N_HASHES = 32
N_BANDS = 8          # 8 bands × 4 rows ≈ detects jaccard ≳ 0.6
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3

#: fixed universal-hash coefficients, baked identically into the Spark
#: projection and the DuckDB oracle (see functions.portable_hash)
_MH_COEFFS = minhash_coeffs(N_HASHES)


#: `transform(array(expr), x -> body)[0]` binds expr to a lambda variable,
#: forcing ONE evaluation per row — without it, ProjectCollapse re-inlines
#: the split() into every shingle position (O(doc_len²) work per doc).
_SHINGLE_ARR = (
    "transform(array(split(text, ' ')), toks ->"
    " array_distinct(filter(transform("
    "   sequence(1, greatest(size(toks) - {k1}, 1)),"
    "   i -> concat_ws(' ', slice(toks, i, {k}))), s -> s <> '')))[0]"
).format(k1=SHINGLE_K - 1, k=SHINGLE_K)


def shingle_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles: array<string>) — distinct k-word shingles per
    doc as a pure JVM-side projection (no Python UDF, no shuffle)."""
    return docs.select("doc_id", F.expr(_SHINGLE_ARR).alias("shingles"))


#: signature shape: explode distinct shingles → ONE codegen md5 per
#: shingle → 32-way MIN hash-aggregate per doc. The aggregation is
#: map-side-combined, so what shuffles is one 33-column row per doc per
#: map partition — not the shingle set — and the per-shingle work stays
#: inside whole-stage codegen (an earlier per-row higher-order-function
#: fold avoided the shuffle but ran interpreted, ~2× slower end-to-end).
#: MinHash per Broder '97, banding per MMDS ch.3.
#:
#: Hashing is the portable scheme: md5(shingle) is computed once; the
#: universal-hash base word x (hex chars 1-8) and the 60-bit
#: verification join key (hex chars 1-15) are substrings of the same
#: digest, bit-identical in DuckDB, which is what makes the whole LSH
#: pipeline oracle-checkable.
_X_FROM_MD5 = ("(cast(conv(substring(m, 1, 8), 16, 10) as bigint)"
               f" % {P31}) AS x")
_H60_FROM_MD5 = "cast(conv(substring(m, 1, 15), 16, 10) as bigint) AS sh"


def shingle_hashes(docs_with_shingles: DataFrame) -> DataFrame:
    """(doc_id, x, sh) — one exploded row per distinct shingle, with the
    universal-hash base word and the 60-bit verification key derived from
    a single md5 evaluation in one codegen pass."""
    return (docs_with_shingles
            .select("doc_id", F.explode("shingles").alias("s"))
            .selectExpr("doc_id", "md5(cast(s as binary)) AS m")
            .selectExpr("doc_id", _X_FROM_MD5, _H60_FROM_MD5))


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """MinHash + banded LSH near-dup candidate pairs over any
    (doc_id, text) DataFrame, verified with the exact shingle-set Jaccard
    on candidates only — the 100 TB dedup path.

    Pipeline: shingle (projection) → one md5 per shingle (codegen,
    persisted once) → 32 min-hashes (map-side-combined aggregate) →
    8 arithmetic band keys per doc → bucket join on (band, band_key) →
    candidate pairs → exact Jaccard via 60-bit-hash join restricted to
    candidates. Output: see :func:`minhash_pairs_from_shingled`."""
    # Docs with zero shingles (empty text) are excluded by the explode
    # inside shingle_hashes — a zero-shingle doc emits no rows, so it
    # gets no signature and can never band-collide; the oracle's explode
    # drops them the same way. (An explicit size(shingles) > 0 filter
    # here was REDUNDANT and harmful: pushed through the spread()
    # exchange into the scan as a DataFilter, it evaluated the whole
    # shingle build inside the scan's handful of splits and then again
    # in the post-exchange projection — the same single-threaded-scan
    # defect measured at 22 s vs 1.1 s on the route tier's gram build.)
    return minhash_pairs_from_shingled(shingle_arrays(spread(docs)))


def minhash_band_kernel(shingled: DataFrame
                        ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one MinHash + banded-LSH build over any (doc_id, shingles:
    array<string>) set table, shared by :func:`minhash_pairs_from_shingled`
    (word shingles, verified on the 60-bit keys) and
    :func:`routed_jaccard_pairs` (rarity-prefix grams, verified on the
    full item sets). Returns ``(hashes, sigs, pairs)``:

    - ``hashes``: persisted (doc_id, x, sh), see :func:`shingle_hashes`;
    - ``sigs``: persisted (doc_id, n_sh, bands), materialized here;
    - ``pairs``: (doc_a, doc_b, n_common_bands) band collisions.

    Registered callers run it under ``_NO_GENERATE_FILTER_INFERENCE``."""
    # persist() materializes the per-shingle hashes once (the expensive
    # shingle build + md5); signatures, band keys, sizes, and
    # verification keys all derive from it.
    hashes = track_cache(shingle_hashes(shingled).persist())
    # persist(), not localCheckpoint(), for the signature table: both are
    # materialized once and reused by every consumer (bands self-join,
    # sizes), but localCheckpoint pays driver-side physical planning +
    # codegen compilation of the 32-agg plan at BUILD time (~2 s measured)
    # while persist defers everything to the first action
    # parsed-SQL form, one py4j call per aggregate (the Column-chain
    # form cost ~6 round-trips x 32 hashes per build; same tree — see
    # the simhash_signatures rationale)
    mins = [F.expr(f"min(({a} * x + {b}) % {P31}) AS s{i}")
            for i, (a, b) in enumerate(_MH_COEFFS)]
    # band keys: pure integer arithmetic over each ROWS_PER_BAND-slice of
    # the signature (two Horner polynomials mod P31 packed to 62 bits —
    # no VARCHAR render, no md5; identical expression in the oracle).
    # FUSED into the signature aggregate's output projection, so the
    # cache holds (doc_id, n_sh, bands) — each self-join side explodes
    # the cached array instead of re-deriving 8 Horner polynomials from
    # 32 cached signature columns, and the cached rows are ~4x narrower
    band_cols = F.array(*[
        F.expr(band_key_sql([f"s{t * ROWS_PER_BAND + r}"
                             for r in range(ROWS_PER_BAND)]))
        for t in range(N_BANDS)])
    sigs = track_cache(hashes.groupBy("doc_id")
                       .agg(F.count(F.lit(1)).alias("n_sh"), *mins)
                       .select("doc_id", "n_sh",
                               band_cols.alias("bands"))
                       .persist())
    # eager materialization before the plan fans out (bands self-join,
    # sizes, both verification sides): parallel subquery threads racing a
    # lazy persist recompute the shingle+md5 build — measured as sporadic
    # 3-4x outlier runs (same rationale as ppjoin_jaccard_pairs). ONE
    # count suffices: materializing sigs forces hashes through the same job
    sigs.count()
    bands = (sigs.select("doc_id", F.posexplode("bands"))
             .select("doc_id", F.col("pos").alias("band"),
                     F.col("col").alias("bh")))
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("n_common_bands")))
    return hashes, sigs, pairs


def minhash_pairs_from_shingled(shingled: DataFrame) -> DataFrame:
    """Verified MinHash+LSH pairs over any (doc_id, shingles:
    array<string>) set table: :func:`minhash_band_kernel`'s candidates,
    each verified with the exact shingle-set Jaccard. Output, in the
    PPJoin convention plus the band count: (doc_a, doc_b, n_common,
    size_a, size_b, n_common_bands, jaccard)."""
    hashes, sigs, candidates = minhash_band_kernel(shingled)
    # exact verification restricted to candidates: expand each candidate
    # pair by doc_a's shingles, then probe doc_b's shingle set — cost is
    # O(candidates × shingles-per-doc), never the all-pairs shingle join.
    # The join key is the 60-bit digest prefix, not the shingle string:
    # same distinctness (md5 is computed per DISTINCT shingle), a fraction
    # of the shuffle bytes.
    sizes = sigs.select("doc_id", "n_sh")
    shingles = hashes.select("doc_id", "sh")
    sh_a = shingles.withColumnRenamed("doc_id", "doc_a")
    sh_b = shingles.withColumnRenamed("doc_id", "doc_b")
    common = (candidates.select("doc_a", "doc_b")
              .join(sh_a, "doc_a")
              .join(sh_b, ["doc_b", "sh"])
              .groupBy("doc_a", "doc_b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    za = sizes.alias("za")
    zb = sizes.alias("zb")
    jac = (F.col("n_common").cast("double")
           / (F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_common")))
    return (candidates
            .join(common, ["doc_a", "doc_b"], "left")
            .join(za, F.col("za.doc_id") == F.col("doc_a"))
            .join(zb, F.col("zb.doc_id") == F.col("doc_b"))
            .select("doc_a", "doc_b",
                    F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
                    .alias("n_common"),
                    F.col("za.n_sh").alias("size_a"),
                    F.col("zb.n_sh").alias("size_b"),
                    "n_common_bands",
                    F.coalesce(jac, F.lit(0.0)).alias("jaccard")))


def _duck_minhash_bands() -> tuple[str, str]:
    """DuckDB side of :func:`minhash_band_kernel`, shared by both MinHash
    oracles: the 32 signature ``MIN`` aggregates over ``x`` and the
    8-band ``UNION ALL`` of (doc_id, t, bh) rows over ``sigs`` — the same
    coefficients and band keys that are baked into the Spark projection."""
    mins = ",\n        ".join(
        f"MIN(({a} * x + {b}) % {P31}) AS s{i}"
        for i, (a, b) in enumerate(_MH_COEFFS))
    band_rows = " UNION ALL ".join(
        "SELECT doc_id, {t} AS t, {bk} AS bh FROM sigs".format(
            t=t, bk=band_key_sql(
                [f"s{t * ROWS_PER_BAND + r}"
                 for r in range(ROWS_PER_BAND)]))
        for t in range(N_BANDS))
    return mins, band_rows


def _minhash_oracle() -> str:
    """DuckDB replica of the full MinHash+LSH pipeline (generated SQL:
    32 universal-hash MIN aggregates, 8 band hashes, candidate join,
    exact-Jaccard verification on candidates only — the same constants
    that are baked into the Spark projection)."""
    mins, band_rows = _duck_minhash_bands()
    return f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id, list_distinct(list_filter(list_transform(
          generate_series(1, GREATEST(len(toks) - {SHINGLE_K - 1}, 1)),
          i -> array_to_string(list_slice(toks, i, i + {SHINGLE_K - 1}), ' ')),
        s -> s <> '')) AS shingles
      FROM base),
    szs AS (SELECT doc_id, len(shingles) AS n_sh, shingles
            FROM sh WHERE len(shingles) > 0),
    ex AS (SELECT doc_id, md5(UNNEST(shingles)) AS m FROM szs),
    hx AS (SELECT doc_id,
                  CAST('0x' || substr(m, 1, 8) AS BIGINT) % {P31} AS x
           FROM ex),
    exk AS (SELECT doc_id,
                   CAST('0x' || substr(m, 1, 15) AS BIGINT) AS sh_key
            FROM ex),
    sigs AS (
      SELECT doc_id,
        {mins}
      FROM hx GROUP BY doc_id),
    bands AS (
      SELECT doc_id, t, bh FROM ({band_rows}) u),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS n_common_bands
      FROM bands a JOIN bands b
        ON a.t = b.t AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    common AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN exk ea ON ea.doc_id = c.doc_a
      JOIN exk eb ON eb.doc_id = c.doc_b AND eb.sh_key = ea.sh_key
      GROUP BY 1, 2)
    SELECT c.doc_a, c.doc_b, c.n_common_bands,
           COALESCE(CAST(m.n_common AS DOUBLE)
             / (za.n_sh + zb.n_sh - m.n_common), 0.0) AS jaccard
    FROM cand c
    LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
    JOIN szs za ON za.doc_id = c.doc_a
    JOIN szs zb ON zb.doc_id = c.doc_b
    """


@register("dedup_minhash_lsh", category="dedup", bench=True,
          confs=_NO_GENERATE_FILTER_INFERENCE,
          oracle=_minhash_oracle())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs on the documents table (see
    :func:`minhash_lsh_pairs`). Signatures use the portable md5-derived
    universal-hash family (functions.portable_hash), so the DuckDB oracle
    recomputes the identical signatures, bands, candidates, and verified
    Jaccard — the full LSH pipeline is hash-compared, not rows-only.
    tests/test_properties.py additionally proves exact duplicates are
    always recalled."""
    return (minhash_lsh_pairs(table(spark, sf_dir, "documents"))
            .select("doc_a", "doc_b", "n_common_bands", "jaccard"))


#: Route-tier candidate signature size: each doc is represented by its
#: ROUTE_PREFIX_K RAREST items under the global (per-language) (df,
#: item) order — the PPJoin prefix principle applied to LSH candidate
#: generation. Why this matters: on the measured bounded-vocabulary
#: corpus (31-word generator) the BACKGROUND char-gram jaccard between
#: unrelated docs is ~0.46 median with 6.7 % of all N² pairs ≥ 0.6, so
#: banding the full sets collides ~30 % of ALL pairs (a >76 GB shuffle
#: spill at a mere 50 k docs — measured, r15). The rarity prefix keeps
#: exactly the discriminative tail (word-boundary grams, df ≈ 5 %)
#: and drops the corpus-stopword grams every doc shares: measured
#: background prefix-jaccard falls to ~0.0125 (collision odds ~2e-7)
#: while near-duplicate pairs keep overlapping prefixes under the
#: shared global order. Docs with ≤ K items keep their full set, so
#: small-set corpora (and the saturation-guard fixtures) are
#: candidate-identical to un-restricted banding.
ROUTE_PREFIX_K = 24


def routed_jaccard_pairs(item_sets: DataFrame, tau: float) -> DataFrame:
    """The saturation ``route`` tier as a first-class operator — the
    path an unattended 100 TB pipeline takes when a bounded-vocabulary
    corpus saturates the exact tier's inverted index (the measured ~N²
    regime, SCALE_MEASURED.md). One definition for both callers: the
    ``on_saturation='route'`` fallthrough of
    :func:`ppjoin_jaccard_pairs` and the registered
    ``route_ngram_minhash_tier`` query.

    Candidates: MinHash banding over each doc's RARITY PREFIX (its
    ROUTE_PREFIX_K rarest items under the global (lang, df, item)
    order — see the constant's comment for the measured density wall
    this avoids; it is the exact tier's PPJoin prefix principle reused
    for LSH). Verification: every candidate pair's jaccard is computed
    EXACTLY over the FULL original item sets — one row per candidate,
    a JVM ``array_intersect`` of the two distinct arrays, never a
    per-item row explosion — then filtered ≥ τ, so no returned pair is
    ever wrong. Banding + prefix restriction bound RECALL (near-exact
    duplicates always collide: identical sets have identical
    prefixes), which is why rows carry ``approx = true``."""
    # Persist FIRST, filter on the cached arrays: a filter on the
    # derived `items` column placed below the persist gets pushed
    # through the spread() exchange into the scan as a DataFilter,
    # where the WHOLE gram build evaluates inside the scan's handful
    # of splits — measured single-threaded 22.0 s vs 1.1 s for the
    # same projection at g1.0 (and ~180 s of the route tier's 412 s
    # g10.0 wall, ROUTE_PROFILE_r16.json's dominant "sets" cut) —
    # and then re-evaluates post-exchange for the projection itself.
    # Against the cache the predicate is an O(1) array-header check
    # per cached row. Cache contents only gain the (rare) empty-set
    # docs; every consumer below filters them exactly as before.
    allsets = track_cache(item_sets.persist())
    allsets.count()  # eager: prefix build and both verify sides consume it
    sets = allsets.filter(F.size("items") > 0)
    ex = sets.select("doc_id", "lang", F.explode("items").alias("it"))
    dfreq = ex.groupBy("lang", "it").agg(F.count(F.lit(1)).alias("df"))
    # Rarity prefix as a per-doc min-K AGGREGATE, not a ROW_NUMBER
    # window: the window form exchanges every exploded gram row by
    # doc_id and then SORTS all of them ((doc_id, df, it) over ~150 M
    # rows at g10.0) just to keep 24 per doc. The aggregate form
    # hash-aggregates instead: exploded doc rows are contiguous within
    # their input partition, so the partial (map-side) collect already
    # packs each doc into ONE array row and the doc_id exchange moves
    # |docs| array rows, no global sort — each doc then sorts its OWN
    # ≤|items| structs in memory. (The r16 stage breakdown,
    # ROUTE_PROFILE_r16.json, measured both forms at ~equal wall time
    # on local[32] — the ex⋈dfreq join dominates this stage, not the
    # sort — so the aggregate form is kept for its EXCHANGE shape, not
    # a measured local win: a global range-sort is the primitive that
    # degrades worst on a real multi-executor shuffle tier, and the
    # r15 α 1.59 is attributed by the same breakdown to the VERIFY
    # join below, whose work tracks candidate-pair density — see
    # SCALE_MEASURED.md.)
    # Selection is IDENTICAL to the window for every doc (not only
    # docs ≤ K items): items are distinct within a doc, so (df, it) is
    # a total order and slice(array_sort(...), 1, K) picks exactly the
    # ROW_NUMBER ≤ K set; the DuckDB oracle deliberately keeps the
    # ROW_NUMBER formulation so the equivalence is cross-checked at
    # every gate scale. dfreq stays a join (AQE broadcasts it when the
    # gram vocabulary is small) — never a driver-side map.
    shingled = (ex.join(dfreq, ["lang", "it"])
                .groupBy("doc_id")
                .agg(F.expr(
                    f"transform(slice(array_sort(collect_list("
                    f"struct(df, it))), 1, {ROUTE_PREFIX_K}),"
                    f" x -> x.it)").alias("shingles")))
    _, _, pairs = minhash_band_kernel(shingled)
    cands = pairs.select("doc_a", "doc_b")
    # Verify sides ship the HASHED set (xxhash64 per gram, computed in
    # codegen off the cached string arrays) instead of the raw string
    # arrays: n_common then comes from the UNION identity
    # |A|+|B|−|A∪B| on long arrays — array_union's primitive-long fast
    # path vs array_intersect's generic boxed-string path, the same
    # 16×-micro-benchmarked rewrite as ppjoin_jaccard_pairs' verify and
    # the SAME injective-on-the-data hash convention that tier already
    # pins (its DuckDB oracle counts raw-string matches, so the
    # convention is engine-vs-oracle checked at every gate scale; sizes
    # stay derived from the distinct STRING array, so a collision could
    # only surface as a gate-visible n_common mismatch, never a
    # silently consistent skew).
    a = sets.select(F.col("doc_id").alias("doc_a"),
                    F.col("lang").alias("lang_a"),
                    F.expr("transform(items, x -> xxhash64(x))")
                    .alias("hset_a"),
                    F.size("items").cast("long").alias("size_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"),
                    F.col("lang").alias("lang_b"),
                    F.expr("transform(items, x -> xxhash64(x))")
                    .alias("hset_b"),
                    F.size("items").cast("long").alias("size_b"))
    n_common = (F.col("size_a") + F.col("size_b")
                - F.size(F.array_union("hset_a", "hset_b"))).cast("long")
    # Length-band pre-filter, evaluated BEFORE the union expression
    # (And short-circuits in codegen): jaccard ≥ τ forces
    # n_common ≥ τ·(|A|+|B|−n_common) with n_common ≤ min(|A|,|B|), so
    # min ≥ τ·max — any pair outside the band is guaranteed < τ and
    # the array work for it is skipped. The 1e-9 slack makes the prune
    # provably lossless under double rounding: a pair passing the
    # final jaccard filter has min/max ≥ τ − O(1e-16), and jaccard
    # values are rationals with denominator ≤ |A∪B| ≤ ~1e4·1e4, so the
    # slack dwarfs both the rounding and never reaches the next
    # representable jaccard below τ. (PPJoin's exact tier applies the
    # same bound inside candidate generation — dedup.py:285 — the
    # route tier's banding has no length awareness, hence here.)
    return (cands.join(a, "doc_a").join(b, "doc_b")
            .filter(F.col("lang_a") == F.col("lang_b"))
            .filter(F.least("size_a", "size_b")
                    >= (tau - 1e-9) * F.greatest("size_a", "size_b"))
            .withColumn("n_common", n_common)
            .withColumn("jaccard",
                        F.col("n_common").cast("double")
                        / (F.col("size_a") + F.col("size_b")
                           - F.col("n_common")))
            .filter(F.col("jaccard") >= tau)
            .select("doc_a", "doc_b", "n_common", "size_a", "size_b",
                    "jaccard", F.lit(True).alias("approx")))


def _routed_ngram_oracle() -> str:
    """DuckDB replica of the routed char-3-gram tier: the identical
    per-language rarity-prefix restriction (ROW_NUMBER over (df, item)),
    the same MinHash coefficients and band keys as ``_minhash_oracle``,
    and the same exact full-set ``list_intersect`` verification — so
    the fallthrough path is hash-compared end-to-end, not just
    behaviorally tested."""
    mins, band_rows = _duck_minhash_bands()
    return f"""
    WITH g AS (
      SELECT doc_id, lang, list_distinct(list_transform(
               generate_series(1, GREATEST(LENGTH(text) - 2, 1)),
               i -> substr(text, i, 3))) AS items
      FROM documents WHERE text <> ''),
    s2 AS MATERIALIZED (
      SELECT doc_id, lang, items, CAST(len(items) AS BIGINT) AS n_s
      FROM g WHERE len(items) > 0),
    ex AS MATERIALIZED (
      SELECT doc_id, lang, UNNEST(items) AS it FROM s2),
    dfreq AS (SELECT lang, it, COUNT(*) AS df FROM ex GROUP BY lang, it),
    pfx AS (
      SELECT doc_id, it FROM (
        SELECT e.doc_id, e.it,
               ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                  ORDER BY d.df, e.it) AS rn
        FROM ex e JOIN dfreq d ON d.lang = e.lang AND d.it = e.it) t
      WHERE rn <= {ROUTE_PREFIX_K}),
    hx AS (SELECT doc_id,
                  CAST('0x' || substr(md5(it), 1, 8) AS BIGINT)
                    % {P31} AS x
           FROM pfx),
    sigs AS (
      SELECT doc_id,
        {mins}
      FROM hx GROUP BY doc_id),
    bands AS (
      SELECT doc_id, t, bh FROM ({band_rows}) u),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.t = b.t AND a.bh = b.bh AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(len(list_intersect(sa.items, sb.items)) AS BIGINT)
               AS n_common,
             sa.n_s AS size_a, sb.n_s AS size_b
      FROM cand c
      JOIN s2 sa ON sa.doc_id = c.doc_a
      JOIN s2 sb ON sb.doc_id = c.doc_b AND sb.lang = sa.lang)
    SELECT doc_a, doc_b, n_common, size_a, size_b,
           CAST(n_common AS DOUBLE)
             / (size_a + size_b - n_common) AS jaccard,
           TRUE AS approx
    FROM v
    WHERE CAST(n_common AS DOUBLE)
             / (size_a + size_b - n_common) >= {NGRAM_JACCARD_TAU}
    """


@register("route_ngram_minhash_tier", category="dedup",
          confs=_NO_GENERATE_FILTER_INFERENCE,
          oracle=_routed_ngram_oracle())
def route_ngram_minhash_tier(spark, sf_dir):
    """The ``on_saturation='route'`` fallthrough of the char-n-gram
    Jaccard family, pinned as its own oracle-checked query: the
    τ-calibrated MinHash tier over the SAME char-3-gram item sets
    ``dedup_ngram_jaccard`` feeds the exact tier (one definition,
    :func:`routed_jaccard_pairs` — the guard's fallthrough calls this
    very function). Every emitted pair's jaccard is exact and ≥ τ;
    ``approx`` marks the bounded-recall tier. Registered unconditionally
    (not behind the guard) so the fallthrough path is engine-vs-oracle
    verified at every gate scale, not only when a fixture happens to
    saturate — and so the scale sweep can measure the route tier's wall
    clock against the exact tier's measured ~N² blow-up on the same
    corpus."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    g = spread(d).select("doc_id", "lang",
                         F.expr(_CHAR_GRAM_ARR).alias("items"))
    return routed_jaccard_pairs(g, NGRAM_JACCARD_TAU)


# ---------------------------------------------------------------- SimHash

SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4   # blocking: candidates share one 16-bit chunk
# Pigeonhole: a pair with Hamming distance d spreads its differing bits
# over at most d chunks, so with 4 chunks a shared-identical chunk is
# guaranteed only for d <= SIMHASH_CHUNKS - 1.  Keeping the radius at
# chunks-1 makes single-table chunk blocking genuinely lossless (Manku
# WWW'07 permuted tables would be needed for a wider radius).
SIMHASH_MAX_HAMMING = SIMHASH_CHUNKS - 1


def simhash_signatures(tokens: DataFrame) -> DataFrame:
    """(doc_id, c0..c3): 64-bit SimHash (Charikar '02) from token hashes,
    materialized as four 16-bit chunks (the chunk form avoids any
    shift-on-negative semantics and IS the blocking key — Manku et al.
    WWW'07). Bit j of the signature is the sign of sum over tokens of ±1
    by bit j of the token's portable hash (two md5 words = 64 independent
    bits, identical in DuckDB) — all 64 bit-sums run in ONE aggregate
    pass. The digest is computed ONCE per token in a projection and the
    two 32-bit words extracted from it; inlining ``spark_w32`` into the
    64 aggregate expressions would instead rely on subexpression
    elimination to avoid 64 md5 evaluations per row."""
    hx = (tokens
          .selectExpr("doc_id", "md5(cast(token as binary)) AS m")
          .selectExpr(
              "doc_id",
              "cast(conv(substring(m, 1, 8), 16, 10) as bigint) AS w0",
              "cast(conv(substring(m, 9, 8), 16, 10) as bigint) AS w1"))
    # expressions as SQL strings, ONE parse each — not per-node Column
    # composition: the 64 bit-sums plus 64 chunk terms built via
    # F.sum(F.when(...)) chains cost hundreds of py4j round-trips, and
    # the bench re-builds the DataFrame every run, so plan CONSTRUCTION
    # alone measured 1.6-1.8 s of dedup_simhash's 2.3 s wall at sf0.1
    # (guide §1: measure where the time actually goes — here it was the
    # driver's Python side, not Spark). Same expression tree, same
    # results; r16 A/B min-of-5 interleaved: 1.92 s → 0.93 s.
    bit_sums = [F.expr(
        f"sum(CASE WHEN (shiftright({'w0' if j < 32 else 'w1'}, {j % 32})"
        f" & 1) = 1 THEN 1 ELSE -1 END) AS s_{j}")
        for j in range(SIMHASH_BITS)]
    sums = hx.groupBy("doc_id").agg(*bit_sums)
    chunk_exprs = [
        "cast(" + " + ".join(
            f"(CASE WHEN s_{c * 16 + r} > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(16)) + f" as int) AS c{c}"
        for c in range(SIMHASH_CHUNKS)]
    return sums.selectExpr("doc_id", *chunk_exprs)


def _simhash_oracle() -> str:
    """DuckDB replica of the SimHash pipeline: same 64 portable bit
    planes, same chunk blocking, same Hamming verification."""
    w = f"{duck_w32('token', 0)} AS w0, {duck_w32('token', 1)} AS w1"
    bit_sums = ",\n        ".join(
        f"SUM(CASE WHEN (({'w0' if j < 32 else 'w1'} >> {j % 32}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(SIMHASH_BITS))
    chunks = ",\n        ".join(
        "CAST(" + " + ".join(
            f"CASE WHEN s_{c * 16 + r} > 0 THEN {1 << r} ELSE 0 END"
            for r in range(16)) + f" AS INTEGER) AS c{c}"
        for c in range(SIMHASH_CHUNKS))
    ck_case = ("CASE v.chunk WHEN 0 THEN c0 WHEN 1 THEN c1"
               " WHEN 2 THEN c2 ELSE c3 END")
    ham = " + ".join(f"bit_count(xor(a.c{c}, b.c{c}))"
                     for c in range(SIMHASH_CHUNKS))
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS token
      FROM documents),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token <> ''),
    hx AS (SELECT doc_id, {w} FROM tok2),
    sums AS (
      SELECT doc_id,
        {bit_sums}
      FROM hx GROUP BY doc_id),
    sig AS (
      SELECT doc_id,
        {chunks}
      FROM sums),
    ck AS (
      SELECT doc_id, c0, c1, c2, c3, v.chunk, {ck_case} AS ckv
      FROM sig, (VALUES (0), (1), (2), (3)) v(chunk))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS INTEGER) AS hamming
    FROM ck a JOIN ck b
      ON a.chunk = b.chunk AND a.ckv = b.ckv AND a.doc_id < b.doc_id
     AND (a.chunk <= 0 OR a.c0 <> b.c0)
     AND (a.chunk <= 1 OR a.c1 <> b.c1)
     AND (a.chunk <= 2 OR a.c2 <> b.c2)
    WHERE CAST({ham} AS INTEGER) <= {SIMHASH_MAX_HAMMING}
    """


@register("dedup_simhash", bench=True, category="dedup",
          confs=_FINE_COALESCING,  # 4x16-bit chunk-block self-join
          oracle=_simhash_oracle())
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs: 64-bit signatures as four 16-bit chunks,
    chunk blocking (pigeonhole: pairs within Hamming ≤ SIMHASH_CHUNKS-1 = 3
    always share an identical chunk, so blocking is lossless at this
    radius), Hamming verification via bit_count(xor) per chunk.
    Portable md5-derived bit planes → the DuckDB oracle recomputes the
    identical signatures and pairs. Output: (doc_a, doc_b, hamming).

    Scale note (measured, SCALE_MEASURED.md r14): on a LOW-DIVERSITY
    corpus the number of genuinely near-duplicate pairs grows ~N²
    (13.99 M pairs at 50 k docs → 126.7 M at 150 k on the bounded-vocab
    fixture), so any exact pair-materializing operator is output-bound
    there; throughput per PAIR stays sub-linear (α 0.81 vs own output).
    A pipeline that wants node-bounded output on such corpora should
    consume the pair stream into components
    (``dedup_connected_components``, measured FLAT at α −0.07) rather
    than materialize all pairs."""
    # per-doc token distinctness as an array_distinct PROJECTION, not a
    # distinct() over exploded rows: the latter shuffles every token row
    # before the signature aggregate ever sees them; this form goes
    # straight from scan to map-side-combined aggregate with zero
    # pre-shuffles (the oracle's SELECT DISTINCT doc_id, token is the
    # same set — distinctness is per (doc, token) either way)
    d = table(spark, sf_dir, "documents")
    # NO spread here, deliberately (A/B-measured ~0.3 s faster without):
    # the md5 + 64 partial bit-sums combine map-side into one row per
    # doc, so a pre-repartition only adds an exchange without relieving
    # any reducer; the aggregate's own exchange already spreads the
    # final merge
    tokens = d.select(
        "doc_id",
        F.explode(F.expr("array_distinct(filter(split(text, ' '),"
                         " t -> t <> ''))")).alias("token"))
    sig = simhash_signatures(tokens)
    # inline() explodes the (chunk, ck) struct array straight to columns
    # — one parsed expression instead of a ~60-call explode/restructure
    # Column chain (same py4j-overhead rationale as simhash_signatures)
    chunks = sig.selectExpr(
        "doc_id", "c0", "c1", "c2", "c3",
        "inline(array(" + ", ".join(
            f"struct({c} as chunk, c{c} as ck)"
            for c in range(SIMHASH_CHUNKS)) + "))")
    a = chunks.alias("a")
    b = chunks.alias("b")
    hamming = F.expr(" + ".join(
        f"bit_count(a.c{c} ^ b.c{c})"
        for c in range(SIMHASH_CHUNKS))).cast("int")
    # FIRST-MATCH dedup, not distinct(): a pair inside the radius can
    # share several chunks and would surface once per shared chunk; the
    # old pair-level distinct() shuffled EVERY candidate row — ~1.4 B
    # rows at g10.0 on the bounded-vocab corpus, a >50 GB spill for a
    # pure dedup (measured, r15). Both signatures are already in the
    # join output, so "this is the smallest shared chunk" is a pure
    # predicate — for every k < chunk, require c_k to differ — and each
    # pair streams out of the join exactly once with zero extra
    # exchanges (the same first-occurrence trick Manku et al. WWW'07
    # use across permuted tables).
    first_match = F.expr(" AND ".join(
        f"(a.chunk <= {k} OR a.c{k} != b.c{k})"
        for k in range(SIMHASH_CHUNKS - 1)))
    return (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.ck") == F.col("b.ck"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & first_match)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    hamming.alias("hamming"))
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING))


def _cc_oracle() -> str:
    """DuckDB replica of dedup_connected_components: the SAME LSH
    candidate+verify pair generation as :func:`_lsh_pairs_ctes` feeding
    an (unchanged) recursive-CTE transitive closure."""
    return f"""
    WITH RECURSIVE {_lsh_pairs_ctes()},
    edges AS (
      SELECT vec_a AS src, vec_b AS dst FROM pairs
      UNION ALL SELECT vec_b AS src, vec_a AS dst FROM pairs),
    reach(vec_id, comp) AS (
      SELECT vec_id, vec_id AS comp FROM embeddings
      UNION
      SELECT e.dst AS vec_id, r.comp
      FROM reach r JOIN edges e ON e.src = r.vec_id)
    SELECT vec_id, MIN(comp) AS component FROM reach GROUP BY vec_id
    """


@register("dedup_connected_components", bench=True, category="dedup",
          oracle=_cc_oracle())
def dedup_connected_components(spark, sf_dir):
    """Full transitive-closure dedup: connected components of the
    LSH-verified cosine-≥-τ near-dup graph (the fixed point that the
    one-hop dedup_embedding_lsh_blocked pass approximates). Component
    id = min vec_id reachable through any chain of near-duplicates.

    Edge generation reuses :func:`lsh_verified_pairs` — (label, table,
    bucket) blocking + exact-cosine verification — so no label group is
    ever joined all-pairs; per-block occupancy is ~|group|/2^bits, which
    is what survives a skewed 100 TB label distribution. The DuckDB
    oracle replicates the identical candidate stage before its recursive
    closure (blocking at τ=0.35 is NOT lossless — measured at sf0.01 the
    planes miss 17/26 exact pairs — so the oracle must block the same
    way; the closure semantics over the blocked graph are then verified
    bit-for-bit).

    Iterative min-label propagation: each round every vertex takes the
    min of its own component id and its neighbors'; converges in
    O(component diameter) rounds (checked distributedly — the driver only
    sees a changed-row count per round). Per-round lineage is cut with
    localCheckpoint so the plan doesn't grow with iterations — the
    standard large-graph CC shape (GraphX/GraphFrames use the same
    algorithm); edges shuffle-partition by src once and stay put.

    TWO propagation steps run per job: at small scale the loop is
    round-scheduling-bound (near-dup clusters have tiny diameters), so
    halving the job/collect/checkpoint count is a measured win (3.44 →
    2.90 s at sf0.1, identical labels); at 100 TB the second hop rides
    the same shuffle round and just converges in half the rounds. The
    stop test needs only the SECOND step's changed-count: step 2
    observing zero changes certifies a fixed point regardless of what
    step 1 did."""
    e = table(spark, sf_dir, "embeddings")
    # dedup=False: the candidate distinct's shuffle is FOLDED into the
    # edge-partitioning exchange inside the shared propagation loop —
    # repartition("src") clusters the (multi-table-duplicated) edges,
    # so dropDuplicates there needs no exchange of its own
    pairs = lsh_verified_pairs(e, EMB_DEDUP_TAU, dedup=False).select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    return connected_components_from_pairs(e.select("vec_id"), pairs)


def connected_components_from_pairs(vertices: DataFrame,
                                    pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an arbitrary verified near-dup pair
    stream — the ONE component-consumer shared by the embedding-cosine
    graph (:func:`dedup_connected_components`) and the SimHash graph
    (:func:`simhash_components`). ``vertices`` is a (vec_id) frame of
    every node (isolated nodes come out as their own component);
    ``pairs`` is (src, dst) with each undirected edge in either (or
    both, or duplicated — tolerated) orientation. Returns
    (vec_id, component), component = min reachable vec_id.

    The algorithmic shape is documented on
    :func:`dedup_connected_components` (double-step rounds, lazy
    localCheckpoint lineage cuts, edges repartitioned by src once and
    reused exchange-free every round)."""
    # repartition("src") clusters the (possibly duplicated) edges, so
    # dropDuplicates then needs NO exchange of its own (hash(src)
    # already co-locates every (src, dst) group), and the checkpoint
    # keeps that partitioning, so the edges side of EVERY propagation
    # round's join is exchange-free too
    edges = track_cache(
        pairs.unionByName(pairs.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst")))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
        .localCheckpoint(eager=True))
    # jump-start hop: with identity labels, "min neighbor comp" is just
    # min(src) per dst — the first hop needs no labels join at all (it
    # folds into the first double-round's job as a plain aggregate over
    # the cached edges instead of an SMJ against the vertices scan)
    labels = (vertices
              .join(edges.groupBy(F.col("dst").alias("vec_id"))
                    .agg(F.min("src").alias("n0")), "vec_id", "left")
              .select("vec_id",
                      F.least("vec_id", F.coalesce("n0", "vec_id"))
                      .alias("comp")))
    prev = None  # superseded round checkpoints die inside the loop
    while True:
        s1 = (labels.join(
                  (edges.join(labels, edges.src == labels.vec_id)
                   .groupBy(F.col("dst").alias("vec_id"))
                   .agg(F.min("comp").alias("n1"))), "vec_id", "left")
              .select("vec_id",
                      F.least("comp", F.coalesce("n1", "comp"))
                      .alias("comp")))
        nbr2 = (edges.join(s1, edges.src == s1.vec_id)
                .groupBy(F.col("dst").alias("vec_id"))
                .agg(F.min("comp").alias("n2")))
        new = (s1.join(nbr2, "vec_id", "left")
               .select("vec_id",
                       F.least("comp", F.coalesce("n2", "comp"))
                       .alias("comp"),
                       (F.coalesce("n2", "comp") < F.col("comp"))
                       .cast("long").alias("changed"))
               # lazy: the changed-count action below materializes the
               # checkpoint, so each double-round runs ONE job instead
               # of an eager-materialize job plus a count job
               .localCheckpoint(eager=False))
        changed = new.agg(F.sum("changed")).collect()[0][0]
        if prev is not None:
            prev.unpersist()
        prev = new
        labels = new.select("vec_id", "comp")
        if not changed:
            break
    track_cache(prev)  # the converged labels the caller is about to read
    return labels.select("vec_id", F.col("comp").alias("component"))


def _simhash_cc_oracle() -> str:
    """DuckDB replica of simhash_components: the UNCHANGED simhash pair
    oracle (nested as a derived table, so the two stay byte-coupled)
    feeding the same recursive-CTE transitive closure shape as
    :func:`_cc_oracle`."""
    return f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_simhash_oracle()}) sp),
    edges AS MATERIALIZED (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
    reach(doc_id, comp) AS (
      SELECT doc_id, doc_id AS comp FROM documents
      UNION
      SELECT e.dst AS doc_id, r.comp
      FROM reach r JOIN edges e ON e.src = r.doc_id)
    SELECT doc_id, MIN(comp) AS component FROM reach GROUP BY doc_id
    """


@register("simhash_components", category="dedup",
          confs=_FINE_COALESCING,  # its edge stream is dedup_simhash
          oracle=_simhash_cc_oracle())
def simhash_components(spark, sf_dir):
    """The node-bounded SimHash consumer dedup_simhash's own docstring
    prescribes for low-diversity corpora (where genuine Hamming-≤3
    pairs grow ~N² — 1.43 B pairs at the measured 500 k-doc decade):
    instead of materializing the pair set, stream it into min-label
    connected components, whose OUTPUT is one row per document no
    matter how dense the near-dup graph gets. One definition end to
    end: the edge stream IS :func:`dedup_simhash` (same signatures,
    same chunk blocking, same first-match dedup), and the propagation
    loop IS :func:`connected_components_from_pairs` — the machinery
    dedup_connected_components already runs on the embedding graph.
    Every document appears (tokenless docs are their own singleton
    component); component = min doc_id reachable through any chain of
    Hamming-≤3 near-duplicates."""
    pairs = dedup_simhash(spark, sf_dir).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    verts = (table(spark, sf_dir, "documents")
             .select(F.col("doc_id").alias("vec_id")))
    return (connected_components_from_pairs(verts, pairs)
            .select(F.col("vec_id").alias("doc_id"), "component"))


# ------------------------------------------------------------ URL dedup

@register(
    "dedup_url_canonical",
    category="dedup",
    oracle="""
    WITH canon AS (
      SELECT doc_id,
             'site' || CAST(doc_id % 50 AS VARCHAR) || '.example.com'
               || '/path' || CAST(doc_id % 13 AS VARCHAR)
               || '?id=' || CAST(doc_id % 20 AS VARCHAR) AS canonical_url
      FROM documents WHERE doc_id % 2 = 0)
    SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM canon GROUP BY canonical_url HAVING COUNT(*) > 1
    """)
def dedup_url_canonical(spark, sf_dir):
    """URL-canonicalization dedup — the CommonCrawl-pipeline staple:
    pages fetched under URLs differing only in host case, tracking
    parameters, or fragments are one document. Every 2nd doc gets a
    closed-form dirty URL (mixed-case host, a ``utm_source`` tracking
    param, a fragment); the engine then does the REAL work with
    ``parse_url`` (Spark's Hive-parity URL parser, JVM codegen):
    HOST lowercased, PATH kept, the one meaningful query param
    re-extracted via ``parse_url(.., 'QUERY', 'id')`` — tracking params
    and fragment dropped by construction of the rebuild. Groups with
    >1 doc per canonical URL are the duplicate sets (keeper = min
    doc_id, same convention as the other dedup families). The oracle
    recomputes the canonical form arithmetically — it never parses a
    URL — so the parse/canonicalize path is value-checked end-to-end.

    Scale: projection + one count aggregate on the canonical key —
    map-side combined, one shuffle, no Python."""
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    did = F.col("doc_id")
    url = F.concat(
        F.lit("https://Site"), (did % 50).cast("string"),
        F.lit(".Example.COM/path"), (did % 13).cast("string"),
        F.lit("?utm_source=feed"), (did % 5).cast("string"),
        F.lit("&id="), (did % 20).cast("string"),
        F.lit("#sec"), (did % 7).cast("string"))
    canonical = F.concat(
        F.lower(F.parse_url(url, F.lit("HOST"))),
        F.parse_url(url, F.lit("PATH")),
        F.lit("?id="), F.parse_url(url, F.lit("QUERY"), F.lit("id")))
    return (d.select(canonical.alias("canonical_url"), "doc_id")
            .groupBy("canonical_url")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("n_docs") > 1))


# ------------------------------------------- directional containment

#: word-n-gram width and containment threshold for subset detection
CONTAINMENT_G = 3
CONTAINMENT_TAU = 0.8

_WORD_GRAM_ARR = (
    f"array_distinct(transform(sequence(1, size(arr) - {CONTAINMENT_G - 1}),"
    f" i -> concat_ws(' ', slice(arr, i, {CONTAINMENT_G}))))")


@register(
    "text_ngram_containment",
    category="dedup",
    confs=_FINE_COALESCING,  # prefix self-join + verify, as PPJoin
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS arr
      FROM documents WHERE text <> ''),
    grams AS (
      SELECT DISTINCT doc_id, lang,
             ARRAY_TO_STRING(list_slice(arr, i, i + {CONTAINMENT_G - 1}),
                             ' ') AS gr
      FROM tok,
           LATERAL UNNEST(generate_series(1, len(arr) - {CONTAINMENT_G - 1}))
             u(i)
      WHERE len(arr) >= {CONTAINMENT_G}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM grams a JOIN grams b
        ON a.gr = b.gr AND a.lang = b.lang AND a.doc_id <> b.doc_id
      GROUP BY 1, 2)
    SELECT p.doc_a, p.doc_b, CAST(p.n_common AS BIGINT) AS n_common,
           CAST(sa.n AS BIGINT) AS size_a, CAST(sb.n AS BIGINT) AS size_b,
           CAST(p.n_common AS DOUBLE) / sa.n AS containment
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.doc_a
    JOIN sizes sb ON sb.doc_id = p.doc_b
    WHERE CAST(p.n_common AS DOUBLE) / sa.n >= {CONTAINMENT_TAU}
    """)
def text_ngram_containment(spark, sf_dir):
    """DIRECTIONAL containment C(a→b) = |A∩B| / |A| over distinct word
    3-gram sets: is document a mostly CONTAINED in document b? The
    asymmetric sibling of the Jaccard family — Jaccard misses a short
    doc swallowed by a long one (the union term drowns it), yet that is
    exactly the contamination/quotation/boilerplate-subset case a
    training pipeline must catch (benchmark-inside-crawl, quoted-reply
    chains, templated wrappers around copied bodies).

    Candidate generation is an A-side-only prefix filter: a pair with
    overlap ≥ o = ⌈τ·|A|⌉ must, by pigeonhole over the global rarity
    order, share one of A's |A| − o + 1 RAREST grams — and because the
    B side joins its FULL gram list (not a prefix), a prefix
    non-collision is DEFINITIVE absence, so 'shares ≥ 1 A-prefix gram'
    is already lossless (no overlap-accumulation bound needed, unlike
    the two-sided Jaccard PPJoin). Skew safety falls out of the same
    rarity order: the join only ever keys on A's rarest grams, whose
    posting lists are short by construction — hot grams ('the of and')
    never become join keys. Exact verification then intersects the two
    cached hash sets per surviving pair (whole-stage codegen
    array_intersect, no explode). The oracle runs the UNFILTERED
    inverted-index form, so the pruning itself is value-checked.
    Output: (doc_a, doc_b, n_common, size_a, size_b, containment);
    containment is one exact int/int division, deterministic IEEE."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    # the >= G words gate as a cheap string predicate: split() keeps
    # empty tokens (limit -1), so size(split(text,' ')) is EXACTLY the
    # space count + 1 — filtering on size(arr) here pushed the whole
    # split below the spread() exchange into the scan's few splits and
    # re-evaluated it post-exchange (the route tier's measured
    # single-threaded-scan defect); the length form costs two lengths
    # per row in the scan and prunes rows BEFORE the exchange
    d = d.filter(F.expr(
        f"length(text) - length(replace(text, ' ', ''))"
        f" >= {CONTAINMENT_G - 1}"))
    item_sets = (spread(d)
                 .select("doc_id", "lang", F.split("text", " ").alias("arr"))
                 .select("doc_id", "lang",
                         F.expr(_WORD_GRAM_ARR).alias("items")))
    tau = CONTAINMENT_TAU
    sets = track_cache(
        item_sets.select(
            "doc_id", "lang",
            F.sort_array(F.expr(
                "transform(items, x -> xxhash64(x))")).alias("iset"))
        .withColumn("n_s", F.size("iset").cast("long"))
        .persist())
    sets.count()   # eager materialization (see ppjoin_jaccard_pairs)
    ex = sets.select("doc_id", "lang", "n_s",
                     F.explode("iset").alias("ih"))
    freq = ex.groupBy("lang", "ih").agg(F.count(F.lit(1)).alias("gf"))
    wdoc = Window.partitionBy("doc_id").orderBy("gf", "ih")
    prefix = (ex.join(freq, ["lang", "ih"])
              .withColumn("rn", F.row_number().over(wdoc))
              .filter(F.col("rn") <= F.col("n_s")
                      - F.ceil(F.lit(tau) * F.col("n_s")) + 1)
              .select("doc_id", "lang", "ih")
              .persist())
    track_cache(prefix)
    prefix.count()
    posting = ex.select(F.col("doc_id").alias("doc_b"), "lang", "ih")
    cand = (prefix.alias("pa").join(
                posting.alias("pb"),
                (F.col("pa.ih") == F.col("pb.ih"))
                & (F.col("pa.lang") == F.col("pb.lang"))
                & (F.col("pa.doc_id") != F.col("pb.doc_b")))
            .select(F.col("pa.doc_id").alias("doc_a"),
                    F.col("pb.doc_b").alias("doc_b"))
            .distinct())
    sa = sets.select(F.col("doc_id").alias("doc_a"),
                     F.col("iset").alias("set_a"),
                     F.col("n_s").alias("size_a"))
    sb = sets.select(F.col("doc_id").alias("doc_b"),
                     F.col("iset").alias("set_b"),
                     F.col("n_s").alias("size_b"))
    # same union-identity as ppjoin_jaccard_pairs' verify: array_union
    # runs on the primitive-long fast path, array_intersect boxes
    # (16x micro-benchmarked there); exact because isets are
    # distinct-per-doc under the pipeline's hash convention
    n_common = (F.col("size_a") + F.col("size_b")
                - F.size(F.array_union("set_a", "set_b")))
    cont = n_common.cast("double") / F.col("size_a")
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b",
                    n_common.cast("long").alias("n_common"),
                    "size_a", "size_b", cont.alias("containment"))
            .filter(F.col("containment") >= tau))


# ---------------------------------------------------- edit-distance tier

#: prefix-block + length-bucket candidate keys for the Levenshtein tier
_LEV_PREFIX = 24
_LEV_LEN_BUCKET = 16
_LEV_TAU = 12


@register(
    "text_dedup_levenshtein",
    category="dedup",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, text,
             substr(text, 1, {_LEV_PREFIX}) AS pfx,
             n_chars // {_LEV_LEN_BUCKET} AS lb
      FROM documents)
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.text, c.text) AS BIGINT) AS edit_distance
    FROM b a JOIN b c
      ON a.lang = c.lang AND a.pfx = c.pfx AND a.lb = c.lb
     AND a.doc_id < c.doc_id
    WHERE levenshtein(a.text, c.text) <= {_LEV_TAU}
    ORDER BY doc_a, doc_b
    """)
def text_dedup_levenshtein(spark, sf_dir):
    """Edit-distance near-dup tier: pairs whose Levenshtein distance
    is <= 12, found by equality blocking on (lang, first-24-chars,
    16-char length bucket) — the cheap key under which true
    edit-near-dups almost always collide (a <= 12-edit pair differing
    inside the first 24 characters AND across a length-bucket boundary
    is the only recall loss; MinHash/SimHash cover that regime). The
    verify step is Spark's built-in ``levenshtein`` — whole-stage-
    codegen DP on the JVM, no Python. DuckDB's ``levenshtein`` is
    byte-based while Spark's is codepoint-based; this corpus is pure
    ASCII (they agree exactly), which the oracle relies on —
    documented, not assumed silently.

    Scale: candidates are bounded per (lang, prefix, bucket) block —
    the same equality-join blocking shape as the exact-Jaccard tier,
    so the gram-saturation caveat applies on low-diversity corpora:
    prefix blocks stop multiplying when the vocabulary saturates and
    block sizes then grow linearly. The saturation guard pattern
    (docs-per-distinct-block-key threshold) routes to the signature
    tiers exactly as in dedup_ngram_jaccard."""
    d = table(spark, sf_dir, "documents")
    b = d.select("doc_id", "lang", "text",
                 F.substring("text", 1, _LEV_PREFIX).alias("pfx"),
                 (F.col("n_chars") / _LEV_LEN_BUCKET).cast("long")
                 .alias("lb"))
    a, c = b.alias("a"), b.alias("c")
    lev = F.levenshtein(F.col("a.text"), F.col("c.text"))
    return (a.join(c, (F.col("a.lang") == F.col("c.lang"))
                   & (F.col("a.pfx") == F.col("c.pfx"))
                   & (F.col("a.lb") == F.col("c.lb"))
                   & (F.col("a.doc_id") < F.col("c.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("c.doc_id").alias("doc_b"),
                    lev.cast("long").alias("edit_distance"))
            .filter(F.col("edit_distance") <= _LEV_TAU)
            .orderBy("doc_a", "doc_b"))
