"""Gram-space saturation guard for the exact Jaccard tier.

SCALE_MEASURED.md measured dedup_ngram_jaccard at α ≈ 2.3 on the
driver-shaped bounded-vocabulary corpus: the distinct-gram space sits
flat (1,885 keys) while prefix-collision rows grow N². No exact
algorithm can skip pairs that genuinely share rare grams, so the
engine's job is to DETECT the condition (mean posting-list length from
the freq table the prefix stage already builds) and warn/raise, naming
the calibrated approximate tier (dedup_minhash_lsh, measured α ≈ 0.48).

These tests prove: a bounded-vocab corpus triggers the guard, a
diverse-vocab corpus of the same size does not, on_saturation=
'raise'|'ignore' behave as documented, and the guarded operators'
results are unchanged (the warning never alters the pair set).
"""
import warnings

import pyspark.sql.functions as F
import pytest

from cstore_fdw_spark.operators.dedup import (
    SATURATION_POSTINGS_PER_ITEM, JaccardSaturationWarning,
    ppjoin_jaccard_pairs)


def _corpus(spark, n_docs: int, vocab: int):
    """n_docs docs whose token sets draw from a `vocab`-word space.
    Tiny vocab → every token's posting list spans ~all docs (saturated);
    vocab >> n_docs → posting lists stay O(1) (diverse)."""
    return (spark.range(n_docs)
            .select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"),
                    F.expr(f"array_distinct(transform(sequence(0, 19), "
                           f"j -> concat('w', pmod(id * 7 + j, {vocab}))))")
                    .alias("items")))


def test_bounded_vocab_triggers_warning(spark):
    # 20 distinct items/doc from a 24-word space over 600 docs:
    # postings ≈ 12,000 over ≤24 items ≈ 500 docs/item > threshold
    sets = _corpus(spark, 600, 24)
    with pytest.warns(JaccardSaturationWarning, match="dedup_minhash_lsh"):
        ppjoin_jaccard_pairs(sets, 0.8)


def test_diverse_vocab_is_silent(spark):
    # same size corpus, 1M-word space: posting lists are ~1 doc long
    sets = _corpus(spark, 600, 1_000_000)
    with warnings.catch_warnings():
        warnings.simplefilter("error", JaccardSaturationWarning)
        df = ppjoin_jaccard_pairs(sets, 0.8)
        df.count()  # the full pipeline still runs clean


def test_on_saturation_raise_and_ignore(spark):
    sets = _corpus(spark, 600, 24)
    with pytest.raises(RuntimeError, match="saturated"):
        ppjoin_jaccard_pairs(sets, 0.8, on_saturation="raise")
    with warnings.catch_warnings():
        warnings.simplefilter("error", JaccardSaturationWarning)
        ppjoin_jaccard_pairs(sets, 0.8, on_saturation="ignore")
    with pytest.raises(ValueError, match="on_saturation"):
        ppjoin_jaccard_pairs(sets, 0.8, on_saturation="reroute")


def _sets_cache_fill(spark) -> tuple[int, int]:
    """(cached, total) partitions of the persisted per-doc hash sets:
    the one in-memory RDD whose plan's top projection derives n_s."""
    infos = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
             if "AS n_s#" in i.name().splitlines()[0]]
    assert len(infos) == 1, [i.name()[:80] for i in infos]
    return infos[0].numCachedPartitions(), infos[0].numPartitions()


@pytest.mark.parametrize("mode", ["warn", "ignore"])
def test_sets_cache_filled_before_plan_fans_out(spark, mode):
    """The persisted `sets` must be fully cached by the time
    ppjoin_jaccard_pairs returns, with no further action: the prefix
    build, both self-join sides and the verify join all read it, and
    racing parallel branches over a half-filled lazy persist recompute
    the whole set build. On 'warn' the saturation guard's collect is
    that fill; 'ignore' skips the guard and relies on its own count()."""
    from cstore_fdw_spark.operators import clear_caches

    clear_caches(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", JaccardSaturationWarning)
        ppjoin_jaccard_pairs(_corpus(spark, 600, 24), 0.8,
                             on_saturation=mode)
    cached, total = _sets_cache_fill(spark)
    assert cached == total
    clear_caches(spark)


def test_route_falls_through_to_minhash_tier(spark):
    """Saturated corpus + 'route' returns exactly the pair set the
    MinHash-LSH tier computes directly over the same item sets (same
    doc pairs, same exactly-verified jaccard ≥ τ), marked approx."""
    from cstore_fdw_spark.operators.dedup import (
        minhash_pairs_from_shingled)
    sets = _corpus(spark, 600, 24)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", JaccardSaturationWarning)
        routed = ppjoin_jaccard_pairs(sets, 0.8, on_saturation="route")
    assert routed.columns == ["doc_a", "doc_b", "n_common", "size_a",
                              "size_b", "jaccard", "approx"]
    got = sorted((r.doc_a, r.doc_b, r.n_common, r.jaccard, r.approx)
                 for r in routed.collect())
    direct = minhash_pairs_from_shingled(
        sets.select("doc_id", F.col("items").alias("shingles")),
        full=True).filter(F.col("jaccard") >= 0.8)
    want = sorted((r.doc_a, r.doc_b, r.n_common, r.jaccard, True)
                  for r in direct.collect())
    assert got == want
    assert len(got) > 0  # 24-word vocab: collisions guaranteed


def test_route_stays_exact_on_diverse_corpus(spark):
    """Unsaturated corpus + 'route' runs the exact tier (approx=false)
    and matches the 'ignore' run row-for-row."""
    sets = _corpus(spark, 600, 1_000_000)
    with warnings.catch_warnings():
        warnings.simplefilter("error", JaccardSaturationWarning)
        routed = ppjoin_jaccard_pairs(sets, 0.8, on_saturation="route")
        exact = ppjoin_jaccard_pairs(sets, 0.8, on_saturation="ignore")
    assert routed.columns == exact.columns + ["approx"]
    got = sorted((r.doc_a, r.doc_b, r.n_common, r.jaccard, r.approx)
                 for r in routed.collect())
    want = sorted((r.doc_a, r.doc_b, r.n_common, r.jaccard, False)
                  for r in exact.collect())
    assert got == want


def test_warning_never_changes_results(spark):
    """The guarded run returns the identical pair set as 'ignore' —
    the guard is observability, not a semantics switch."""
    sets = _corpus(spark, 300, 24)

    def pairs(mode):
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", JaccardSaturationWarning)
            df = ppjoin_jaccard_pairs(sets, 0.8, on_saturation=mode)
            return sorted((r.doc_a, r.doc_b, r.n_common)
                          for r in df.collect())

    assert pairs("warn") == pairs("ignore")


def test_threshold_is_sane():
    """Diverse corpora (posting lists O(dup-cluster size), single
    digits) clear the threshold by orders of magnitude; the measured
    blow-up regime (~4,500 docs/gram at g1.0) is far above it."""
    assert 32 <= SATURATION_POSTINGS_PER_ITEM <= 1024


def test_route_recall_floor_on_near_duplicates(spark):
    """Recall floor for the rarity-prefix route tier (ADVICE r15):
    known near-duplicate pairs — docs of >ROUTE_PREFIX_K items with 1-2
    token edits — MUST still collide through the prefix tier, so a
    future ROUTE_PREFIX_K tuning can't silently gut recall. Each pair
    shares 26 rare tokens (df=2, sorting before the common fillers in
    the global (lang, df, item) order) and differs in 1-2 COMMON
    fillers: the rarity prefix is then the same set on both sides for
    any K ≤ 26, and still overwhelmingly overlapping for larger K —
    exactly the regime the docstring's 'bounded recall' promise has to
    keep honoring."""
    from cstore_fdw_spark.operators.dedup import (
        ROUTE_PREFIX_K, routed_jaccard_pairs)

    n_pairs = 30
    rows = []
    for i in range(n_pairs):
        shared = [f"p{i}_{j}" for j in range(26)]
        fill_a = [f"c{k}" for k in range(7)]          # c0..c6
        fill_b = [f"c{k}" for k in range(6)] + ["c7"]  # 1-edit away
        rows.append((2 * i, "en", shared + fill_a))
        rows.append((2 * i + 1, "en", shared + fill_b))
    sets = spark.createDataFrame(
        rows, "doc_id long, lang string, items array<string>")
    assert all(len(r[2]) > ROUTE_PREFIX_K for r in rows)

    got = {(r.doc_a, r.doc_b): r
           for r in routed_jaccard_pairs(sets, 0.8).collect()}
    for i in range(n_pairs):
        pair = (2 * i, 2 * i + 1)
        assert pair in got, f"near-dup pair {pair} lost by the prefix tier"
        r = got[pair]
        # |A|=|B|=33, |A∩B|=32 → jaccard = 32/34, computed EXACTLY
        # over the full sets (the tier's verify stage, not the sketch)
        assert r.n_common == 32 and r.size_a == 33 and r.size_b == 33
        assert abs(r.jaccard - 32 / 34) < 1e-12
        assert r.approx is True
