"""Text-analysis operators over ``documents``: token statistics, quality
scoring, language ID, fingerprinting — the text side of the training-data
pipeline extensions.

All hot paths are JVM built-ins (split/regexp/aggregate); ratios are exact
integer divisions in double (deterministic). The rolling-hash winnowing
fingerprint uses the portable md5 gram hash (functions.portable_hash), so
it carries a full oracle like the md5 content fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from cstore_fdw_spark.operators import register, table, track_cache

#: minimal per-language lexicons for the stopword-overlap language-ID
#: heuristic (the engine ships these as a broadcast dimension; real
#: deployments would swap in full stopword lists).
LANG_LEXICONS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "data"],
    "de": ["der", "die", "das", "und"],
    "es": ["el", "la", "de", "y"],
    "fr": ["le", "la", "de", "et"],
    "zh": ["de", "shi", "he"],
}


@register(
    "text_token_stats",
    category="text",
    bench=True,
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT)
             AS n_distinct,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / LEN(STRING_SPLIT(text, ' ')) AS avg_token_len,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_actual,
           LENGTH(text) = n_chars AS chars_match
    FROM documents
    """)
def text_token_stats(spark, sf_dir):
    """Token counting (whitespace tokenizer): totals, distincts, average
    token length, and a metadata-consistency check against n_chars."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double")
         / F.size(toks)).alias("avg_token_len"),
        F.length("text").cast("long").alias("n_chars_actual"),
        (F.length("text") == F.col("n_chars")).alias("chars_match"))


@register(
    "text_token_count_bpe_ish",
    category="text",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(REGEXP_SPLIT_TO_ARRAY(text, '\s+')) AS BIGINT) AS words,
           CAST(LENGTH(REGEXP_REPLACE(text, '[^aeiou]', '', 'g')) AS BIGINT)
             AS vowels,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """)
def text_token_count_bpe_ish(spark, sf_dir):
    r"""Regex tokenization + the chars/4 BPE-token heuristic used for
    budget estimates in LLM data pipelines."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("long").alias("words"),
        F.length(F.regexp_replace("text", "[^aeiou]", "")).cast("long")
        .alias("vowels"),
        F.ceil(F.length("text") / 4.0).cast("long")
        .alias("approx_bpe_tokens"))


@register(
    "text_quality_score", bench=True,
    category="text",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop,
             CAST(LENGTH(text) AS BIGINT) AS n_chars_a
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_chars_a AS DOUBLE) / n_tokens AS chars_per_token,
           n_tokens >= 20 AND n_tokens <= 1000
             AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01 AS passes_quality
    FROM t
    """)
def text_quality_score(spark, sf_dir):
    """Quality scoring: length bounds + stopword-ratio gate (the classic
    C4/Gopher-style filters, expressed as one projection)."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda w: w.isin("the", "a", "of", "and"))).cast("long")
    stop_ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        (F.length("text").cast("double") / n_tokens).alias("chars_per_token"),
        ((n_tokens >= 20) & (n_tokens <= 1000) & (stop_ratio >= 0.01))
        .alias("passes_quality"))


def _lexicon_sql_values() -> str:
    rows = [f"('{lang}', '{w}')"
            for lang, words in sorted(LANG_LEXICONS.items())
            for w in words]
    return ", ".join(rows)


@register(
    "text_langid_stopword",
    category="text",
    oracle=f"""
    WITH lex(lex_lang, word) AS (VALUES {_lexicon_sql_values()}),
    tok AS (
      SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents),
    scores AS (
      SELECT t.doc_id, l.lex_lang, COUNT(*) AS hits
      FROM tok t JOIN lex l ON t.token = l.word
      GROUP BY 1, 2),
    best AS (
      SELECT doc_id, lex_lang AS pred_lang, hits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, lex_lang) AS rn
      FROM scores)
    SELECT d.doc_id, d.lang AS labeled_lang,
           COALESCE(b.pred_lang, 'und') AS pred_lang,
           COALESCE(b.hits, 0) AS hits
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id AND b.rn = 1
    """)
def text_langid_stopword(spark, sf_dir):
    """Language ID via stopword-lexicon overlap: distinct tokens joined to
    a broadcast lexicon, argmax language with deterministic tie-break,
    'und' for zero-evidence docs."""
    from pyspark.sql.window import Window
    d = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(
        [(lang, w) for lang, words in sorted(LANG_LEXICONS.items())
         for w in words], "lex_lang string, word string")
    tok = (d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
           .distinct())
    scores = (tok.join(F.broadcast(lex), tok.token == lex.word)
              .groupBy("doc_id", "lex_lang")
              .agg(F.count(F.lit(1)).alias("hits")))
    w = Window.partitionBy("doc_id").orderBy(F.col("hits").desc(), "lex_lang")
    best = (scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("lex_lang").alias("pred_lang"), "hits"))
    return (d.join(best, "doc_id", "left")
            .select("doc_id", F.col("lang").alias("labeled_lang"),
                    F.coalesce("pred_lang", F.lit("und")).alias("pred_lang"),
                    F.coalesce("hits", F.lit(0)).alias("hits")))


@register(
    "text_fingerprint_md5",
    category="text",
    oracle="""
    SELECT doc_id,
           MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
             AS content_fp,
           SUBSTRING(MD5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))),
                     1, 8) AS fp_prefix
    FROM documents
    """)
def text_fingerprint_md5(spark, sf_dir):
    """Content fingerprint: md5 of whitespace-normalized lowercase text
    (the portable digest; the winnowing variant below is the robust one)."""
    d = table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    fp = F.md5(norm.cast("binary"))
    return d.select("doc_id", fp.alias("content_fp"),
                    F.substring(fp, 1, 8).alias("fp_prefix"))


WINNOW_K = 8     # char k-grams
WINNOW_W = 4     # winnowing window


def _winnow_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    gram_h = duck_h60(f"substr(text, i, {WINNOW_K})")
    return f"""
    WITH g AS (
      SELECT doc_id, list_transform(
        generate_series(1, GREATEST(length(text) - {WINNOW_K - 1}, 1)),
        i -> {gram_h}) AS gh
      FROM documents),
    wmin AS (
      SELECT doc_id, list_distinct(list_transform(
        generate_series(1, GREATEST(len(gh) - {WINNOW_W - 1}, 1)),
        j -> list_min(list_slice(gh, j, j + {WINNOW_W - 1})))) AS fps
      FROM g)
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fingerprints,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM wmin
    """


@register("text_winnow_fingerprint", category="text",
          oracle=_winnow_oracle())
def text_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprint (Schleimer et al. '03): rolling char
    k-gram hashes, per-window minimum selection, distinct fingerprint set.
    All JVM-side: sequence→transform(substring)→window-min via another
    transform. Gram hashes use the portable md5 scheme
    (functions.portable_hash), so the DuckDB oracle recomputes the exact
    fingerprint sets. Output: (doc_id, n_fingerprints, min_fp, max_fp)."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    # the whole fingerprint is ONE fused expression: gram hashes bound to a
    # lambda variable (evaluated once per row — without the binding,
    # ProjectCollapse would re-inline the gram transform into every window
    # position, O(len²)), then window-mins, then a stats struct so the
    # three output columns share one evaluation.
    grams = (f"transform(sequence(1, greatest(length(text) - {WINNOW_K - 1}, 1)),"
             f" i -> {spark_h60(f'substring(text, i, {WINNOW_K})')})")
    stats = F.expr(
        f"transform(array({grams}), g ->"
        f" transform(array(array_distinct("
        f"   transform(sequence(1, greatest(size(g) - {WINNOW_W - 1}, 1)),"
        f"     j -> array_min(slice(g, j, {WINNOW_W}))))),"
        f"  fps -> struct(size(fps) AS n, array_min(fps) AS mn,"
        f"                array_max(fps) AS mx))[0])[0]")
    # inline() is a generator → its child evaluates once per row, so the
    # three outputs don't re-trigger the fingerprint computation
    return (d.select("doc_id", F.inline(F.array(stats)))
            .select("doc_id",
                    F.col("n").cast("long").alias("n_fingerprints"),
                    F.col("mn").alias("min_fp"),
                    F.col("mx").alias("max_fp")))


TFIDF_TOP_K = 5
#: fixed-point scale for the exact integer idf surrogate
_TFIDF_SCALE = 1_000_000


@register(
    "text_tfidf_top_terms",
    category="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents WHERE text <> ''),
    tf AS (SELECT lang, token, COUNT(*) AS tf
           FROM tok GROUP BY lang, token),
    df AS (SELECT lang, token, COUNT(DISTINCT doc_id) AS df
           FROM tok GROUP BY lang, token),
    nd AS (SELECT lang, COUNT(DISTINCT doc_id) AS n_docs
           FROM tok GROUP BY lang),
    scored AS (
      SELECT tf.lang, tf.token, tf.tf, df.df, nd.n_docs,
             CAST(tf.tf AS BIGINT) * nd.n_docs * {_TFIDF_SCALE} // df.df
               AS weight
      FROM tf JOIN df ON tf.lang = df.lang AND tf.token = df.token
      JOIN nd ON nd.lang = tf.lang)
    SELECT lang, token, tf, df, n_docs, weight, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY weight DESC, token) AS BIGINT) AS rank
      FROM scored) t
    WHERE rank <= {TFIDF_TOP_K}
    """)
def text_tfidf_top_terms(spark, sf_dir):
    """Top distinctive terms per language by TF-IDF-style weighting.

    The idf factor is the exact rational n_docs/df in 1e6 fixed point
    (integer floor division) rather than ln(n_docs/df): ln() is not
    bit-identical between the JVM and other libm implementations (measured
    ~2% 1-ulp divergence), and an exact integer weight makes the ranking
    hash-stable across engines while ordering identically to 1/df-weighted
    tf within a language. Corpus-frequency weighting like this is the
    standard first signal for training-data curation (boilerplate and
    template detection).

    Scale: two aggregations on (lang, token) — both map-side combinable —
    plus one per-lang count; the ranking window partitions by lang. At
    100 TB the token-count table is the big intermediate; everything is
    narrow (lang, token, counts) and shuffles once."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    tok = d.select("doc_id", "lang",
                   F.explode(F.split("text", " ")).alias("token"))
    stats = (tok.groupBy("lang", "token")
             .agg(F.count(F.lit(1)).alias("tf"),
                  F.countDistinct("doc_id").alias("df")))
    nd = (tok.groupBy("lang")
          .agg(F.countDistinct("doc_id").alias("n_docs")))
    from pyspark.sql.window import Window
    w = Window.partitionBy("lang").orderBy(F.col("weight").desc(), "token")
    return (stats.join(F.broadcast(nd), "lang")
            .withColumn("weight",
                        F.expr(f"tf * n_docs * {_TFIDF_SCALE} div df"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= TFIDF_TOP_K)
            .select("lang", "token", "tf", "df", "n_docs", "weight", "rank"))


@register(
    "text_ngram_topk_per_lang",
    category="text",
    oracle="""
    WITH g AS (
      SELECT lang, UNNEST(list_transform(
               generate_series(1, GREATEST(LENGTH(text) - 2, 1)),
               i -> substr(text, i, 3))) AS gram
      FROM documents WHERE text <> ''),
    f AS (
      SELECT lang, gram, COUNT(*) AS freq
      FROM g WHERE LENGTH(gram) = 3 GROUP BY 1, 2),
    r AS (
      SELECT lang, gram, freq,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY freq DESC, gram) AS BIGINT) AS rank
      FROM f)
    SELECT lang, gram, freq, rank FROM r WHERE rank <= 10
    """)
def text_ngram_topk_per_lang(spark, sf_dir):
    """Character-trigram frequency profile: top-10 trigrams per language
    (the classic n-gram language-model fingerprint — langid training
    reduces to exactly this rollup). Occurrences counted WITH multiplicity
    (unlike the dedup pipeline's distinct sets): explode → one map-side-
    combined count per (lang, gram) → per-lang row_number with a
    deterministic gram tie-break. The heavy explode never shuffles raw
    text — only (lang, gram) pairs after partial aggregation."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    grams = (d.select("lang", F.explode(F.expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)),"
        " i -> substring(text, i, 3))")).alias("gram"))
        .filter(F.length("gram") == 3))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "gram")
    return (grams.groupBy("lang", "gram")
            .agg(F.count(F.lit(1)).alias("freq"))
            .select("lang", "gram", "freq",
                    F.row_number().over(w).cast("long").alias("rank"))
            .filter(F.col("rank") <= 10))


@register(
    "text_training_mix_recipe",
    category="text",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop
      FROM documents),
    scored AS (
      SELECT doc_id, lang, source, n_tokens,
             CASE
               WHEN n_tokens < 20 THEN 'too_short'
               WHEN n_tokens > 1000 THEN 'too_long'
               WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.01
                 THEN 'low_stopword'
               ELSE 'keep' END AS verdict
      FROM t)
    SELECT lang, source, verdict,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM scored GROUP BY 1, 2, 3
    """)
def text_training_mix_recipe(spark, sf_dir):
    """The training-mix accounting query every data pipeline ends with:
    per (language, source) — how many documents and tokens survive each
    quality gate, and WHY the rest were dropped (first-failing-rule
    verdict, C4/Gopher-style). One projection + one map-side-combined
    rollup; the token totals are what mixture reweighting consumes."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda w: w.isin("the", "a", "of", "and"))).cast("long")
    verdict = (F.when(n_tokens < 20, "too_short")
               .when(n_tokens > 1000, "too_long")
               .when(n_stop.cast("double") / n_tokens < 0.01, "low_stopword")
               .otherwise("keep"))
    return (d.select("doc_id", "lang", "source",
                     n_tokens.alias("n_tokens"), verdict.alias("verdict"))
            .groupBy("lang", "source", "verdict")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens")))


@register(
    "text_repetition_quality",
    category="text",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text <> ''),
    base AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bigs
      FROM t),
    e AS (
      SELECT doc_id, UNNEST(bigs) AS big FROM base),
    c AS (
      SELECT doc_id, big, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
    top AS (
      SELECT doc_id, big AS top_bigram, cnt AS top_bigram_n
      FROM (SELECT doc_id, big, cnt,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                     ORDER BY cnt DESC, big) AS rn FROM c)
      WHERE rn = 1)
    SELECT b.doc_id, b.n_tokens, b.n_distinct,
           CAST(b.n_tokens - b.n_distinct AS DOUBLE) / b.n_tokens
             AS dup_token_frac,
           top.top_bigram,
           CAST(COALESCE(top.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
           CASE WHEN b.n_tokens > 1
                THEN CAST(COALESCE(top.top_bigram_n, 0) AS DOUBLE)
                     / (b.n_tokens - 1)
                ELSE CAST(0 AS DOUBLE) END AS top_bigram_frac,
           (CAST(b.n_tokens - b.n_distinct AS DOUBLE) / b.n_tokens) <= 0.7
             AND (CASE WHEN b.n_tokens > 1
                       THEN CAST(COALESCE(top.top_bigram_n, 0) AS DOUBLE)
                            / (b.n_tokens - 1)
                       ELSE CAST(0 AS DOUBLE) END) <= 0.2 AS keep
    FROM base b LEFT JOIN top ON b.doc_id = top.doc_id
    """)
def text_repetition_quality(spark, sf_dir):
    """Gopher-style repetition quality filter (Rae et al. '21 §A1.1):
    duplicate-token fraction and most-frequent-word-bigram fraction per
    document, plus the keep/drop verdict. The bigram list is built from
    ONE bound token array (transform-over-array binding — without it
    ProjectCollapse re-inlines the split per position, O(len²), gotcha
    encoded in text_winnow_fingerprint). Counting shuffles only (doc_id,
    bigram) pairs after map-side partial aggregation; the per-doc top-1
    is a window over the counted pairs, tie-broken on the bigram itself
    so the answer is deterministic. Scale: everything keys on doc_id —
    uniform, unbounded parallelism; no broadcast, no skew."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    bigs_expr = F.expr(
        "transform(array(split(text, ' ')), t ->"
        " transform(sequence(1, greatest(size(t) - 1, 0)),"
        "  i -> concat(element_at(t, i), ' ', element_at(t, i + 1))))[0]")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        bigs_expr.alias("bigs"))
    counts = (base.select("doc_id", F.explode("bigs").alias("big"))
              .groupBy("doc_id", "big").agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("doc_id").orderBy(F.col("cnt").desc(), "big")
    top = (counts.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1)
           .select("doc_id", F.col("big").alias("top_bigram"),
                   F.col("cnt").alias("top_bigram_n")))
    dup_frac = ((F.col("n_tokens") - F.col("n_distinct")).cast("double")
                / F.col("n_tokens"))
    top_n = F.coalesce("top_bigram_n", F.lit(0)).cast("long")
    top_frac = (F.when(F.col("n_tokens") > 1,
                       top_n.cast("double") / (F.col("n_tokens") - 1))
                .otherwise(F.lit(0.0)))
    return (base.drop("bigs").join(top, "doc_id", "left")
            .select("doc_id", "n_tokens", "n_distinct",
                    dup_frac.alias("dup_token_frac"),
                    "top_bigram",
                    top_n.alias("top_bigram_n"),
                    top_frac.alias("top_bigram_frac"),
                    ((dup_frac <= 0.7) & (top_frac <= 0.2)).alias("keep")))


PACK_BUDGET = 2048


@register(
    "text_pack_sequences", bench=True,
    category="text",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM t)
    SELECT source,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """)
def text_pack_sequences(spark, sf_dir):
    """Training sequence packing (GPT-style concat-and-chunk): documents
    are concatenated in doc_id order within each source and cut into
    PACK_BUDGET-token context windows; a document belongs to the pack
    where it starts. One window (cumulative token sum per source) + one
    rollup. Scale: the window partitions by source — each source packs
    independently, so a 100 TB corpus packs with per-source parallelism
    and no global sort; skewed sources would be pre-split by a
    (source, doc_id-range) composite key, which only renames pack_id."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", "source",
                 F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (c.select("source", "doc_id", "n_tokens",
                     F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
                     .cast("long").alias("pack_id"))
            .groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_total"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


# ---------------------------------------------------------------- decontam

#: shingle width for eval-set decontamination. Published pipelines use
#: 8-13 token n-grams (GPT-3 used 13; the synthetic docs average ~54
#: tokens, so 8 keeps several shingles per doc).
DECON_K = 8
#: benchmark membership: every 11th doc_id stands in for the held-out
#: eval set (a real pipeline would join an external benchmark corpus).
DECON_MOD = 11


def _shingle_expr(k: int) -> str:
    """K-token shingle array as a pure JVM expression — same
    one-evaluation-per-row `transform(array(e), x -> body)[0]` trick as
    the dedup pipeline (ProjectCollapse would otherwise re-inline
    split() per shingle position: O(len²))."""
    return (
        "transform(array(split(text, ' ')), toks ->"
        " array_distinct(filter(transform("
        f"   sequence(1, greatest(size(toks) - {k - 1}, 1)),"
        f"   i -> concat_ws(' ', slice(toks, i, {k}))), s -> s <> '')))[0]"
    )


@register(
    "text_decontaminate_ngram",
    category="text",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text <> ''),
    sh AS (
      SELECT doc_id, list_distinct(list_filter(list_transform(
          generate_series(1, GREATEST(len(toks) - {DECON_K - 1}, 1)),
          i -> array_to_string(list_slice(toks, i, i + {DECON_K - 1}), ' ')),
        s -> s <> '')) AS shingles
      FROM base),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    bench AS (SELECT DISTINCT s FROM ex WHERE doc_id % {DECON_MOD} = 0),
    corpus AS (SELECT doc_id, s FROM ex WHERE doc_id % {DECON_MOD} <> 0),
    shared AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id),
    sizes AS (SELECT doc_id, CAST(len(shingles) AS BIGINT) AS n_shingles
              FROM sh WHERE doc_id % {DECON_MOD} <> 0)
    SELECT z.doc_id, z.n_shingles,
           CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
           (COALESCE(s.n_shared, 0) * 5 >= z.n_shingles
            OR COALESCE(s.n_shared, 0) >= 8) AS contaminated
    FROM sizes z LEFT JOIN shared s ON z.doc_id = s.doc_id
    """)
def text_decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag training documents that share
    {DECON_K}-token n-grams with the held-out eval set (every
    {DECON_MOD}th doc stands in for it) — the GPT-3/Pile-style overlap
    check that keeps eval answers out of the training mix. A doc is
    contaminated when ≥20% of its shingles (or ≥8 absolute) appear in
    the benchmark; both thresholds are exact-integer rules, so the
    result hash-matches the DuckDB oracle with no float comparisons.

    Scale: the benchmark shingle set is the SMALL side by construction
    (eval suites are MBs, corpora are TBs) — it broadcasts, so the
    corpus-side shingle stream joins map-side with no shuffle of the
    corpus; per-doc counts then aggregate map-side-combined on doc_id.
    Shingles stay inside whole-stage codegen (no Python)."""
    d = (table(spark, sf_dir, "documents").filter(F.col("text") != "")
         .select("doc_id", F.expr(_shingle_expr(DECON_K)).alias("shingles")))
    ex = d.select("doc_id", F.explode("shingles").alias("s"))
    bench = (ex.filter(F.col("doc_id") % DECON_MOD == 0)
             .select("s").distinct())
    corpus = ex.filter(F.col("doc_id") % DECON_MOD != 0)
    shared = (corpus.join(F.broadcast(bench), "s", "left_semi")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("shared_cnt")))
    sizes = (d.filter(F.col("doc_id") % DECON_MOD != 0)
             .select("doc_id",
                     F.size("shingles").cast("long").alias("n_shingles")))
    n_shared = F.coalesce(F.col("shared_cnt"), F.lit(0)).cast("long")
    return (sizes.join(shared, "doc_id", "left")
            .select("doc_id", "n_shingles",
                    n_shared.alias("n_shared"),
                    ((n_shared * 5 >= F.col("n_shingles"))
                     | (n_shared >= 8)).alias("contaminated")))


# ---------------------------------------------------------------- rarity

#: fixed-point scale for the inverse-unigram-probability surrogate
_RARITY_SCALE = 1_000_000


@register(
    "text_rarity_score",
    category="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents WHERE text <> ''),
    cnt AS (SELECT token, COUNT(*) AS c FROM tok GROUP BY token),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    scored AS (
      SELECT t.doc_id,
             CAST(tot.total AS BIGINT) * {_RARITY_SCALE} // cnt.c
               AS rarity_fp
      FROM tok t JOIN cnt ON t.token = cnt.token CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
           SUM(rarity_fp) // COUNT(*) AS mean_rarity_fp
    FROM scored GROUP BY doc_id
    """)
def text_rarity_score(spark, sf_dir):
    """Perplexity-proxy quality score: mean inverse unigram probability
    per document (CCNet-style LM filtering's cheap stand-in). For each
    token instance, rarity = total_tokens/corpus_count(token) in 1e6
    fixed point via exact integer floor division — NOT -ln p: ln() is
    not bit-identical across libm implementations (same reasoning as
    the tfidf idf surrogate), while the integer form hash-matches the
    oracle exactly and orders documents identically to mean 1/p.
    High scores = rare-token-heavy docs (specialist text or garbage —
    both ends get reviewed in a curation pipeline).

    Scale: one (token) count aggregate (map-side combined), a scalar
    total (broadcast), then one join from the token stream to the count
    table — the count table is Zipf-compact (vocab ≪ corpus) so AQE
    broadcasts it at realistic vocab sizes; the final per-doc mean
    aggregates map-side on doc_id."""
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    cnt = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = tok.agg(F.count(F.lit(1)).alias("total"))
    scored = (tok.join(cnt, "token")
              .join(F.broadcast(tot))
              .select("doc_id",
                      F.expr(f"total * {_RARITY_SCALE} div c")
                      .alias("rarity_fp")))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tok"),
                 F.expr("sum(rarity_fp) div count(1)")
                 .alias("mean_rarity_fp")))


#: context-window chunking geometry: window W tokens, stride S < W gives
#: W - S tokens of overlap between consecutive chunks
CHUNK_W = 64
CHUNK_S = 48


@register(
    "text_chunk_overlap",
    category="text",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS toks
      FROM documents WHERE text <> ''),
    c AS (
      SELECT doc_id, toks,
             1 + (GREATEST(LEN(toks) - {CHUNK_W}, 0) + {CHUNK_S - 1})
                 // {CHUNK_S} AS nc
      FROM base),
    ch AS (
      SELECT doc_id, toks,
             UNNEST(generate_series(0, nc - 1)) AS chunk_idx
      FROM c)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(LEN(list_slice(toks, 1 + chunk_idx * {CHUNK_S},
                               chunk_idx * {CHUNK_S} + {CHUNK_W}))
                AS BIGINT) AS n_chunk_tokens,
           array_to_string(list_slice(toks, 1 + chunk_idx * {CHUNK_S},
                                      chunk_idx * {CHUNK_S} + {CHUNK_W}),
                           ' ') AS chunk_text
    FROM ch
    """)
def text_chunk_overlap(spark, sf_dir):
    """Overlapping context-window chunking: split each document into
    windows of CHUNK_W=64 tokens with stride CHUNK_S=48 (16 tokens of
    overlap) — the step that turns curated documents into
    training-context rows. Chunk count is
    1 + ceil(max(n_tokens - W, 0) / S) in exact integer arithmetic, so
    the final (possibly short) window is always emitted and every token
    lands in at least one chunk.

    Scale: pure projection + explode — no shuffle at all; chunks inherit
    the scan's partitioning, and downstream per-chunk ops (tokenize,
    pack, dedup) pipeline in the same stage. The window math is a
    sequence()+slice() composition in whole-stage codegen, never a UDF.
    """
    d = table(spark, sf_dir, "documents").filter(F.col("text") != "")
    nc = (f"1 + (greatest(size(toks) - {CHUNK_W}, 0) + {CHUNK_S - 1})"
          f" div {CHUNK_S}")
    chunk = (f"transform(sequence(0, {nc} - 1),"
             f" i -> slice(toks, 1 + i * {CHUNK_S}, {CHUNK_W}))")
    return (d.select("doc_id", F.split("text", " ").alias("toks"))
            .select("doc_id", F.posexplode(F.expr(chunk)))
            .select("doc_id",
                    F.col("pos").cast("long").alias("chunk_idx"),
                    F.size("col").cast("long").alias("n_chunk_tokens"),
                    F.concat_ws(" ", "col").alias("chunk_text")))


# ------------------------------------------------------------------- PII

#: Java-regex patterns for the scrub pass (the real thing — the oracle
#: never sees them; it recomputes the redacted text from the closed form)
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_injected_text() -> Column:
    """``text`` with closed-form PII appended: every 3rd document an
    email derived from ``doc_id``, every 4th a NNN-NNN-NNNN phone. The
    corpus has no PII of its own, so this gives the scrub pass real work
    while the oracle recomputes every scrubbed character in closed form;
    the one injection of the batch and streaming scrub stages."""
    did = F.col("doc_id")
    email = F.when(did % 3 == 0, F.concat(
        F.lit(" contact user"), did.cast("string"),
        F.lit("@ex"), (did % 7).cast("string"),
        F.lit(".example.com"))).otherwise(F.lit(""))
    phone = F.when(did % 4 == 0, F.concat(
        F.lit(" call 555-"), (did % 900 + 100).cast("string"),
        F.lit("-"), (did % 9000 + 1000).cast("string"))).otherwise(F.lit(""))
    return F.concat("text", email, phone)


def pii_count(text) -> Column:
    """Emails plus phones the scrub regexes match in ``text``."""
    return (F.regexp_count(text, F.lit(PII_EMAIL_RE)).cast("long")
            + F.regexp_count(text, F.lit(PII_PHONE_RE)).cast("long"))


@register(
    "text_pii_redact",
    category="text",
    oracle="""
    WITH clean AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 3 = 0 THEN ' contact <EMAIL>'
                       ELSE '' END
               || CASE WHEN doc_id % 4 = 0 THEN ' call <PHONE>'
                       ELSE '' END AS redacted
      FROM documents)
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_emails,
           CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS n_phones,
           CAST(LENGTH(redacted) AS BIGINT) AS n_chars_clean,
           MD5(redacted) AS fingerprint
    FROM clean
    """)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing (the Dolma/FineWeb pre-training rule: mask emails
    and phone numbers before anything else sees the text). The corpus is
    synthetic word soup with no PII, so — exactly like the multimodal
    family fabricates real PNGs — a first projection APPENDS closed-form
    PII (every 3rd doc an email derived from doc_id, every 4th a
    NNN-NNN-NNNN phone), and the scrub stage then has real work: Java
    ``regexp_replace``/``regexp_count`` in whole-stage codegen masks
    them to ``<EMAIL>``/``<PHONE>`` placeholders. The DuckDB oracle
    recomputes the redacted text (and its md5 fingerprint) from the
    closed form — it never runs a regex — so the regex pipeline is
    value-checked end-to-end: one missed or over-matched character
    anywhere in any document breaks the hash.

    Scale: pure per-row projection — no shuffle, no Python; regex cost
    is linear in bytes scanned and runs where the data sits."""
    d = table(spark, sf_dir, "documents")
    dirty = pii_injected_text()
    redacted = F.regexp_replace(
        F.regexp_replace(dirty, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        F.regexp_count(dirty, F.lit(PII_EMAIL_RE)).cast("long")
            .alias("n_emails"),
        F.regexp_count(dirty, F.lit(PII_PHONE_RE)).cast("long")
            .alias("n_phones"),
        F.length(redacted).cast("long").alias("n_chars_clean"),
        F.md5(redacted.cast("binary")).alias("fingerprint"))


# -------------------------------------------------------- curation recipe

@register(
    "text_curation_pipeline", bench=True,
    category="text",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, source, text,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop
      FROM documents),
    quality AS (
      SELECT * FROM scored
      WHERE n_tokens >= 20 AND n_tokens <= 1000
        AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01),
    keepers AS (
      SELECT doc_id, lang, source, n_tokens,
             doc_id = MIN(doc_id) OVER (
               PARTITION BY MD5(LOWER(text))) AS is_keeper
      FROM quality),
    redacted AS (
      SELECT lang, source, n_tokens,
             CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS n_pii
      FROM keepers WHERE is_keeper)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_pii) AS BIGINT) AS pii_redactions
    FROM redacted GROUP BY lang, source
    """)
def text_curation_pipeline(spark, sf_dir):
    """The whole curation recipe as ONE composed query — the shape a
    real pre-training data pipeline runs nightly: quality gate
    (C4/Gopher length + stopword-ratio filters) → exact dedup (md5 of
    normalized text, keeper = min doc_id) → PII scrub (the
    text_pii_redact closed-form injection + Java-regex masking) →
    per-(lang, source) survivorship accounting (docs kept, token
    budget, redaction counts). Every stage is the same logic as its
    standalone operator; composing them proves the stages CHAIN —
    filters stay pushed down through the projections, and the plan has
    exactly two shuffles (the dedup window on the digest, the final
    accounting aggregate), which is the minimum the semantics admit.

    Scale: stage 1 and 3 are pure projections; stage 2 shuffles once on
    the 128-bit digest (uniform by construction — no skew); the final
    aggregate map-side-combines onto a (lang, source) key space of
    ~100 rows. No Python, no broadcast, no N² anywhere."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda w: w.isin("the", "a", "of", "and"))).cast("long")
    quality = (d.select("doc_id", "lang", "source", "text",
                        n_tokens.alias("n_tokens"),
                        n_stop.alias("n_stop"))
               .filter((F.col("n_tokens") >= 20)
                       & (F.col("n_tokens") <= 1000)
                       & (F.col("n_stop").cast("double")
                          / F.col("n_tokens") >= 0.01)))
    w = Window.partitionBy(F.md5(F.lower("text").cast("binary")))
    keepers = (quality
               .withColumn("is_keeper",
                           F.col("doc_id") == F.min("doc_id").over(w))
               .filter("is_keeper"))
    # the REAL scrub pass from text_pii_redact: inject the closed-form
    # PII, count with the Java regexes (the oracle counts in closed
    # form, so the regex path stays value-checked inside the chain too)
    n_pii = pii_count(pii_injected_text())
    return (keepers
            .select("lang", "source", "n_tokens", n_pii.alias("n_pii"))
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_pii").alias("pii_redactions")))


# -------------------------------------------------- training mix recipe

def _training_mix_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60
    from cstore_fdw_spark.operators.analytics import (
        _MIXTURE_BUDGET_DIV, _MIXTURE_WEIGHTS)
    h = duck_h60("CAST(c.doc_id AS VARCHAR)")
    weights = ", ".join(f"('{l}', {w})" for l, w in _MIXTURE_WEIGHTS)
    k = DECON_K
    return f"""
    WITH bench AS (
      SELECT DISTINCT UNNEST(list_distinct(list_filter(list_transform(
          generate_series(1, GREATEST(len(string_split(text, ' '))
                                      - {k - 1}, 1)),
          i -> array_to_string(list_slice(string_split(text, ' '),
                                          i, i + {k - 1}), ' ')),
        s -> s <> ''))) AS s
      FROM documents WHERE doc_id % {DECON_MOD} = 0 AND text <> ''),
    scored AS (
      SELECT doc_id, lang, source, text,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                  w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop
      FROM documents WHERE doc_id % {DECON_MOD} <> 0),
    quality AS (
      SELECT * FROM scored
      WHERE n_tokens >= 20 AND n_tokens <= 1000
        AND CAST(n_stop AS DOUBLE) / n_tokens >= 0.01),
    keepers AS (
      SELECT doc_id, lang, source, text, n_tokens FROM (
        SELECT *, doc_id = MIN(doc_id) OVER (
                    PARTITION BY MD5(LOWER(text))) AS is_keeper
        FROM quality) WHERE is_keeper),
    sh AS (
      SELECT doc_id, lang, source, n_tokens,
             list_distinct(list_filter(list_transform(
               generate_series(1, GREATEST(len(string_split(text, ' '))
                                           - {k - 1}, 1)),
               i -> array_to_string(list_slice(string_split(text, ' '),
                                               i, i + {k - 1}), ' ')),
             s -> s <> '')) AS shingles
      FROM keepers),
    ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
    shared AS (
      SELECT e.doc_id, COUNT(*) AS n_shared
      FROM ex e JOIN bench b ON e.s = b.s GROUP BY e.doc_id),
    clean AS (
      SELECT z.doc_id, z.lang, z.source, z.n_tokens
      FROM (SELECT doc_id, lang, source, n_tokens,
                   CAST(len(shingles) AS BIGINT) AS n_shingles FROM sh) z
      LEFT JOIN shared s ON z.doc_id = s.doc_id
      WHERE NOT (COALESCE(s.n_shared, 0) * 5 >= z.n_shingles
                 OR COALESCE(s.n_shared, 0) >= 8)),
    w(lang, permyriad) AS (VALUES {weights}),
    n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    t AS (SELECT COUNT(*) // {_MIXTURE_BUDGET_DIV} AS budget
          FROM documents),
    rates AS (
      SELECT n.lang,
             LEAST(1000, (t.budget * w.permyriad // 10000) * 1000
                          // n.n_lang) AS rate_permille
      FROM n JOIN w ON w.lang = n.lang CROSS JOIN t),
    sampled AS (
      SELECT c.* FROM clean c JOIN rates r ON r.lang = c.lang
      WHERE {h} % 1000 < r.rate_permille),
    packed AS (
      SELECT source, doc_id, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
             CAST(1 + (GREATEST(n_tokens - {CHUNK_W}, 0) + {CHUNK_S - 1})
                  // {CHUNK_S} AS BIGINT) AS n_chunks
      FROM sampled)
    SELECT source, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(n_chunks) AS BIGINT) AS chunks_total,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM packed GROUP BY 1, 2
    """


@register(
    "training_mix_pipeline", bench=True,
    category="text",
    allow_bnlj=True,  # |languages| rows × 1-row broadcast budget scalar
    oracle=_training_mix_oracle())
def training_mix_pipeline(spark, sf_dir):
    """The FLAGSHIP end-to-end training-data recipe as one composed
    query: quality gate (C4/Gopher filters) -> exact dedup (md5 window,
    keeper = min doc_id) -> benchmark decontamination (8-token shingle
    overlap vs the held-out eval stand-in, GPT-3 rule) -> target-mixture
    sampling (per-language rates computed from corpus counts toward the
    en/de/fr/es/zh target mix, portable-hash membership) -> GPT-style
    sequence packing (2048-token budget per source) with per-document
    context-window chunk accounting. Every stage is the same logic as
    its standalone operator (text_curation_pipeline,
    text_decontaminate_ngram, sample_target_mixture,
    text_pack_sequences, text_chunk_overlap); composing them proves the
    stages CHAIN — and the plan's shuffle-exchange count is locked by
    ``tests/test_pushdown.py::test_training_mix_pipeline_shuffles``.

    Shuffle budget (each one argued minimal):
      1. dedup digest window  — hashpartition(md5) of the quality
         survivors (uniform 128-bit key, no skew);
      2. decontamination      — ONE hashpartition(doc_id) aggregate:
         shingles explode WITH (lang, source, n_tokens) carried, join
         the broadcast benchmark set map-side, and fold shared/total
         counts per doc — no join-back shuffle;
      3. pack window          — hashpartition(source); the final
         (source, pack_id) rollup reuses this partitioning (subset
         clustering), so it adds NO exchange;
      + three tiny side aggregates (benchmark shingle distinct,
        per-language counts, global budget) over column-pruned scans
        whose outputs broadcast.
    At 100 TB: the corpus stream is shuffled exactly 3 times, stages 1/3
    key on uniform values, the eval set is MB-scale by construction, and
    nothing ever collects to the driver."""
    from pyspark.sql.window import Window

    from cstore_fdw_spark.functions.portable_hash import spark_h60
    from cstore_fdw_spark.operators.analytics import (
        _MIXTURE_BUDGET_DIV, _MIXTURE_WEIGHTS)

    d = table(spark, sf_dir, "documents")

    # held-out benchmark shingle set (external eval suite stand-in)
    bench = (d.filter((F.col("doc_id") % DECON_MOD == 0)
                      & (F.col("text") != ""))
             .select(F.explode(F.expr(_shingle_expr(DECON_K))).alias("s"))
             .distinct())

    # 1. quality gate on the training side
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda w: w.isin("the", "a", "of", "and"))).cast("long")
    quality = (d.filter(F.col("doc_id") % DECON_MOD != 0)
               .select("doc_id", "lang", "source", "text",
                       n_tokens.alias("n_tokens"),
                       n_stop.alias("n_stop"))
               .filter((F.col("n_tokens") >= 20)
                       & (F.col("n_tokens") <= 1000)
                       & (F.col("n_stop").cast("double")
                          / F.col("n_tokens") >= 0.01)))

    # 2. exact dedup on the normalized-content digest
    w = Window.partitionBy(F.md5(F.lower("text").cast("binary")))
    keepers = (quality
               .withColumn("is_keeper",
                           F.col("doc_id") == F.min("doc_id").over(w))
               .filter("is_keeper"))

    # 3. decontamination: one aggregate, fields carried through the
    # explode so no join-back is needed
    ex = keepers.select(
        "doc_id", "lang", "source", "n_tokens",
        F.explode(F.expr(_shingle_expr(DECON_K))).alias("s"))
    marked = ex.join(F.broadcast(bench.withColumn("hit", F.lit(1))),
                     "s", "left")
    per_doc = (marked.groupBy("doc_id")
               .agg(F.first("lang").alias("lang"),
                    F.first("source").alias("source"),
                    F.first("n_tokens").alias("n_tokens"),
                    F.count(F.lit(1)).alias("n_shingles"),
                    F.count("hit").alias("n_shared")))
    clean = per_doc.filter(
        ~((F.col("n_shared") * 5 >= F.col("n_shingles"))
          | (F.col("n_shared") >= 8)))

    # 4. target-mixture sampling; rates derive from the RAW corpus
    # counts (budget is defined on corpus size), so the rate subtree is
    # a column-pruned scan, never a recompute of the expensive stages
    wts = F.broadcast(spark.createDataFrame(
        _MIXTURE_WEIGHTS, "lang string, permyriad long"))
    n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    t = d.agg(F.expr(
        f"count(1) div {_MIXTURE_BUDGET_DIV}").alias("budget"))
    rates = (n.join(wts, "lang").join(F.broadcast(t))
             .select("lang", F.least(
                 F.lit(1000),
                 F.expr("(budget * permyriad div 10000) * 1000"
                        " div n_lang")).alias("rate_permille")))
    sampled = (clean
               .withColumn("bucket",
                           F.expr(spark_h60("cast(doc_id as string)"))
                           % 1000)
               .join(F.broadcast(rates), "lang")
               .filter(F.col("bucket") < F.col("rate_permille")))

    # 5. pack (2048-token budget per source) + chunk accounting; the
    # final rollup reuses the window's source-partitioning
    pw = (Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    packed = sampled.withColumn("cum", F.sum("n_tokens").over(pw))
    n_chunks = F.expr(f"1 + (greatest(n_tokens - {CHUNK_W}, 0)"
                      f" + {CHUNK_S - 1}) div {CHUNK_S}")
    return (packed.select(
                "source", "doc_id", "n_tokens",
                F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
                .cast("long").alias("pack_id"),
                n_chunks.cast("long").alias("n_chunks"))
            .groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_total"),
                 F.sum("n_chunks").alias("chunks_total"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


# ------------------------------------------------------------- BPE train

#: merge rounds for the corpus-scale BPE trainer (enough to exercise
#: multi-round dynamics — real runs use 30k+; the loop is round-count
#: agnostic)
BPE_MERGES = 6


def _bpe_oracle(n: int = BPE_MERGES) -> str:
    """Chained-CTE DuckDB replica of the iterative BPE trainer: each
    round counts adjacent symbol pairs over the word table, picks the
    (count DESC, pair ASC) argmax via scalar subqueries, and applies the
    merge with the pure-string double-space convention (see
    :func:`text_bpe_train` — identical `replace` semantics in both
    engines, no regex)."""
    ctes = ["""w0 AS (
      SELECT array_to_string(string_split(token, ''), ' ') AS seq,
             COUNT(*) AS freq
      FROM (SELECT UNNEST(string_split(text, ' ')) AS token
            FROM documents)
      WHERE token <> '' GROUP BY 1)"""]
    for r in range(n):
        ctes.append(f"""p{r} AS (
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq,
                   UNNEST(list_transform(
                     generate_series(1, GREATEST(
                       len(string_split(seq, ' ')) - 1, 0)),
                     i -> string_split(seq, ' ')[i] || ' '
                          || string_split(seq, ' ')[i + 1])) AS pair
            FROM w{r})
      GROUP BY pair)""")
        ctes.append(f"""b{r} AS (
      SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1)""")
        ctes.append(f"""w{r + 1} AS (
      SELECT trim(replace(replace(
               ' ' || replace(seq, ' ', '  ') || ' ',
               ' ' || (SELECT replace(pair, ' ', '  ') FROM b{r}) || ' ',
               ' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' '),
             '  ', ' ')) AS seq,
             freq
      FROM w{r})""")
    rows = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_idx, pair,"
        f" replace(pair, ' ', '') AS merged, cnt AS pair_freq FROM b{r}"
        for r in range(n))
    return "WITH " + ",\n    ".join(ctes) + "\n    " + rows


#: adjacent symbol pairs of a space-separated symbol string, as one
#: bound projection (zip_with over two slices — empty for 1-symbol words)
_BPE_PAIR_EXPR = (
    "transform(array(split(seq, ' ')), t ->"
    " zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
    "          (x, y) -> concat(x, ' ', y)))[0]")


@register(
    "text_bpe_train",
    category="text",
    oracle=_bpe_oracle())
def text_bpe_train(spark, sf_dir):
    """Corpus-scale BPE tokenizer TRAINING (Sennrich et al. '16) — the
    real thing behind the chars/4 heuristic in text_token_count_bpe_ish:
    character-level symbol sequences per distinct word (weighted by word
    frequency), then BPE_MERGES rounds of (count adjacent pairs) ->
    (argmax with deterministic count-DESC/pair-ASC tie-break) -> (apply
    the merge). Returns the learned merge table: (merge_idx, pair,
    merged, pair_freq).

    Merges apply with a PURE-STRING convention shared bit-for-bit with
    the DuckDB oracle (no regex — RE2 has no lookarounds): double every
    separator, replace ' a  b ' with ' ab ', collapse doubles. Plain
    left-to-right non-overlapping replace() then IS greedy BPE ('a a a'
    merges once, like the reference algorithm).

    Scale: the iterate-over-rounds shape is the CC pattern — the corpus
    touches only round 0 (one token-count shuffle); every later round
    runs over the CACHED distinct-word table (vocabulary-bounded: ~10^6
    rows at 100 TB, not corpus-bounded), and the driver sees exactly ONE
    (pair, count) row per round. Real trainers run 30k rounds over this
    same loop; pair counting stays map-side-combined throughout."""
    d = table(spark, sf_dir, "documents")
    words = (d.select(F.explode(F.split("text", " ")).alias("token"))
             .filter(F.col("token") != "")
             .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
             .select(F.concat_ws(" ", F.split("token", "")).alias("seq"),
                     "freq"))
    words = track_cache(words.persist())
    words.count()  # materialize once; every round re-reads the cache
    rules = []
    for r in range(BPE_MERGES):
        pairs = (words.select("freq",
                              F.explode(F.expr(_BPE_PAIR_EXPR))
                              .alias("pair"))
                 .groupBy("pair").agg(F.sum("freq").alias("cnt")))
        best = (pairs.orderBy(F.col("cnt").desc(), "pair").limit(1)
                .collect())
        if not best:  # vocabulary fully merged — stop early
            break
        pair, cnt = best[0].pair, int(best[0].cnt)
        merged = pair.replace(" ", "")
        rules.append((r, pair, merged, cnt))
        padded = F.concat(F.lit(" "),
                          F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                          F.lit(" "))
        applied = F.trim(F.replace(
            F.replace(padded,
                      F.lit(" " + pair.replace(" ", "  ") + " "),
                      F.lit(" " + merged + " ")),
            F.lit("  "), F.lit(" ")))
        words = words.select(applied.alias("seq"), "freq")
    return spark.createDataFrame(
        rules, "merge_idx long, pair string, merged string, pair_freq long")


def _bpe_encode_oracle(n: int = BPE_MERGES) -> str:
    """Oracle for the ENCODE side: reuse the trainer's CTE chain for the
    rules, then apply the same double-space replace convention to every
    document's per-word symbol sequences and count resulting tokens."""
    train = _bpe_oracle(n)
    ctes = train[len("WITH "):train.rindex("SELECT CAST(0")]
    # fold the n merges into one nested replace chain per word
    applied = "' ' || replace(wseq, ' ', '  ') || ' '"
    for r in range(n):
        applied = (
            f"replace({applied},"
            f" ' ' || (SELECT replace(pair, ' ', '  ') FROM b{r}) || ' ',"
            f" ' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' ')")
        if r < n - 1:
            applied = f"' ' || replace(trim(replace({applied}, '  ', ' ')), ' ', '  ') || ' '"
        else:
            applied = f"trim(replace({applied}, '  ', ' '))"
    return f"""WITH {ctes.rstrip().rstrip(',')},
    words AS (
      SELECT doc_id,
             array_to_string(string_split(token, ''), ' ') AS wseq
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents)
      WHERE token <> ''),
    enc AS (
      SELECT doc_id,
             CAST(len(string_split({applied}, ' ')) AS BIGINT) AS n_sym
      FROM words)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
    FROM enc GROUP BY doc_id
    """


@register(
    "text_bpe_encode",
    category="text",
    oracle=_bpe_encode_oracle())
def text_bpe_encode(spark, sf_dir):
    """Distributed BPE TOKENIZATION with the merges just learned by
    :func:`text_bpe_train`: every document's words are re-encoded by
    applying the merge rules in training order (same pure-string
    convention, so the oracle replays it bit-for-bit with scalar
    subqueries), then per-document BPE token counts roll up — the real
    version of the chars/4 budget heuristic.

    Scale: training runs once (vocabulary-bounded rounds, see
    text_bpe_train); the ENCODE pass is a single projection over the
    corpus — the n merge rules arrive as literals folded into a nested
    replace chain (broadcast-by-constant, no join) — followed by one
    map-side-combined per-doc aggregate. This is the shape a 100 TB
    tokenize-everything job wants: corpus scanned once, zero extra
    shuffles beyond the final doc_id rollup."""
    d = table(spark, sf_dir, "documents")
    rules = [(r.pair, r.merged)
             for r in text_bpe_train(spark, sf_dir).collect()]
    words = (d.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
             .filter(F.col("token") != "")
             .select("doc_id",
                     F.concat_ws(" ", F.split("token", "")).alias("wseq")))
    applied = F.col("wseq")
    for pair, merged in rules:
        padded = F.concat(F.lit(" "),
                          F.replace(applied, F.lit(" "), F.lit("  ")),
                          F.lit(" "))
        applied = F.trim(F.replace(
            F.replace(padded,
                      F.lit(" " + pair.replace(" ", "  ") + " "),
                      F.lit(" " + merged + " ")),
            F.lit("  "), F.lit(" ")))
    return (words.select("doc_id",
                         F.size(F.split(applied, " ")).cast("long")
                         .alias("n_sym"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_words"),
                 F.sum("n_sym").alias("n_bpe_tokens")))


#: fixed-point scale for exact bigram-probability arithmetic (the same
#: integer-surrogate trick as the tf-idf weight: float log-likelihoods
#: are not cross-engine deterministic, floor-divided fixed-point is)
_LM_SCALE = 1_000_000


@register(
    "text_ngram_lm_score",
    category="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),
    bg AS (
      SELECT doc_id, w1, w2, COUNT(*) AS m FROM (
        SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
        FROM tok, LATERAL UNNEST(generate_series(1, len(arr) - 1)) u(i))
      GROUP BY doc_id, w1, w2),
    c12 AS (SELECT w1, w2, SUM(m) AS c12 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
    scored AS (
      SELECT bg.doc_id, bg.m,
             c12.c12 * {_LM_SCALE} // c1.c1 AS p_fx
      FROM bg JOIN c12 ON bg.w1 = c12.w1 AND bg.w2 = c12.w2
      JOIN c1 ON bg.w1 = c1.w1)
    SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
           CAST(SUM(m * p_fx) // SUM(m) AS BIGINT) AS avg_p_fx,
           CAST(MIN(p_fx) AS BIGINT) AS min_p_fx
    FROM scored GROUP BY doc_id
    """)
def text_ngram_lm_score(spark, sf_dir):
    """Corpus bigram language-model quality score: train the MLE bigram
    model p(w2|w1) = c(w1,w2)/c(w1·) over the whole corpus, then score
    every document by its average and minimum conditional bigram
    probability — the classic perplexity-style quality filter (high avg
    = predictable/boilerplate text, low min = a garbled transition the
    corpus never supports). Probabilities are fixed-point bigints
    (c12·10^6 DIV c1) because float log-sums are not cross-engine
    deterministic; the floor-divided surrogate ranks identically and
    hash-matches DuckDB exactly.

    Scale: the corpus is touched ONCE (per-doc bigram multiset via one
    array transform — no token explode join); model tables are
    vocabulary²-bounded aggregates of that multiset, re-joined on the
    bigram key. Three keyed shuffles total (doc-bigram rollup feeds
    model counts AND scoring), no driver materialization, no Python.
    Docs with fewer than two tokens have no bigram and drop out.
    Output: (doc_id, n_bigrams, avg_p_fx, min_p_fx)."""
    d = table(spark, sf_dir, "documents")
    bg_structs = F.expr(
        "transform(sequence(1, size(arr) - 1),"
        " i -> struct(arr[i - 1] AS w1, arr[i] AS w2))")
    bg = (d.select("doc_id", F.split("text", " ").alias("arr"))
          .filter(F.size("arr") >= 2)   # sequence(1,0) is DESCENDING
          .select("doc_id", F.explode(bg_structs).alias("b"))
          .groupBy("doc_id", F.col("b.w1").alias("w1"),
                   F.col("b.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("m")))
    c12 = bg.groupBy("w1", "w2").agg(F.sum("m").alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    model = (c12.join(c1, "w1")
             .select("w1", "w2",
                     F.expr(f"c12 * {_LM_SCALE} DIV c1").alias("p_fx")))
    return (bg.join(model, ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.sum("m").cast("long").alias("n_bigrams"),
                 F.expr("sum(m * p_fx) DIV sum(m)").cast("long")
                 .alias("avg_p_fx"),
                 F.min("p_fx").cast("long").alias("min_p_fx")))


#: token n-gram width for span-level duplication accounting
SPAN_G = 5


def _span_dedup_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    g = SPAN_G
    gram_h = duck_h60(
        f"ARRAY_TO_STRING(list_slice(arr, i, i + {g - 1}), ' ')")
    return f"""
    WITH tok AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),
    occ AS (
      SELECT doc_id, {gram_h} AS gh, i AS pos
      FROM tok, LATERAL UNNEST(generate_series(1, len(arr) - {g - 1})) u(i)
      WHERE len(arr) >= {g}),
    dup AS (
      SELECT gh FROM occ GROUP BY gh
      HAVING COUNT(DISTINCT doc_id) >= 2),
    perdoc AS (
      SELECT o.doc_id, COUNT(*) AS n_dup_grams,
             LIST(o.pos ORDER BY o.pos) AS ps
      FROM occ o JOIN dup USING (gh) GROUP BY o.doc_id),
    cov AS (
      SELECT doc_id, n_dup_grams,
             list_sum(list_transform(
               generate_series(1, len(ps)),
               i -> CASE WHEN i = len(ps) THEN {g}
                    ELSE LEAST({g}, ps[i + 1] - ps[i]) END)) AS dup_tokens
      FROM perdoc)
    SELECT t.doc_id,
           CAST(LEN(t.arr) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(c.dup_tokens, 0) AS DOUBLE) / LEN(t.arr)
             AS dup_frac
    FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id
    """


@register(
    "text_span_dedup_coverage",
    category="text",
    oracle=_span_dedup_oracle())
def text_span_dedup_coverage(spark, sf_dir):
    """Span-level duplication accounting (Lee et al. '22, 'Deduplicating
    Training Data Makes Language Models Better'): a token {SPAN_G}-gram
    occurring in ≥2 distinct documents is a duplicated span; each doc
    reports how many of its tokens are covered by the UNION of its
    duplicated spans (overlap-merged interval length — the exact
    fraction span-dedup would delete). Complements the doc-level dedup
    family: doc-level finds near-identical documents, this quantifies
    cross-document boilerplate inside otherwise-unique ones.

    Scale: grams travel as portable 60-bit hashes, never strings (the
    shuffle key is 8 bytes/occurrence); the duplicated-gram set is a
    HAVING over one keyed count; coverage is a per-doc sorted-positions
    fold in one collect_list aggregate (positions per doc are bounded
    by doc length — no cross-doc state). Three keyed shuffles, all
    integer arithmetic until the final single division.
    Output: (doc_id, n_tokens, n_dup_grams, dup_tokens, dup_frac)."""
    from cstore_fdw_spark.functions.portable_hash import spark_h60

    g = SPAN_G
    d = table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("arr"))
    gram_h = spark_h60(f"concat_ws(' ', slice(arr, i, {g}))")
    occ = (tok.filter(F.size("arr") >= g)
           .select("doc_id", F.explode(F.expr(
               f"transform(sequence(1, size(arr) - {g - 1}),"
               f" i -> struct({gram_h} AS gh, i AS pos))")).alias("o"))
           .select("doc_id", "o.gh", "o.pos"))
    dup = (occ.groupBy("gh")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("gh"))
    cov_expr = F.expr(
        f"aggregate(transform(sequence(1, size(ps)),"
        f" i -> IF(i = size(ps), {g},"
        f"         least({g}, ps[i] - ps[i - 1]))),"
        f" 0L, (a, x) -> a + bigint(x))")
    perdoc = (occ.join(dup, "gh")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_dup_grams"),
                   F.sort_array(F.collect_list("pos")).alias("ps"))
              .select("doc_id", "n_dup_grams",
                      cov_expr.alias("dup_tokens")))
    return (tok.join(perdoc, "doc_id", "left")
            .select("doc_id",
                    F.size("arr").cast("long").alias("n_tokens"),
                    F.coalesce("n_dup_grams", F.lit(0)).cast("long")
                    .alias("n_dup_grams"),
                    F.coalesce("dup_tokens", F.lit(0)).cast("long")
                    .alias("dup_tokens"),
                    (F.coalesce("dup_tokens", F.lit(0)).cast("double")
                     / F.size("arr")).alias("dup_frac")))


#: BM25 constants (exact decimal literals — identical doubles in both
#: engines) and the demo query-term set
BM25_K1, BM25_B = 1.2, 0.75
BM25_TERMS = ("table", "spark", "merge")
BM25_TOP = 10


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in BM25_TERMS)
    return f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
      FROM documents),
    dl AS (
      SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             SUM(dl) AS total_dl FROM dl),
    tf AS (
      SELECT t.doc_id, t.token AS term, COUNT(*) AS tf
      FROM tok t JOIN (VALUES {terms}) q(term) ON t.token = q.term
      GROUP BY t.doc_id, t.token),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dl.dl,
             (stats.n_docs - df.df) * {_TFIDF_SCALE} // df.df AS idf_fx,
             ((stats.n_docs - df.df) * {_TFIDF_SCALE} // df.df)
               * (CAST(tf.tf AS DOUBLE) * ({BM25_K1} + 1.0))
               / (CAST(tf.tf AS DOUBLE) + {BM25_K1}
                  * (1.0 - {BM25_B} + {BM25_B}
                     * (CAST(dl.dl AS DOUBLE)
                        / (CAST(stats.total_dl AS DOUBLE)
                           / CAST(stats.n_docs AS DOUBLE)))))
               AS score
      FROM tf JOIN dl ON dl.doc_id = tf.doc_id
      JOIN df ON df.term = tf.term, stats)
    SELECT term, doc_id, tf, score, rank FROM (
      SELECT term, doc_id, tf, score,
             CAST(ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY score DESC, doc_id) AS BIGINT) AS rank
      FROM scored) t
    WHERE rank <= {BM25_TOP}
    """


@register(
    "text_bm25_rank",
    category="text",
    oracle=_bm25_oracle())
def text_bm25_rank(spark, sf_dir):
    """BM25 ranking (Robertson-Spärck Jones) of the corpus against a
    fixed term set — the retrieval op behind decontamination lookups
    and retrieval-based data mixing. The idf uses the repo's exact
    fixed-point surrogate ((N − df)·10^6 // df — float log is not
    cross-engine deterministic, the monotone integer surrogate ranks
    identically); the tf saturation / length-normalization factor is a
    fixed IEEE expression tree (k1 = 1.2, b = 0.75 — decimal literals
    parse to identical doubles everywhere), so even the raw scores
    hash-match DuckDB.

    Scale: one token rollup per (doc, matched term) — the term join is
    a broadcast against a literal values list, so only matching tokens
    survive the map side; dl/df/avgdl are that rollup's tiny
    aggregates, broadcast back; the final per-term top-k is a rank
    window over |terms| partitions. Output: (term, doc_id, tf, score,
    rank)."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    terms_df = spark.createDataFrame([(t,) for t in BM25_TERMS],
                                     "term string")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(F.count(F.lit(1)).alias("n_docs"),
                   F.sum("dl").alias("total_dl"))
    tf = (tok.join(F.broadcast(terms_df), tok.token == terms_df.term)
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    avgdl = (F.col("total_dl").cast("double")
             / F.col("n_docs").cast("double"))
    idf_fx = F.expr(f"(n_docs - df) * {_TFIDF_SCALE} DIV df")
    score = (idf_fx
             * (F.col("tf").cast("double") * (BM25_K1 + 1.0))
             / (F.col("tf").cast("double") + BM25_K1
                * (1.0 - BM25_B + BM25_B
                   * (F.col("dl").cast("double") / avgdl))))
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), "doc_id")
    return (tf.join(dl, "doc_id")
            .join(F.broadcast(df_), "term")
            .crossJoin(F.broadcast(stats))
            .select("term", "doc_id", "tf", score.alias("score"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= BM25_TOP))


@register(
    "text_levenshtein_entity_pairs",
    category="text",
    oracle="""
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           a.s_name AS name_a, b.s_name AS name_b,
           CAST(levenshtein(a.s_name, b.s_name) AS BIGINT) AS edit_dist
    FROM supplier a JOIN supplier b
      ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 4
    """)
def text_levenshtein_entity_pairs(spark, sf_dir):
    """Fuzzy entity matching via edit distance (the dedup primitive for
    NAMES — MinHash/SimHash block on content shingles, entity
    resolution blocks on a key and compares short strings exactly):
    supplier-name pairs within a nation at Levenshtein distance ≤ 4.
    The nation is the blocking key, so the pair space is
    Σ|nation-group|², never |table|² — the same blocking discipline as
    the embedding-cosine dedup family; at 100 TB a higher-cardinality
    block key (name prefix, phonetic bucket) drops in without changing
    the plan shape. Distance runs JVM-side (``F.levenshtein`` codegen,
    no Python). Output: (key_a, key_b, name_a, name_b, edit_dist)."""
    s = table(spark, sf_dir, "supplier")
    a = s.select(F.col("s_suppkey").alias("key_a"),
                 F.col("s_name").alias("name_a"),
                 F.col("s_nationkey").alias("nk"))
    b = s.select(F.col("s_suppkey").alias("key_b"),
                 F.col("s_name").alias("name_b"),
                 F.col("s_nationkey").alias("nk"))
    dist = F.levenshtein("name_a", "name_b")
    return (a.join(b, "nk")
            .filter(F.col("key_a") < F.col("key_b"))
            .select("key_a", "key_b", "name_a", "name_b",
                    dist.cast("long").alias("edit_dist"))
            .filter(F.col("edit_dist") <= 4))


# ----------------------------------------------------- PMI collocations

#: collocation support floor and output cap
PMI_MIN_COUNT = 5
PMI_TOP = 40


@register(
    "text_pmi_collocations",
    category="text",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS arr FROM documents),
    bg AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM (
        SELECT arr[i] AS w1, arr[i + 1] AS w2
        FROM tok, LATERAL UNNEST(generate_series(1, len(arr) - 1)) u(i))
      GROUP BY w1, w2),
    m1 AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
    m2 AS (SELECT w2, SUM(c12) AS c2 FROM bg GROUP BY w2),
    n AS (SELECT SUM(c12) AS nbig FROM bg)
    SELECT bg.w1, bg.w2, CAST(bg.c12 AS BIGINT) AS n_pairs,
           CAST((bg.c12 * (SELECT nbig FROM n) * 1000000)
                // (m1.c1 * m2.c2) AS BIGINT) AS pmi_ratio_ppm
    FROM bg JOIN m1 ON bg.w1 = m1.w1 JOIN m2 ON bg.w2 = m2.w2
    WHERE bg.c12 >= {PMI_MIN_COUNT}
    ORDER BY pmi_ratio_ppm DESC, n_pairs DESC, bg.w1, bg.w2
    LIMIT {PMI_TOP}
    """)
def text_pmi_collocations(spark, sf_dir):
    """Pointwise-mutual-information collocation mining (Church & Hanks
    '90): which adjacent word pairs co-occur far more than their
    marginal frequencies predict — multiword expressions, the lexical
    units a tokenizer/vocab builder should treat as one. PMI is emitted
    as its exact integer-ratio surrogate c12·N·10^6 // (c1·c2) (the
    argument of the log; log is monotone, so ranking is identical and
    the value hash-matches DuckDB — same fixed-point discipline as the
    bigram LM). Marginals are the bigram event space's own
    first-/second-position counts, so no separate token pass is needed.

    Scale: corpus touched once for the bigram rollup (array transform,
    no token-explode join); the marginal tables and the final join are
    vocabulary-bounded; output is a top-k. Overflow note: c12·N·10^6
    needs N² · 10^6 < 2^63 only for the single most frequent bigram —
    beyond ~10^6 bigram events, switch the ratio to DECIMAL(38) (same
    guard as market_basket_lift)."""
    d = table(spark, sf_dir, "documents")
    bg_structs = F.expr(
        "transform(sequence(1, size(arr) - 1),"
        " i -> struct(arr[i - 1] AS w1, arr[i] AS w2))")
    bg = (d.select(F.split("text", " ").alias("arr"))
          .filter(F.size("arr") >= 2)   # sequence(1,0) is DESCENDING
          .select(F.explode(bg_structs).alias("b"))
          .groupBy(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
          .agg(F.count(F.lit(1)).alias("c12")))
    m1 = bg.groupBy("w1").agg(F.sum("c12").alias("c1"))
    m2 = bg.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n = bg.agg(F.sum("c12").alias("nbig"))
    # NO broadcast hint on the marginals: m1/m2 are vocabulary-sized
    # (potentially GBs on a noisy 100 TB corpus) while the support-
    # filtered bigram side is small — AQE broadcasts the right side
    return (bg.filter(F.col("c12") >= PMI_MIN_COUNT)
            .join(m1, "w1")
            .join(m2, "w2")
            .crossJoin(F.broadcast(n))
            .select("w1", "w2", F.col("c12").cast("long").alias("n_pairs"),
                    F.expr("(c12 * nbig * 1000000) div (c1 * c2)")
                    .alias("pmi_ratio_ppm"))
            .orderBy(F.col("pmi_ratio_ppm").desc(),
                     F.col("n_pairs").desc(), "w1", "w2")
            .limit(PMI_TOP))


# ------------------------------------------- relative quality filtering

#: keep the top quarter of each language's score distribution
QQF_Q = 0.75


@register(
    "text_quality_quantile_filter",
    category="text",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
             (CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                   w -> w IN ('the', 'a', 'of', 'and'))) AS BIGINT)
              * 1000000)
               // CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS score_fx
      FROM documents),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY score_fx, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM scored),
    thr AS (
      SELECT lang, MIN(score_fx) AS thr_fx
      FROM ranked WHERE rn >= CAST(CEIL({QQF_Q} * n) AS BIGINT)
      GROUP BY lang)
    SELECT r.lang, t.thr_fx,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN r.score_fx >= t.thr_fx
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.score_fx >= t.thr_fx
                         THEN r.n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM ranked r JOIN thr t ON r.lang = t.lang
    GROUP BY r.lang, t.thr_fx ORDER BY r.lang
    """)
def text_quality_quantile_filter(spark, sf_dir):
    """RELATIVE quality filtering (the FineWeb/FineWeb-Edu recipe): keep
    each language's top quarter by score rather than applying one
    absolute threshold — absolute gates systematically starve
    low-resource languages whose score distributions sit lower. The
    per-language cutoff is the exact discrete 0.75-quantile computed
    with explicit window arithmetic (smallest score at rank >=
    ceil(0.75 n), tie-broken on doc_id) so both engines pick the
    identical element — no engine-specific QUANTILE semantics in play —
    and the score is the integer stopword-density surrogate
    (n_stop x 10^6 // n_tokens), hash-exact like the rest of the text
    family. Output: per-language threshold + survivorship accounting.

    Scale: one corpus projection computes scores; ONE shuffle by lang
    feeds both the ranking window and the final rollup; the threshold
    table is |languages|-sized and broadcasts back. At 100 TB the
    window's per-lang sort is the cost — if languages skew, range-
    partition the window by (lang, score bucket) or pre-aggregate to
    (lang, score) counts first (score cardinality <= 10^6 makes the
    exact quantile computable from the compressed histogram)."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id", "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.expr("(cast(size(filter(split(text, ' '),"
               " w -> w in ('the', 'a', 'of', 'and'))) as bigint)"
               " * 1000000)"
               " div cast(size(split(text, ' ')) as bigint)")
        .alias("score_fx"))
    w = Window.partitionBy("lang").orderBy("score_fx", "doc_id")
    ranked = (scored
              .withColumn("rn", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1))
                          .over(Window.partitionBy("lang"))))
    thr = (ranked
           .filter(F.col("rn") >= F.ceil(QQF_Q * F.col("n")).cast("long"))
           .groupBy("lang").agg(F.min("score_fx").alias("thr_fx")))
    kept = F.col("score_fx") >= F.col("thr_fx")
    return (ranked.join(F.broadcast(thr), "lang")
            .groupBy("lang", "thr_fx")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(kept.cast("long")).alias("n_kept"),
                 F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
                 .cast("long").alias("kept_tokens"))
            .orderBy("lang"))


_DSIR_B = 512          # hashed feature buckets (Xie et al. use 10^4;
                       # 512 keeps the sf0.01 model table dense)
_DSIR_SCALE = 10_000   # fixed-point permyriad for the ratio weights
_DSIR_TOPN = 40


def _dsir_oracle() -> str:
    from cstore_fdw_spark.functions.portable_hash import duck_h60

    bkt = duck_h60("arr[i] || ' ' || arr[i + 1]")
    return f"""
    WITH tok AS (
      SELECT doc_id, lang, source, STRING_SPLIT(text, ' ') AS arr
      FROM documents),
    bg AS (
      SELECT doc_id, lang, source, {bkt} % {_DSIR_B} AS bkt,
             COUNT(*) AS m
      FROM tok, LATERAL UNNEST(generate_series(1, len(arr) - 1)) u(i)
      GROUP BY doc_id, lang, source, bkt),
    raw AS (SELECT bkt, SUM(m) AS c_r FROM bg GROUP BY bkt),
    tgt AS (SELECT bkt, SUM(m) AS c_t FROM bg WHERE lang = 'en'
            GROUP BY bkt),
    model AS (
      SELECT raw.bkt, c_r, COALESCE(c_t, 0) AS c_t,
             SUM(c_r) OVER () AS n_r,
             SUM(COALESCE(c_t, 0)) OVER () AS n_t
      FROM raw LEFT JOIN tgt ON raw.bkt = tgt.bkt),
    wm AS (
      SELECT bkt, (c_t + 1) * (n_r + {_DSIR_B}) * {_DSIR_SCALE}
                  // ((c_r + 1) * (n_t + {_DSIR_B})) AS w_fx
      FROM model),
    scored AS (
      SELECT doc_id, lang, source,
             CAST(SUM(m) AS BIGINT) AS n_bigrams,
             CAST(SUM(m * w_fx) AS BIGINT) AS dsir_score
      FROM bg JOIN wm ON bg.bkt = wm.bkt
      GROUP BY doc_id, lang, source)
    SELECT doc_id, lang, source, n_bigrams, dsir_score
    FROM scored ORDER BY dsir_score DESC, doc_id LIMIT {_DSIR_TOPN}
    """


@register(
    "text_dsir_importance",
    category="text",
    oracle=_dsir_oracle())
def text_dsir_importance(spark, sf_dir):
    """DSIR data selection (Xie et al. '23, Data Selection for Language
    Models via Importance Resampling): rank raw-corpus documents by how
    target-like their hashed n-gram features are, using importance
    weights from a target/raw ratio of smoothed feature counts. Target
    here = the corpus's English slice (the 'domain data' stand-in);
    features = word bigrams hashed into 512 buckets (the paper's hashed
    n-gram generative model). Per-bucket weight is the add-one-smoothed
    ratio ((c_t+1)/(N_t+B)) / ((c_r+1)/(N_r+B)) in exact integer
    permyriad — cross-multiplied, never divided early — and a doc's
    score is the occurrence-weighted SUM of its bucket weights (the
    additive surrogate for the paper's log-likelihood ratio: log-space
    floats are not cross-engine deterministic, and the induced ranking
    drives the same top-N resample). Output: the top 40 docs by
    (score DESC, doc_id) — the batch DSIR selects for a training mix.

    Scale: the corpus tokenizes ONCE into a per-(doc, bucket) rollup
    that serves BOTH the model counts and the scoring join (the
    text_ngram_lm_score discipline); the model is a 512-row table, its
    totals come from a window over those 512 rows (one single-partition
    exchange of 512 rows, never corpus-sized), and the scoring join is
    bucket-keyed against that tiny table — AQE broadcasts it. The
    final top-N is a TakeOrdered, not a global sort. At 10^12-bigram
    scale the int64 cross-product (c_t+1)·(N_r+B)·10^4 overflows:
    switch the weight expression to DECIMAL(38,0) — the plan shape is
    unchanged. Fixture-free: model and selection derive from the same
    corpus the driver hashes."""
    from pyspark.sql.window import Window

    from cstore_fdw_spark.functions.portable_hash import spark_h60

    d = table(spark, sf_dir, "documents")
    bg_structs = F.expr(
        "transform(sequence(1, size(arr) - 1),"
        " i -> concat(arr[i - 1], ' ', arr[i]))")
    bg = (d.select("doc_id", "lang", "source",
                   F.split("text", " ").alias("arr"))
          .filter(F.size("arr") >= 2)   # sequence(1,0) is DESCENDING
          .select("doc_id", "lang", "source",
                  F.explode(bg_structs).alias("bigram"))
          .select("doc_id", "lang", "source",
                  F.expr(f"{spark_h60('bigram')} % {_DSIR_B}")
                  .alias("bkt"))
          .groupBy("doc_id", "lang", "source", "bkt")
          .agg(F.count(F.lit(1)).alias("m")))
    raw = bg.groupBy("bkt").agg(F.sum("m").alias("c_r"))
    tgt = (bg.filter(F.col("lang") == "en")
           .groupBy("bkt").agg(F.sum("m").alias("c_t")))
    wtot = Window.partitionBy()   # over the B-row model table only
    model = (raw.join(tgt, "bkt", "left")
             .select("bkt", "c_r",
                     F.coalesce("c_t", F.lit(0)).alias("c_t"))
             .withColumn("n_r", F.sum("c_r").over(wtot))
             .withColumn("n_t", F.sum("c_t").over(wtot))
             .select("bkt", F.expr(
                 f"(c_t + 1) * (n_r + {_DSIR_B}) * {_DSIR_SCALE}"
                 f" DIV ((c_r + 1) * (n_t + {_DSIR_B}))").alias("w_fx")))
    scored = (bg.join(model, "bkt")
              .groupBy("doc_id", "lang", "source")
              .agg(F.sum("m").cast("long").alias("n_bigrams"),
                   F.sum(F.col("m") * F.col("w_fx")).cast("long")
                   .alias("dsir_score")))
    return (scored.orderBy(F.col("dsir_score").desc(), "doc_id")
            .limit(_DSIR_TOPN)
            .select("doc_id", "lang", "source", "n_bigrams",
                    "dsir_score"))


def _bpe_pack_oracle() -> str:
    """Pack by the TRAINED tokenizer's counts: nest the full encode
    oracle (which itself nests the trainer's CTE chain) as a subquery,
    then apply the identical packing algebra as text_pack_sequences."""
    return f"""
    WITH enc AS ({_bpe_encode_oracle()}),
    t AS (
      SELECT d.doc_id, d.source, e.n_bpe_tokens AS n_tokens
      FROM documents d JOIN enc e ON e.doc_id = d.doc_id),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
      FROM t)
    SELECT source,
           CAST((cum - n_tokens) // {PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM c GROUP BY 1, 2
    """


@register(
    "text_bpe_pack_sequences",
    category="text",
    oracle=_bpe_pack_oracle())
def text_bpe_pack_sequences(spark, sf_dir):
    """Sequence packing by the TRAINED BPE vocabulary — the budget every
    real training pipeline actually packs against (text_pack_sequences
    uses whitespace counts; a 2048-token context is a 2048-BPE-token
    context). Composes two REGISTERED operators literally:
    :func:`text_bpe_encode` supplies per-doc n_bpe_tokens (itself
    applying :func:`text_bpe_train`'s merges), and the packing algebra
    is the same per-source cumulative-sum window / PACK_BUDGET chunking
    as text_pack_sequences — the oracle nests the encode oracle's text
    so train/encode/pack can never drift apart.

    Scale: encoding is the corpus-once projection text_bpe_encode
    already is; packing adds one per-source window over the doc-sized
    (doc_id, n_tokens) frame and one rollup. Train/serve/pack symmetry
    for the tokenizer family, matching the IVFADC artifact standard."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    enc = text_bpe_encode(spark, sf_dir).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens"))
    t = d.select("doc_id", "source").join(enc, "doc_id")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (c.select("source", "doc_id", "n_tokens",
                     F.expr(f"(cum - n_tokens) div {PACK_BUDGET}")
                     .cast("long").alias("pack_id"))
            .groupBy("source", "pack_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens_total"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))
