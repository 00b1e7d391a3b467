"""Structured Streaming over the documents table: the streaming twin of
the curation pipeline's projection stages (quality gate + PII scrub
accounting), proving the text operators run unchanged on a stream.

Two stages of the batch recipe stream verbatim (they are pure
projections, so micro-batch order cannot matter); the exact-dedup stage
deliberately does NOT stream here: its batch semantics pick keeper =
min(doc_id) per content digest, while streaming ``dropDuplicates`` keeps
the FIRST-SEEN row — an arrival-order-dependent answer. Streaming dedup
with first-seen semantics over watermarked keys is covered by
``streaming.events.dedup_events``; content-keeper dedup stays a batch
(or foreachBatch) operator by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cstore_fdw_spark.operators.text import pii_count, pii_injected_text


def curation_accounting(docs: DataFrame) -> DataFrame:
    """Quality gate (C4/Gopher filters) + PII-scrub accounting per
    (lang, source) — the projection stages of the batch
    ``text_curation_pipeline``, streamed. Stateless projections followed
    by one aggregation; complete output mode reports the running
    survivorship table after every micro-batch."""
    toks = F.split("text", " ")
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(
        toks, lambda w: w.isin("the", "a", "of", "and"))).cast("long")
    n_pii = pii_count(pii_injected_text())
    return (docs
            .select("doc_id", "lang", "source",
                    n_tokens.alias("n_tokens"), n_stop.alias("n_stop"),
                    n_pii.alias("n_pii"))
            .filter((F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 1000)
                    & (F.col("n_stop").cast("double")
                       / F.col("n_tokens") >= 0.01))
            .groupBy("lang", "source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_pii").alias("pii_redactions")))
