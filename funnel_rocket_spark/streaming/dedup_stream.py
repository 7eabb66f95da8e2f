"""Streaming exact deduplication: content-digest dropDuplicates with a
watermark-bounded state store.

EXTENSION beyond the reference (funnel-rocket is strictly batch). This is
the continuous twin of ``operators.dedup.exact_duplicates``: an unbounded
document stream is filtered to first-seen content, where "seen" is the
batch operator's own ``content_digest`` (md5 of the RAW text; null text
is its own duplicate class), so a doc dropped here is exactly a doc the
batch exact dedup would have dropped. Near-dup normalization
(case/whitespace) belongs to the MinHash family, not here: an exact-dedup
stream must never delete data the batch exact contract keeps.

Scale notes: state is keyed by the digest — uniformly distributed by
construction, no skew. ``dropDuplicatesWithinWatermark`` evicts digest
state older than the watermark delay, so memory is bounded by the duplicate
arrival window rather than the stream's lifetime (a true global-history
dedup at 100 TB belongs in the batch pipeline; the stream layer catches
the near-in-time duplicates that dominate crawl feeds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from funnel_rocket_spark.operators.dedup import content_digest


def streaming_exact_dedup(docs: DataFrame, ts_col: str,
                          text_col: str = "text",
                          watermark: str = "10 minutes") -> DataFrame:
    """Streaming DF → rows whose content digest was not seen within the
    watermark window. ``ts_col`` must be TimestampType (event time).

    Emits each distinct content exactly once per watermark window; exact
    within the window, best-effort across windows (state eviction is the
    price of bounded memory on an unbounded stream).
    """
    with_digest = docs.withColumn("__digest", content_digest(F.col(text_col)))
    return (with_digest
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__digest"])
            .drop("__digest"))
