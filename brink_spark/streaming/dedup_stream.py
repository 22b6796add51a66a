"""Streaming exact dedup: first-seen wins across micro-batches.

The online form of the batch exact-dedup operator
(queries/pipeline.py::q_dedup_exact): as documents arrive, emit only the
first row per content hash; later arrivals of the same content — in the
same micro-batch or ANY later one — are dropped by the state store. This
is the ingest-side dedup a crawl->corpus pipeline runs continuously,
where batch re-dedup over the whole corpus would reprocess everything per
increment.

State sizing at scale: ``dropDuplicates`` keeps one state row per distinct
key forever, which at 10^10 documents is exactly the problem the crawl
engine's sharded Bloom seen set solves (operators/seen.py) — so for
bounded state pass ``ts_col``: the watermark lets Spark expire keys older
than ``delay`` (``dropDuplicatesWithinWatermark``), the right contract
when duplicates cluster in time (recrawls, mirror bursts). Unbounded mode
(ts_col=None) is the small-corpus/test form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_content_key(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add the dedup key: md5 of the content (same key as q_dedup_exact)."""
    return docs.withColumn("content_md5", F.md5(F.col(text_col)))


def dedup_stream(
    docs: DataFrame,
    key_cols: tuple[str, ...] = ("content_md5",),
    ts_col: str | None = None,
    delay: str = "1 hour",
) -> DataFrame:
    """First-seen-wins dedup over a streaming DataFrame.

    With ``ts_col``: watermarked state (keys expire after ``delay``).
    Without: exact global dedup, state grows with distinct keys.
    """
    if ts_col is not None:
        return docs.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return docs.dropDuplicates(list(key_cols))
