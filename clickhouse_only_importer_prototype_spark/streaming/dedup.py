"""Streaming exact dedup: drop already-seen documents as they arrive.

The batch dedup operators (operators/dedup.py) answer "which docs in
this corpus are duplicates"; a training-data INGEST pipeline needs the
streaming form — "have I seen this text before, across micro-batches"
— so freshly crawled shards can be appended continuously with
duplicates dropped at the door.

Two variants:

* ``dedup_stream``: exact forever-dedup via ``dropDuplicates`` on md5
  of the normalized text (identical to the batch fingerprint, so batch
  and stream agree on what "duplicate" means). State = one entry per
  distinct text, kept indefinitely — correct for bounded backfills
  (availableNow) or corpora whose distinct-count fits executor state
  stores.
* ``dedup_keys_within_watermark``: bounded-state variant via
  ``dropDuplicatesWithinWatermark`` on a key column — duplicates are
  only suppressed within the event-time watermark horizon, and state
  older than the watermark is evicted. The 100 TB/unbounded choice:
  crawl dups cluster in time, so a horizon of days catches nearly all
  of them at O(horizon) state instead of O(corpus).

Both are engine-native stateful operators (no Python in the loop): the
fingerprint projection is JVM codegen and the dedup state lives in the
executor state store, shuffle-partitioned by fingerprint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def _fingerprint(text_col: Column) -> Column:
    # mirror of operators/text._norm + md5 — inline to keep this module
    # importable without the batch operators
    return F.md5(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("__fp", _fingerprint(F.col(text_col)))


def dedup_stream(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """First occurrence of each distinct normalized text passes; every
    later one (same or later micro-batch) is dropped. Unbounded state —
    use dedup_keys_within_watermark for unbounded streams."""
    return with_fingerprint(stream, text_col).dropDuplicates(["__fp"]).drop("__fp")


def dedup_keys_within_watermark(
    stream: DataFrame,
    key_col: str,
    time_col: str = "event_time",
    delay: str = "1 hour",
) -> DataFrame:
    """Key-generic watermark-bounded streaming dedup: the first event
    per key passes and pins a state row expiring at its event time +
    ``delay``; duplicates within the horizon are suppressed; once the
    watermark passes the expiry the state row is EVICTED and a later
    arrival of the same
    key re-emits. That re-emission is the 100 TB contract the horizon
    buys — O(horizon) state instead of O(stream) — and is value-pinned
    by the stream_dedup_eviction twin (queries.py)."""
    return stream.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(
        [key_col]
    )
