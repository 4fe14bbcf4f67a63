"""Sync — turn a diff into the message batch that repairs the topic.

Reference sync-kafka (src/jdbc/melt.clj:495-509): produce every :table-only
row (upsert) and a nil-value tombstone for every `deleted` key, return the
total messages sent. Upserts carry the ORIGINAL values (unfuzz-keys,
melt.clj:415-416) — diffing happened in lossy space but what's sent is the
source row's canonical serialization, which for us is the same `value` string
(our canonical form IS the wire form, so no unfuzz step is needed).

Spark restatement: one projection of the diff output into a
Kafka-sink-shaped DataFrame (topic, key, value) — a single write, tombstones
included as value=NULL rows — materialized once, so the count and the send
read the same rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .diff import SIDE, TABLE_ONLY, TOPIC_ONLY


def sync_plan(diff_df: DataFrame,
              on: Sequence[str] = ("topic", "key")) -> DataFrame:
    """Diff rows → repair messages: upserts (side=table_only, send source
    value) + tombstones (side=topic_only, value=NULL). Output matches the
    Kafka sink contract exactly.

    Single CASE projection rather than union-of-filters: a union would
    recompute the diff join once per branch (Spark does not dedup common
    subplans) — at 100 TB that doubles the dominant shuffle.

    EAGER: the batch is pinned with localCheckpoint before it is returned,
    so the diff runs exactly once, here. The reference computes the diff
    once, then counts and sends that one batch (melt.clj:495-509); a lazy
    plan would re-run the diff for sync_count and again for the send, and
    the count and the rows sent could then come from two different source
    snapshots. Not persist()/cache(): the CacheManager matches identical
    plans across calls and would serve stale rows after the files under a
    path change. localCheckpoint drops lineage, so losing an executor that
    holds checkpointed blocks fails the write instead of recomputing it.
    A failed write publishes nothing (the mock broker and Spark's file
    sinks commit only after the job succeeds), so the caller re-runs the
    sync."""
    return diff_df.select(
        *on,
        F.when(F.col(SIDE) == TABLE_ONLY, F.col("src_value"))
         .otherwise(F.lit(None).cast("string")).alias("value")) \
        .localCheckpoint()


def sync_count(sync_df: DataFrame) -> int:
    """Total repair messages (reference returns the sum, melt.clj:504-508).
    On a sync_plan batch this counts the pinned rows; the diff is not
    re-run."""
    return sync_df.count()
