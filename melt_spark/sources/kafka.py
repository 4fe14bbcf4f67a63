"""Kafka source/sink — batch snapshot reads, offset-ranged refresh, and the
producer sink, Spark-native.

Reference: assigns all partitions, seeks to beginning, polls until a captured
end-offsets snapshot is reached (read-topics, src/jdbc/melt.clj:239-299,
342-357), folds records to latest-state, and keeps an :offsets map for
incremental refresh (:511-523). Producing is async sends + a flush barrier
(:431-443).

Spark restatement: the batch Kafka source resolves start/end offsets
atomically (`startingOffsets`/`endingOffsets`), so the reference's
"read twice because end-offsets may move" workaround (melt.clj:342-351)
disappears; incremental refresh = passing the saved offsets JSON as
startingOffsets (T5); produce = one `write.format("kafka")` with
at-least-once semantics per batch, tombstones as value=NULL rows.

No Kafka broker or spark-sql-kafka package exists in this test environment —
these builders are import-safe, and offset-bookkeeping logic is pure and
unit-tested. The SAME four surfaces (bounded read, incremental refresh,
producer sink, streaming tail/sink) run for real against the file-backed
mock broker in sources/mock_broker.py, which mirrors every signature here —
swap the module, keep the call sites. Its streaming sink is
foreachBatch → write_messages, one call per topic per micro-batch, made
idempotent by a ledger keyed by query id and batch id.
"""

from __future__ import annotations

import json
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ENVELOPE = ("topic", "partition", "offset", "timestamp", "key", "value")


def read_topics(spark: SparkSession, bootstrap: str, topics: Sequence[str],
                starting_offsets: str = "earliest",
                ending_offsets: str = "latest") -> DataFrame:
    """Bounded snapshot of one or more topics (S8/T1): Spark resolves the
    offset range atomically at planning time. Returns the record envelope
    with key/value cast to strings (our wire format is JSON text)."""
    raw = (spark.read.format("kafka")
           .option("kafka.bootstrap.servers", bootstrap)
           .option("subscribe", ",".join(topics))
           .option("startingOffsets", starting_offsets)
           .option("endingOffsets", ending_offsets)
           .load())
    return raw.select(
        "topic", "partition", "offset", "timestamp",
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    )


def refresh_offsets_json(watermarks: list[dict]) -> str:
    """Saved watermarks → startingOffsets JSON for incremental refresh (T5).
    watermarks: rows of {topic, partition, max_offset} (see
    operators.latest_state.offset_watermarks). Kafka's startingOffsets are
    INCLUSIVE, so next read starts at max_offset + 1."""
    per_topic: dict[str, dict[str, int]] = {}
    for w in watermarks:
        per_topic.setdefault(w["topic"], {})[str(w["partition"])] = \
            int(w["max_offset"]) + 1
    return json.dumps(per_topic, sort_keys=True)


def write_messages(messages: DataFrame, bootstrap: str) -> None:
    """Producer sink (S14/S15): (topic, key, value) rows, NULL value =
    tombstone. Kafka's default partitioner hashes the key, preserving
    per-key ordering within a partition — the invariant latest-state
    compaction relies on."""
    (messages.select("topic", "key", "value")
     .write.format("kafka")
     .option("kafka.bootstrap.servers", bootstrap)
     .save())


def count_topic(spark: SparkSession, bootstrap: str, topic: str) -> int:
    """S10: message count currently in a topic."""
    return read_topics(spark, bootstrap, [topic]).count()
