"""Message outbox — a file-backed sink with the Kafka sink's contract.

Two uses: (1) environments without a broker (this one) still get a durable,
replayable record of every message a load/sync produced; (2) the classic
outbox pattern — write messages transactionally next to the data, ship to
Kafka asynchronously.

Layout: parquet partitioned by topic (partition pruning on re-read), with a
monotone batch_id column so replay order is explicit. NULL values
(tombstones) are preserved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_outbox(messages: DataFrame, path: str, batch_id: int,
                 mode: str = "append") -> None:
    """Append one batch of (topic, key, value) messages.

    A real monotone-within-batch sequence (`seq`) is persisted AT WRITE TIME
    so replay order is exact even when one key appears twice in a batch —
    a derived tiebreak (e.g. a key hash) would make latest-state pick a
    nondeterministic winner for such keys. monotonically_increasing_id is
    assigned once here and frozen in the file, so every re-read agrees."""
    (messages.select("topic", "key", "value")
     .withColumn("batch_id", F.lit(batch_id).cast("long"))
     .withColumn("seq", F.monotonically_increasing_id())
     .write.mode(mode).partitionBy("topic").parquet(path))


def read_outbox(spark: SparkSession, path: str,
                topics: list[str] | None = None) -> DataFrame:
    """Read back messages; topic filter prunes partitions at the scan."""
    df = spark.read.parquet(path)
    if topics:
        df = df.filter(F.col("topic").isin(*topics))
    return df


def outbox_as_changelog(spark: SparkSession, path: str) -> DataFrame:
    """Expose the outbox as a changelog consumable by latest_state with the
    compound order (batch_id, seq): batch id is the coarse produce order;
    seq is the persisted write-time sequence, so two records for the SAME
    key within one batch replay in their written order (deterministic
    winner — see write_outbox)."""
    return read_outbox(spark, path).select(
        "topic", "key", "value", "batch_id", "seq")


def latest_outbox_state(spark: SparkSession, path: str) -> DataFrame:
    """Compacted latest-state view of the outbox (tombstones applied)."""
    from .latest_state import latest_state

    return latest_state(outbox_as_changelog(spark, path),
                        order_col=("batch_id", "seq")) \
        .select("topic", "key", "value")
