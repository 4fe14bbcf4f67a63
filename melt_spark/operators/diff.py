"""Diff — DB snapshot vs topic state as a full-outer join.

Reference: `diff` materializes both sides as {[topic key] → row} maps, fuzzes
the source side through the lossy JSON round-trip, then clojure.data/diff
yields {:table-only, :topic-only} (src/jdbc/melt.clj:382-429). `deleted`
(melt.clj:484-487) = keys present only in the topic and absent from the table
→ tombstones.

Spark restatement (SURVEY.md §2.3/J2,J3): full_outer join on (topic, key),
filter rows whose canonical values differ (null-safe), tag the side. ONE
shuffle (or zero if both sides are bucketed/pre-partitioned on key); no
driver-side state, so a 100 TB table diffs fine. Broadcast is applied
automatically when one side is small (AQE); for the common "tiny drift"
verify case the topic side arrives pre-compacted from latest_state.

Semantics table (src = canonical source value, top = canonical topic value):
  src == top            -> in sync, dropped
  src != top, both set  -> 'table_only' (stale topic: resend source row)
  src set, top null     -> 'table_only' (missing from topic: send)
  src null, top set     -> 'topic_only' (extra in topic: tombstone candidate)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SIDE = "side"
TABLE_ONLY = "table_only"
TOPIC_ONLY = "topic_only"


def diff(source_msgs: DataFrame, topic_state: DataFrame,
         on: Sequence[str] = ("topic", "key"),
         value_col: str = "value") -> DataFrame:
    """Return out-of-sync rows tagged table_only/topic_only.

    source_msgs: message envelopes from Source.messages() — the canonical
    `value` is compared, but ALL source columns ride through so sync can send
    original (non-lossy) values (melt.clj:415-416).
    topic_state: compacted latest-state with the same (topic, key, value).
    """
    on = list(on)
    src = source_msgs.withColumnRenamed(value_col, "__src_value")
    top = topic_state.select(
        *on, F.col(value_col).alias("__top_value"))

    joined = src.join(top, on=on, how="full_outer")
    src_v, top_v = F.col("__src_value"), F.col("__top_value")

    out_of_sync = joined.filter(~src_v.eqNullSafe(top_v))
    return out_of_sync.withColumn(
        SIDE,
        F.when(src_v.isNotNull(), F.lit(TABLE_ONLY)).otherwise(F.lit(TOPIC_ONLY)),
    ).withColumnRenamed("__src_value", "src_value") \
     .withColumnRenamed("__top_value", "topic_value")


def deleted_keys(diff_df: DataFrame,
                 on: Sequence[str] = ("topic", "key")) -> DataFrame:
    """Keys to tombstone: in the topic but absent from the table entirely
    (reference `deleted`, melt.clj:484-487 — topic-only keys minus
    table-only keys). Because diff() is a full-outer join per key, a key is
    'absent from the table' exactly when its row is topic_only (the join
    found no source row), so no second anti-join pass is needed."""
    return diff_df.filter(F.col(SIDE) == TOPIC_ONLY).select(*on)


def diff_matches(diff_df: DataFrame) -> bool:
    """Reference diff-matches? (melt.clj:532-533): both sides empty.
    Dataset.isEmpty takes one row and stops; a count over a LIMIT would
    add two single-partition exchanges for the same answer."""
    return diff_df.isEmpty()
