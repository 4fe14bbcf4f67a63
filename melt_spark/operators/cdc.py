"""CDC — change-tracking replay as DataFrame plans.

Reference (src/jdbc/melt/sql_server.clj): SQL Server change tracking yields
rows of PK + sys_change_* tracking fields LEFT OUTER JOINed to the base table
for current values (change-entity-sql, sql_server.clj:76-95, NULL row ⇒
deleted); `send-changes` replays rows with version > v in version order,
relocating tracking fields out of the value (:117-119), emitting tombstones
for operation 'D' (:121-124), and returns {:version max, :sent-count count}
(:126-144) for the caller to checkpoint (version chaining,
integration_test.clj:203-226).

Spark restatement: the version window is a pushed-down predicate (or a
parquet filter); tracking-field relocation is a projection; D→tombstone is a
CASE expression; last+count is one aggregate using max() — NOT the
reference's order-dependent "last of the seq" (a distributed engine cannot
rely on fold order; max over the monotone version is the correct restatement,
SURVEY.md §2.4/A4).
"""

from __future__ import annotations

from typing import Sequence, TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..canonical import ISO_MILLIS, canonical_json

if TYPE_CHECKING:
    from ..model import Source

TRACKING_COLS = (
    "sys_change_operation",
    "sys_change_version",
    "sys_change_creation_version",
    "sys_change_columns",
    "sys_change_context",
)
DELETE_OP = "D"


def changes_with_entity(changes: DataFrame, base: DataFrame,
                        keys: Sequence[str]) -> DataFrame:
    """J1: change rows (PK + tracking) joined to base table for current
    values; NULL base side ⇒ the row was deleted (sql_server.clj:85-95).
    The change set of a micro-batch is usually tiny next to the base table —
    leave strategy choice to AQE; with both sides bucketed on PK this is a
    shuffle-free join."""
    return changes.join(base, on=list(keys), how="left")


def replay_changes(changes: DataFrame, source: "Source",
                   from_version: int = 0,
                   ts_format: str | None = None) -> DataFrame:
    """Changes with version > from_version → message envelopes.

    Output: topic, key, value (NULL for deletes) + relocated tracking fields
    sys_change_operation / sys_change_version (the reference moves them out
    of the value and into the message, sql_server.clj:117-119).
    """
    ts_format = ts_format or getattr(source, "ts_format", None) or ISO_MILLIS
    present = [c for c in TRACKING_COLS if c in changes.columns]
    if "sys_change_version" not in present:
        raise ValueError("changes DataFrame lacks sys_change_version")

    df = changes.filter(F.col("sys_change_version") > F.lit(from_version))
    value_cols = [c for c in df.columns if c not in set(present)]

    is_delete = F.col("sys_change_operation") == F.lit(DELETE_OP)
    value = F.when(is_delete, F.lit(None).cast("string")) \
             .otherwise(canonical_json(value_cols, ts_format))

    return df.select(
        F.lit(source.default_topic).alias("topic"),
        canonical_json(source.keys, ts_format).alias("key"),
        value.alias("value"),
        *[F.col(c) for c in present],
    )


def change_stats(messages: DataFrame) -> dict:
    """{'version': max sys_change_version, 'sent_count': n} — the checkpoint
    the caller chains into the next replay (sql_server.clj:126-144)."""
    row = messages.agg(
        F.max("sys_change_version").alias("version"),
        F.count(F.lit(1)).alias("sent_count"),
    ).collect()[0]
    return {"version": row["version"], "sent_count": row["sent_count"]}


def net_effect(changes: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Net-effect batching — collapse each key's change sequence within a
    replay window to the ONE operation a downstream applier needs (the
    compaction Debezium/Kafka-Connect consumers and Delta CDF's
    net-changes mode perform before applying a micro-batch): I…D nets to
    NONE (created and destroyed inside the window — nothing to apply),
    …D nets to D, I… nets to I, anything else is a plain U. Applying the
    net effect is idempotent where replaying the full sequence is not,
    and shrinks the apply write-set from O(changes) to O(keys).

    The first/last operations are min_by/max_by over the monotone
    version — ordinary partial-aggregable aggregates, the same
    order-from-a-column (never fold-order) discipline as change_stats;
    one map-side-combined shuffle regardless of per-key change counts.

    Output per key: first_version, last_version, n_changes, first_op,
    last_op, net_op.
    """
    g = (changes.groupBy(*keys)
         .agg(F.min("sys_change_version").alias("first_version"),
              F.max("sys_change_version").alias("last_version"),
              F.count(F.lit(1)).alias("n_changes"),
              F.min_by("sys_change_operation", "sys_change_version")
              .alias("first_op"),
              F.max_by("sys_change_operation", "sys_change_version")
              .alias("last_op")))
    ins, dele = F.col("first_op") == "I", F.col("last_op") == DELETE_OP
    net = (F.when(ins & dele, "NONE")
           .when(dele, "D")
           .when(ins, "I")
           .otherwise("U"))
    return g.select(*keys, "first_version", "last_version",
                    F.col("n_changes").cast("bigint").alias("n_changes"),
                    "first_op", "last_op", net.alias("net_op"))
