"""Continuous materialization — Structured Streaming restatements.

Reference T3 (src/jdbc/melt.clj:325-340): a background thread folds Kafka
records into a latest-state atom, with an AutoCloseable shutdown flag.

Spark restatement: `readStream → groupBy(topic,key).agg(max_by(payload,
offset))`. In production the sink is foreachBatch-MERGE into a keyed table
(or update-mode to a KV store); checkpointLocation replaces the reference's
:offsets map (T9) and shutdown flag (query.stop()). For bounded demo/test
runs we use complete-mode into a memory sink — fine for compacted state that
fits one node, NOT the 100 TB path (which is update/foreachBatch).

Also here: event-time tumbling-window aggregation with watermark — the
late-data machinery the reference lacks entirely (SURVEY.md §2.9 notes no
event-time exists there; any real 100 TB stream needs it).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.latest_state import latest_state


def stream_from_parquet(spark: SparkSession, path: str,
                        schema=None) -> DataFrame:
    """File-source stream over existing parquet (test stand-in for the Kafka
    readStream; the projection/agg downstream is identical either way).

    Timestamp normalization mirrors sources/parquet.read_table: parquet
    µs/ms timestamps with isAdjustedToUTC=false must surface as session-TZ
    TIMESTAMP, not TIMESTAMP_NTZ — watermarks reject NTZ event time
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session tz is pinned UTC so the
    instant is unchanged."""
    from pyspark.sql.types import StructField, StructType, TimestampNTZType, \
        TimestampType
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    except Exception:
        pass
    if schema is None:
        schema = spark.read.parquet(path).schema
    # defensive: a caller-provided (or stale-conf-inferred) schema may still
    # carry NTZ fields — request LTZ from the reader instead
    schema = StructType([
        StructField(f.name, TimestampType(), f.nullable, f.metadata)
        if isinstance(f.dataType, TimestampNTZType) else f
        for f in schema.fields])
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1"))
    if path.endswith(".parquet") and "*" not in path:
        # the file source requires a directory: stream the parent dir with a
        # glob filter pinned to this one file
        import os
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def stream_latest_state(changelog_stream: DataFrame,
                        key_cols=("topic", "key"), order_col: str = "offset",
                        payload_cols=None, tombstone_col: str = "value") -> DataFrame:
    """The same one-aggregation compaction as the batch operator — Spark
    keeps per-key state in the state store; max_by has a partial merge so
    each micro-batch shuffles only its delta."""
    return latest_state(changelog_stream, key_cols, order_col, payload_cols,
                        tombstone_col, drop_tombstones=True)


def run_to_memory(result: DataFrame, mode: str = "complete",
                  name: str | None = None) -> tuple:
    """Execute a streaming plan to completion over the currently-available
    input and expose it as a queryable table. Returns (query, table_name)."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (result.writeStream.format("memory").queryName(name)
         .outputMode(mode).start())
    q.processAllAvailable()
    return q, name


def stream_latest_state_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming latest-state over the events fixture: identical
    output contract to the batch q_latest_state (same DuckDB oracle)."""
    stream = stream_from_parquet(spark, f"{sf_dir}/events.parquet")
    # normalize ns-long ts if the parquet stores TIMESTAMP(NANOS)
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    log = stream.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("melt.main.users_even"))
         .otherwise(F.lit("melt.main.users_odd")).alias("topic"),
        F.to_json(F.struct(F.col("user_id").alias("user_id"))).alias("key"),
        F.col("event_id").alias("off"),
        "event_type",
        F.when(F.col("event_type") == "error", F.lit(None).cast("double"))
         .otherwise(F.col("value")).alias("value"),
    )
    state = stream_latest_state(log, ("topic", "key"), "off",
                                ["event_type", "value"], "value")
    out = state.select(
        "topic", "key", F.col("off").alias("last_offset"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"))
    query, name = run_to_memory(out, mode="complete")
    try:
        # materialize the final snapshot as a plain batch DataFrame
        return spark.table(name).localCheckpoint(eager=True)
    finally:
        query.stop()


def stream_stream_join(left_stream: DataFrame, right_stream: DataFrame,
                       key: str,
                       left_ts: str, right_ts: str,
                       lookback: str = "1 hour",
                       watermark: str = "1 day") -> DataFrame:
    """Stream-stream inner join with an event-time range condition: right
    events within `lookback` BEFORE each left event, same key. Watermarks
    on both sides bound the join state (Spark evicts right rows older than
    watermark+lookback) — the enrich-a-stream-with-a-recent-stream shape
    (e.g. purchases joined to the clicks that preceded them)."""
    l = left_stream.withWatermark(left_ts, watermark).alias("l")
    r = right_stream.withWatermark(right_ts, watermark).alias("r")
    cond = ((F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
            & (F.col(f"r.{right_ts}")
               >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}")))
    return l.join(r, cond, "inner")


class BackgroundConsumer:
    """Reference background-consume (melt.clj:325-340): a continuously-
    maintained latest-state view with an AutoCloseable shutdown handle.

    Context manager over a streaming query materializing compacted state
    into an in-session table; `.state()` reads the current snapshot,
    exiting the `with` block stops the query (the reference's closeable
    flag). Production variant: same plan, foreachBatch-MERGE sink.
    """

    def __init__(self, changelog_stream: DataFrame,
                 key_cols=("topic", "key"), order_col: str = "offset"):
        self._result = stream_latest_state(changelog_stream, key_cols,
                                           order_col)
        self._spark = changelog_stream.sparkSession
        self._query = None
        self._table = None

    def __enter__(self) -> "BackgroundConsumer":
        self._query, self._table = run_to_memory(self._result,
                                                 mode="complete")
        return self

    def state(self) -> DataFrame:
        """Current compacted snapshot (drains available input first)."""
        self._query.processAllAvailable()
        return self._spark.table(self._table)

    def __exit__(self, *exc) -> None:
        if self._query is not None:
            self._query.stop()


def windowed_event_counts(events_stream: DataFrame,
                          window: str = "1 hour",
                          watermark: str = "2 hours",
                          ts_col: str = "ts") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark: the
    standard streaming aggregation shape (append mode compatible)."""
    return (events_stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(ts_col, window).alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    "event_type", "n"))


def session_event_counts(events_stream: DataFrame,
                         gap: str = "30 minutes",
                         watermark: str = "1 day",
                         ts_col: str = "ts",
                         key_col: str = "user_id") -> DataFrame:
    """Event-time SESSION windows (merge-on-gap) per key — Spark's native
    session_window; sessions emit in append mode once the watermark passes
    their end (last event + gap). The reference has no session concept at
    all (SURVEY.md §2.9) — this is the streaming sessionization a real
    event pipeline needs."""
    return (events_stream
            .withWatermark(ts_col, watermark)
            .groupBy(F.session_window(ts_col, gap).alias("win"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col(key_col),
                    F.col("win.start").alias("session_start"),
                    F.col("win.end").alias("session_end"),
                    "n_events"))
