"""Timestamp-resolution robustness — the round-2 lesson codified.

The driver's fixtures changed parquet timestamp physical type once already
(r1: timestamp[ns] → r2: timestamp[us]/NTZ) and broke four suite entries, five
tests, and the bench. This module writes tiny parquet files in every variant a
fixture regeneration could plausibly produce — ns/µs/ms × NTZ/UTC-adjusted —
and runs each ts-consuming query shape over all of them:

  - batch read (sources.parquet.read_table) → must surface session-TZ TIMESTAMP
  - epoch math (CAST(ts AS BIGINT), the sessionization shape)
  - canonical ISO-8601 rendering (same instant → same bytes, every variant)
  - streaming watermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE guard)
  - as-of/range-join epoch bucketing (unix_timestamp arithmetic)

Also here: the canonical-bytes parity tests — NTZ vs LTZ inputs render
identical canonical JSON, and ISO_SECONDS matches the reference's golden
second-precision wire format ("2007-08-01T00:00:00Z",
reference integration/jdbc/melt/integration_test.clj:68).
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from melt_spark.canonical import ISO_SECONDS, canonical_json
from melt_spark.sources.parquet import read_table
from melt_spark.streaming.continuous import (stream_from_parquet,
                                             windowed_event_counts)

# Two instants: one on a second boundary (the reference's golden style), one
# with sub-second precision to catch resolution truncation differences.
T0 = dt.datetime(2007, 8, 1, 0, 0, 0)
T1 = dt.datetime(2007, 8, 1, 0, 45, 30, 123000)  # .123 ms — exact in ms/µs/ns

VARIANTS = [("ns", None), ("ns", "UTC"),
            ("us", None), ("us", "UTC"),
            ("ms", None), ("ms", "UTC")]


def _write_variant(root: str, unit: str, tz: str | None) -> str:
    """Write a 2-row events-shaped parquet as sf_dir/<variant>/events.parquet."""
    d = os.path.join(root, f"{unit}_{tz or 'ntz'}")
    os.makedirs(d, exist_ok=True)
    ts_type = pa.timestamp(unit, tz=tz)
    vals = [T0, T1]
    if tz:  # pyarrow wants tz-aware datetimes for tz-annotated columns
        vals = [v.replace(tzinfo=dt.timezone.utc) for v in vals]
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array(vals, ts_type),
        "user_id": pa.array([10, 10], pa.int64()),
        "value": pa.array([1.5, 2.5], pa.float64()),
    })
    pq.write_table(table, os.path.join(d, "events.parquet"))
    return d


@pytest.fixture(scope="module")
def variant_dirs(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("ts_variants"))
    return {(u, tz): _write_variant(root, u, tz) for u, tz in VARIANTS}


@pytest.mark.parametrize("unit,tz", VARIANTS)
def test_read_table_normalizes_to_ltz_timestamp(spark, variant_dirs, unit, tz):
    df = read_table(spark, variant_dirs[(unit, tz)], "events")
    assert dict(df.dtypes)["ts"] == "timestamp", \
        f"{unit}/{tz or 'ntz'} surfaced as {dict(df.dtypes)['ts']}"


@pytest.mark.parametrize("unit,tz", VARIANTS)
def test_epoch_cast_and_session_gap(spark, variant_dirs, unit, tz):
    """The exact shape that broke in r2: CAST(ts AS BIGINT) for gap math."""
    df = read_table(spark, variant_dirs[(unit, tz)], "events")
    rows = (df.select(F.col("ts").cast("long").alias("epoch"))
              .orderBy("epoch").collect())
    assert rows[0]["epoch"] == int(
        T0.replace(tzinfo=dt.timezone.utc).timestamp())
    # 45 min 30 s gap between the two fixture rows, identical in all variants
    assert rows[1]["epoch"] - rows[0]["epoch"] == 45 * 60 + 30


@pytest.mark.parametrize("unit,tz", VARIANTS)
def test_canonical_rendering_identical_across_variants(spark, variant_dirs,
                                                       unit, tz):
    df = read_table(spark, variant_dirs[(unit, tz)], "events")
    got = (df.orderBy("event_id")
             .select(canonical_json(["event_id", "ts"]).alias("c"))
             .collect())
    assert [r["c"] for r in got] == [
        '{"event_id":1,"ts":"2007-08-01T00:00:00.000Z"}',
        '{"event_id":2,"ts":"2007-08-01T00:45:30.123Z"}',
    ]


@pytest.mark.parametrize("unit,tz", VARIANTS)
def test_watermark_stream_all_variants(spark, variant_dirs, unit, tz):
    """withWatermark rejects TIMESTAMP_NTZ event time — every variant must
    stream through a watermarked windowed aggregation."""
    stream = stream_from_parquet(
        spark, os.path.join(variant_dirs[(unit, tz)], "events.parquet"))
    if dict(stream.dtypes).get("ts") == "bigint":  # ns-as-long path
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    counts = (windowed_event_counts(
        stream.withColumn("event_type", F.lit("e")),
        window="1 hour", watermark="2 hours"))
    q = (counts.writeStream.format("memory")
         .queryName(f"wm_{unit}_{tz or 'ntz'}").outputMode("complete").start())
    try:
        q.processAllAvailable()
        rows = spark.table(f"wm_{unit}_{tz or 'ntz'}").collect()
    finally:
        q.stop()
    assert len(rows) == 1 and rows[0]["n"] == 2
    assert rows[0]["window_start"] == T0


@pytest.mark.parametrize("unit,tz", VARIANTS)
def test_range_bucket_epoch_math(spark, variant_dirs, unit, tz):
    """unix_timestamp bucketing (the as-of/range-join shape) must agree on
    the bucket id in every variant."""
    df = read_table(spark, variant_dirs[(unit, tz)], "events")
    buckets = (df.select((F.unix_timestamp("ts") / 3600).cast("long")
                         .alias("bucket"))
                 .distinct().collect())
    assert sorted(r["bucket"] for r in buckets) == [
        int(T0.replace(tzinfo=dt.timezone.utc).timestamp()) // 3600]


def test_canonical_ntz_and_ltz_identical_bytes(spark):
    """VERDICT r2 item 4: an NTZ column and an LTZ column holding the same
    wall-clock instant must produce byte-identical canonical JSON."""
    df = spark.sql(
        "SELECT 1 AS id, "
        "TIMESTAMP'2007-08-01 00:00:00' AS ts_ltz, "
        "TIMESTAMP_NTZ'2007-08-01 00:00:00' AS ts_ntz")
    row = df.select(
        canonical_json(["id", "ts_ltz"]).alias("a"),
        F.regexp_replace(canonical_json(["id", "ts_ntz"]),
                         "ts_ntz", "ts_ltz").alias("b")).collect()[0]
    assert row["a"] == row["b"]
    assert '"2007-08-01T00:00:00.000Z"' in row["a"]


def test_iso_seconds_matches_reference_golden(spark):
    """Source-level ts_format=ISO_SECONDS reproduces the reference's golden
    wire bytes (integration_test.clj:68: "2007-08-01T00:00:00Z") through the
    full message_df encode path — key and value both."""
    from melt_spark.model import Source

    df = spark.sql("SELECT TIMESTAMP'2007-08-01 00:00:00' AS starttime, "
                   "42 AS id")
    src = Source(name="golden", keys=("id",), ts_format=ISO_SECONDS)
    msg = src.messages(df).collect()[0]
    assert msg["value"] == '{"id":42,"starttime":"2007-08-01T00:00:00Z"}'
    assert msg["key"] == '{"id":42}'


@pytest.mark.parametrize("unit,tz", [("ns", None), ("us", None)])
def test_cached_schema_read_equals_inferred_read(spark, variant_dirs, unit,
                                                 tz):
    """read_table reuses Spark's inferred schema for an unchanged file; on
    the ns (nanosAsLong) and NTZ fixtures the reuse must be exact."""
    from melt_spark.sources import parquet

    d = variant_dirs[(unit, tz)]
    real = os.path.realpath(os.path.join(d, "events.parquet"))
    parquet._SCHEMAS.pop(real, None)
    inferred = read_table(spark, d, "events")
    assert real in parquet._SCHEMAS
    cached = read_table(spark, d, "events")
    assert cached.schema == inferred.schema
    assert cached.collect() == inferred.collect()
