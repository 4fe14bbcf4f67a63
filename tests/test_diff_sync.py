"""The reference's end-to-end scenario suite reproduced deterministically
(SURVEY.md §5; integration_test.clj): load → diff clean → mutate → diff shows
both sides → sync → verify clean → delete → tombstone → key gone. The "topic"
is simulated as an in-test changelog compacted by latest_state — exactly the
invariant a compacted Kafka topic provides."""

import os

from pyspark.sql import functions as F

from melt_spark.model import Source
from melt_spark.operators.diff import (TABLE_ONLY, TOPIC_ONLY, deleted_keys,
                                       diff, diff_matches)
from melt_spark.operators.latest_state import latest_state
from melt_spark.operators.sync import sync_plan, sync_count
from melt_spark.operators.verify import verify, verify_sync

SRC = Source(name="users", schema="main", keys=("id",))


def _table(spark, rows):
    return spark.createDataFrame(rows, "id long, name string, bal double")


def _msgs(spark, rows):
    return SRC.messages(_table(spark, rows))


class TopicSim:
    """Append-only changelog + compaction — a 1-partition compacted topic."""

    def __init__(self, spark):
        self.spark = spark
        self.records: list[tuple] = []  # (topic, key, value, offset)

    def produce(self, msgs_df):
        base = len(self.records)
        for i, r in enumerate(msgs_df.select("topic", "key", "value").collect()):
            self.records.append((r["topic"], r["key"], r["value"], base + i))

    def state(self):
        df = self.spark.createDataFrame(
            self.records, "topic string, key string, value string, offset long")
        return latest_state(df).select("topic", "key", "value")


def test_scenario_load_diff_sync_delete(spark):
    rows0 = [(1, "ann", 10.0), (2, "bob", 20.0), (3, "cyd", 30.0)]
    topic = TopicSim(spark)

    # load (§3.1): produce all messages
    topic.produce(_msgs(spark, rows0))
    # diff clean after load (integration_test.clj:75-79)
    assert diff_matches(diff(_msgs(spark, rows0), topic.state()))

    # mutate: update row 2, insert row 4, delete row 3
    rows1 = [(1, "ann", 10.0), (2, "bob", 99.0), (4, "dee", 40.0)]
    d = diff(_msgs(spark, rows1), topic.state())
    sides = {(r["key"], r[("side")]) for r in d.select("key", "side").collect()}
    assert sides == {('{"id":2}', TABLE_ONLY),   # stale
                     ('{"id":4}', TABLE_ONLY),   # missing from topic
                     ('{"id":3}', TOPIC_ONLY)}   # deleted in table
    assert {r["key"] for r in deleted_keys(d).collect()} == {'{"id":3}'}

    # sync (§3.2): upserts + tombstone repair the topic
    plan = sync_plan(d)
    assert sync_count(plan) == 3
    topic.produce(plan)
    assert diff_matches(diff(_msgs(spark, rows1), topic.state()))
    # tombstoned key is gone from compacted state (integration_test.clj:114-122)
    assert '{"id":3}' not in {r["key"] for r in topic.state().collect()}


def test_empty_table_diff(spark):
    """Empty-table diff is clean against an empty topic (F4 fixture;
    integration_test.clj:81-83)."""
    empty = _msgs(spark, []).filter(F.lit(False))
    topic = TopicSim(spark)
    topic.produce(_msgs(spark, []))
    assert diff_matches(diff(empty, topic.state()))


def test_verify_retries_then_match(spark):
    """verify tolerates lag via retries (melt.clj:535-546): topic catches up
    on the second read."""
    rows = [(1, "ann", 10.0)]
    topic = TopicSim(spark)
    reads = {"n": 0}

    def topic_fn():
        reads["n"] += 1
        if reads["n"] >= 2 and not topic.records:
            topic.produce(_msgs(spark, rows))
        return topic.state()

    res = verify(lambda: _msgs(spark, rows), topic_fn,
                 retries=3, sleep=lambda s: None)
    assert res.matches and res.attempts == 2


def test_verify_sync_repairs_drift(spark):
    """verify-sync: retries exhausted → one sync → post-sync verify clean
    (melt.clj:548-571; integration_test.clj:132-146)."""
    rows = [(1, "ann", 10.0), (2, "bob", 20.0)]
    topic = TopicSim(spark)
    topic.produce(_msgs(spark, [(1, "ann", 10.0)]))  # topic missing row 2

    res = verify_sync(lambda: _msgs(spark, rows), topic.state,
                      send_fn=topic.produce, retries=1,
                      sleep=lambda s: None)
    assert res.synced and res.sync_count == 1 and res.matches


def test_keyless_source_value_as_key(spark):
    """PK-less tables: transform assigns key = whole canonical value
    (integration_test.clj:158-184)."""
    keyless = Source(
        name="nopk", schema="main", keys=(),
        transforms=(lambda df: df.withColumn("key", F.col("value")),),
    )
    df = _table(spark, [(1, "ann", 10.0), (1, "ann", 10.0)])  # dup rows
    msgs = keyless.messages(df)
    rows = msgs.select("key", "value").collect()
    assert all(r["key"] == r["value"] for r in rows)
    # set semantics: compaction dedups identical rows
    topic = TopicSim(spark)
    topic.produce(msgs)
    assert topic.state().count() == 1


def test_sync_plan_pins_the_batch(spark, tmp_path):
    """sync_plan runs the diff once and pins the rows: with the source file
    deleted afterwards, sync_count and the rows write_messages publishes
    still agree with the drift that existed when the batch was built."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from melt_spark.sources import mock_broker as mb
    from melt_spark.sources.parquet import read_table

    rows = [(1, "ann", 10.0), (2, "bob", 20.0), (3, "cyd", 30.0),
            (4, "dee", 40.0)]
    pq.write_table(pa.table({"id": [r[0] for r in rows],
                             "name": [r[1] for r in rows],
                             "bal": [r[2] for r in rows]}),
                   str(tmp_path / "users.parquet"))
    src = SRC.messages(read_table(spark, str(tmp_path), "users"))
    want = {(r["key"], r["value"]) for r in src.collect()
            if r["key"] in ('{"id":2}', '{"id":3}', '{"id":4}')}
    want.add(('{"id":9}', None))  # only in the topic: tombstone
    # topic: id 1 in sync, id 2 stale, ids 3 and 4 missing, id 9 extra
    topic = _msgs(spark, [(1, "ann", 10.0), (2, "bob", 99.0),
                          (9, "zed", 90.0)]).select("topic", "key", "value")

    repair = sync_plan(diff(src, topic))
    os.remove(tmp_path / "users.parquet")

    assert sync_count(repair) == len(want) == 4
    broker = str(tmp_path / "broker")
    mb.write_messages(repair, broker, partitions=2)
    sent = [(r["key"], r["value"]) for r in
            mb.read_topics(spark, broker, [SRC.default_topic]).collect()]
    assert len(sent) == len(want) and set(sent) == want
