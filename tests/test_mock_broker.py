"""The Kafka-shaped I/O boundary, executed for real against the file-backed
mock broker (sources/mock_broker.py): produce → bounded read → incremental
refresh → compaction → tombstones → streaming tail → streaming sink
(foreachBatch → write_messages, idempotent per query id and batch id).

Covers SURVEY §2 S8/S10/S14/S15/T1/T3/T5 as *running* code (round 1 could
only restate them — no broker in the sandbox)."""

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from melt_spark.operators.latest_state import latest_state, offset_watermarks
from melt_spark.sources import mock_broker as mb
from melt_spark.sources.kafka import refresh_offsets_json


@pytest.fixture(scope="module")
def broker(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("broker"))
    mb.register(spark)
    mb.create_topic(root, "melt.t1", partitions=3)
    return root


def _msgs(spark, rows):
    return spark.createDataFrame(
        [Row(topic=t, key=k, value=v) for t, k, v in rows],
        "topic string, key string, value string")


def test_produce_then_bounded_read(spark, broker):
    batch1 = [("melt.t1", f"k{i}", json.dumps({"n": i})) for i in range(20)]
    mb.write_messages(_msgs(spark, batch1), broker)

    env = mb.read_topics(spark, broker, ["melt.t1"])
    assert env.columns == ["topic", "partition", "offset",
                           "timestamp", "key", "value"]
    rows = env.collect()
    assert len(rows) == 20
    assert mb.count_topic(spark, broker, "melt.t1") == 20

    # dense offsets per partition, starting at 0
    by_part = {}
    for r in rows:
        by_part.setdefault(r.partition, []).append(r.offset)
    for offs in by_part.values():
        assert sorted(offs) == list(range(len(offs)))

    # key -> partition is the deterministic hash (per-key ordering contract)
    for r in rows:
        assert r.partition == mb.key_partition(r.key, 3)


def test_incremental_refresh_watermarks(spark, broker):
    """T5 end-to-end: saved offset watermarks --refresh_offsets_json-->
    startingOffsets for the NEXT bounded read; the two reads tile the log."""
    first = mb.read_topics(spark, broker, ["melt.t1"])
    wm = offset_watermarks(first).collect()
    start_json = refresh_offsets_json([r.asDict() for r in wm])

    batch2 = [("melt.t1", f"k{i}", json.dumps({"n": i + 100}))
              for i in range(5, 25)]
    mb.write_messages(_msgs(spark, batch2), broker)

    delta = mb.read_topics(spark, broker, ["melt.t1"],
                           starting_offsets=start_json)
    assert delta.count() == 20  # exactly the second batch
    assert delta.agg(F.min("offset")).first()[0] >= 0
    total = mb.read_topics(spark, broker, ["melt.t1"]).count()
    assert total == 40


def test_compaction_and_tombstones(spark, broker):
    """Latest-state over the broker envelope: same-key updates collapse to
    the highest (partition, offset); a NULL value tombstone removes the key.
    A key lives on ONE partition, so (partition, offset) order is total
    per key."""
    mb.create_topic(broker, "melt.t2", partitions=2)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "a", '{"v":1}'), ("melt.t2", "b", '{"v":1}')]), broker)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "a", '{"v":2}')]), broker)
    mb.write_messages(_msgs(spark, [
        ("melt.t2", "b", None)]), broker)  # tombstone

    env = mb.read_topics(spark, broker, ["melt.t2"])
    state = latest_state(env.select("topic", "key", "value",
                                    "partition", "offset"),
                         key_cols=("topic", "key"),
                         order_col=("partition", "offset"))
    got = {r.key: r.value for r in state.collect()}
    assert got == {"a": '{"v":2}'}  # b tombstoned, a at latest version

    with_tombstones = latest_state(
        env.select("topic", "key", "value", "partition", "offset"),
        key_cols=("topic", "key"), order_col=("partition", "offset"),
        drop_tombstones=False)
    assert {r.key for r in with_tombstones.collect()} == {"a", "b"}


def test_offset_range_snapshot_is_bounded(spark, broker):
    """T1: endingOffsets resolved at planning time — a concurrent produce
    after planning does not leak into the read."""
    mb.create_topic(broker, "melt.t3", partitions=1)
    mb.write_messages(_msgs(spark, [("melt.t3", "x", "1")]), broker)
    ends = mb.end_offsets(broker, "melt.t3")
    end_json = json.dumps({"melt.t3": {str(p): e for p, e in ends.items()}})
    # produce MORE after capturing the end snapshot
    mb.write_messages(_msgs(spark, [("melt.t3", "y", "2")]), broker)
    bounded = mb.read_topics(spark, broker, ["melt.t3"],
                             ending_offsets=end_json)
    assert bounded.count() == 1
    assert mb.count_topic(spark, broker, "melt.t3") == 2


def test_streaming_tail_compacts_like_batch(spark, broker, tmp_path):
    """S9/T3: readStream over the broker, foreachBatch latest-state merge;
    final state == batch compaction of the same log."""
    from melt_spark.streaming.foreach_merge import KeyedStateSink

    sink = KeyedStateSink(spark, str(tmp_path / "state"),
                          key_cols=("topic", "key"), order_col="offset")

    stream = mb.tail_topics(spark, broker, ["melt.t2"])
    q = (stream.select("topic", "key", "value", "offset", "partition")
         .writeStream.foreachBatch(
             lambda df, bid: sink.merge_batch(
                 df.withColumn(
                     "offset",
                     F.col("partition").cast("long") * F.lit(1 << 40)
                     + F.col("offset"))
                 .drop("partition"), bid))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    state = sink.compacted_view()
    got = {r.key: r.value for r in state.collect()}
    assert got == {"a": '{"v":2}'}


def _stream_into_broker(spark, broker, src_dir, ckpt):
    """Drain the JSON files under src_dir into the broker through the
    streaming sink: foreachBatch -> write_messages."""
    stream = (spark.readStream.schema("topic string, key string, value string")
              .json(str(src_dir)))
    q = (stream.writeStream
         .foreachBatch(lambda df, _id: mb.write_messages(df, broker, 2))
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def _json_source(path, topic, keys):
    path.mkdir()
    (path / "a.json").write_text("\n".join(
        json.dumps({"topic": topic, "key": k, "value": k}) for k in keys))
    return path


def _ledger(broker, topic):
    return mb._load_manifest(broker, topic, 0)["batches"]


def test_stream_sink_two_queries_both_land(spark, broker, tmp_path):
    """Two queries with their own checkpoints write batch 0 into one
    topic: the ledger is keyed by query id as well as batch id, so the
    second query's batch is not taken for a replay of the first's."""
    topic = "melt.sink2q"
    _stream_into_broker(spark, broker, _json_source(
        tmp_path / "a", topic, [f"a{i}" for i in range(10)]),
        tmp_path / "ckpt_a")
    assert mb.count_topic(spark, broker, topic) == 10
    _stream_into_broker(spark, broker, _json_source(
        tmp_path / "b", topic, [f"b{i}" for i in range(5)]),
        tmp_path / "ckpt_b")
    assert mb.count_topic(spark, broker, topic) == 15
    ledger = _ledger(broker, topic)
    assert len(ledger) == 2 and len({e.split(":")[0] for e in ledger}) == 2


def test_stream_writer_idempotent_batches(spark, broker, tmp_path):
    """A query restarted after its batch-0 commit is lost replays batch 0
    with the same query id: it appends nothing, and the staged files of
    the replay are deleted, not left as segments no manifest names."""
    topic = "melt.sink"
    src = _json_source(tmp_path / "src", topic,
                       [f"s{i}" for i in range(10)])
    ckpt = tmp_path / "ckpt"
    _stream_into_broker(spark, broker, src, ckpt)
    assert mb.count_topic(spark, broker, topic) == 10
    ledger = _ledger(broker, topic)
    for name in ("0", ".0.crc"):
        os.remove(ckpt / "commits" / name)
    _stream_into_broker(spark, broker, src, ckpt)
    assert mb.count_topic(spark, broker, topic) == 10
    assert _ledger(broker, topic) == ledger
    for p in range(mb.topic_partitions(broker, topic)):
        named = {s["file"] for s in
                 mb._load_manifest(broker, topic, p)["segments"]}
        on_disk = {f for f in os.listdir(mb._part_dir(broker, topic, p))
                   if f.startswith("seg-")}
        assert on_disk == named
    assert not [d for d in os.listdir(broker) if d.startswith(".stage-")]


def test_batch_write_adds_no_ledger_entry(spark, broker, tmp_path):
    """Outside a stream write_messages records nothing in the ledger."""
    topic = "melt.sinkb"
    _stream_into_broker(spark, broker, _json_source(
        tmp_path / "src", topic, ["x0", "x1"]), tmp_path / "ckpt")
    ledger = _ledger(broker, topic)
    assert len(ledger) == 1
    mb.write_messages(_msgs(spark, [(topic, "x2", "x2")]), broker)
    assert mb.count_topic(spark, broker, topic) == 3
    assert _ledger(broker, topic) == ledger


def _envelope(spark, root, topic, **kw):
    return sorted(tuple(r) for r in mb.read_topics(spark, root, [topic],
                                                   **kw).collect())


def test_count_topic_is_the_manifest_sum(spark, broker):
    """count_topic answers from the end offsets; offsets are dense from 0
    and nothing is deleted, so it equals the records a full read returns."""
    for t in ("melt.t1", "melt.t2", "melt.t3"):
        assert (mb.count_topic(spark, broker, t)
                == mb.read_topics(spark, broker, [t]).count())


def test_versions_of_a_key_keep_input_order(spark, broker):
    """Three versions of one key in ONE producer task get increasing
    offsets, in input order."""
    mb.create_topic(broker, "melt.order", partitions=2)
    rows = [("melt.order", "a", str(v)) for v in (3, 1, 2)]
    mb.write_messages(_msgs(spark, rows).coalesce(1), broker)
    got = (mb.read_topics(spark, broker, ["melt.order"])
           .orderBy("offset").collect())
    assert [r.value for r in got] == ["3", "1", "2"]
    assert [r.offset for r in got] == [0, 1, 2]


def test_write_spans_existing_and_new_topic(spark, broker):
    """One write into an existing 2-partition topic and a topic it creates
    with partitions=4: every row lands on key_partition(key, that topic's
    count); NULL keys land on partition 0; offsets stay dense."""
    mb.create_topic(broker, "melt.old2", partitions=2)
    rows = [(t, None if i % 10 == 0 else f"k{i}", str(i))
            for t in ("melt.old2", "melt.new4") for i in range(40)]
    mb.write_messages(_msgs(spark, rows), broker, partitions=4)
    assert mb.topic_partitions(broker, "melt.new4") == 4
    for topic, n in (("melt.old2", 2), ("melt.new4", 4)):
        env = mb.read_topics(spark, broker, [topic]).collect()
        assert len(env) == 40
        by_part: dict = {}
        for r in env:
            assert r.partition == mb.key_partition(r.key, n)
            if r.key is None:
                assert r.partition == 0
            by_part.setdefault(r.partition, []).append(r.offset)
        for p, offs in by_part.items():
            assert sorted(offs) == list(range(mb.end_offsets(broker,
                                                             topic)[p]))


def test_failed_write_publishes_nothing(spark, broker):
    """A job that fails mid-write leaves the manifests and the broker root
    as they were: no new offsets, no staging directory."""
    before = mb.end_offsets(broker, "melt.t1")
    rows = [("melt.t1", f"f{i}", str(i)) for i in range(50)]
    bad = _msgs(spark, rows).withColumn(
        "value", F.when(F.col("key") == "f25", F.raise_error(F.lit("boom")))
        .otherwise(F.col("value")))
    with pytest.raises(Exception, match="boom"):
        mb.write_messages(bad, broker)
    assert mb.end_offsets(broker, "melt.t1") == before
    assert not [d for d in os.listdir(broker) if d.startswith(".stage-")]


def test_read_window_inside_a_segment(spark, broker):
    """startingOffsets/endingOffsets that cut through one segment return
    exactly the rows _scan_segments yields for that window."""
    mb.create_topic(broker, "melt.win", partitions=1)
    mb.write_messages(_msgs(spark, [("melt.win", f"w{i}", str(i))
                                    for i in range(10)]).coalesce(1), broker)
    assert len(mb._load_manifest(broker, "melt.win", 0)["segments"]) == 1
    got = _envelope(spark, broker, "melt.win",
                    starting_offsets=json.dumps({"melt.win": {"0": 3}}),
                    ending_offsets=json.dumps({"melt.win": {"0": 7}}))
    want = sorted(mb._scan_segments(broker, "melt.win", 0, 3, 7))
    assert got == want
    assert [r[2] for r in got] == [3, 4, 5, 6]


def _put_segment(root, topic, rows, commit=True):
    """Write one segment of (key, value) rows into partition 0 of a topic
    and, unless commit is False, append it to the manifest."""
    fname = f"seg-{uuid.uuid4().hex}.parquet"
    keys, values = zip(*rows)
    pq.write_table(pa.table({"k": keys, "v": values, "ts": [None] * len(rows)},
                            schema=mb._ARROW_SEGMENT),
                   os.path.join(mb._part_dir(root, topic, 0), fname))
    if commit:
        mb._commit_segments(root, [(topic, 0, fname, len(rows))])


def test_partial_read_opens_only_overlapping_segments(spark, broker):
    """A window over a topic with many segments opens only the segments
    that overlap it. Every other file in the partition directory, and one
    written but never committed, is overwritten with bytes that are not
    Parquet; the read still returns exactly the window's records."""
    mb.create_topic(broker, "melt.many", partitions=1)
    for i in range(40):
        _put_segment(broker, "melt.many",
                     [(f"m{j}", f"{i}:{j}") for j in range(3)])
    _put_segment(broker, "melt.many", [("ghost", "x")], commit=False)
    want = sorted(mb._scan_segments(broker, "melt.many", 0, 100, 107))
    man = mb._load_manifest(broker, "melt.many", 0)
    keep = {f for f, *_ in mb._overlaps(man, 100, 107)}
    assert len(keep) == 3
    pdir = mb._part_dir(broker, "melt.many", 0)
    for name in os.listdir(pdir):
        if name.startswith("seg-") and name not in keep:
            with open(os.path.join(pdir, name), "wb") as f:
                f.write(b"not parquet")
    got = _envelope(spark, broker, "melt.many",
                    starting_offsets=json.dumps({"melt.many": {"0": 100}}),
                    ending_offsets=json.dumps({"melt.many": {"0": 107}}))
    assert got == want
    assert [r[2] for r in got] == list(range(100, 107))


ODD_VALUES = ['{"q":"say \\"hi\\""}', "back\\slash", "two\nlines\r\n",
              "ctl\x00\x01\x1f\x7f", "tab\there", "naïve Ωμέγα 中文",
              "emoji 😀👍🏽", "'single'", ""]


def test_odd_values_round_trip_byte_identical(spark, broker, tmp_path):
    """Quotes, backslashes, newlines, control characters, non-ASCII text
    and emoji come back byte-identical through read_topics and through
    the streaming tail."""
    rows = [("melt.odd", f"o{i}", v) for i, v in enumerate(ODD_VALUES)]
    mb.write_messages(_msgs(spark, rows), broker, partitions=2)
    want = {f"o{i}": v.encode("utf-8") for i, v in enumerate(ODD_VALUES)}

    batch = mb.read_topics(spark, broker, ["melt.odd"]).collect()
    assert {r.key: r.value.encode("utf-8") for r in batch} == want

    q = (mb.tail_topics(spark, broker, ["melt.odd"])
         .writeStream.format("memory").queryName("melt_odd_tail")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = spark.table("melt_odd_tail").collect()
    assert {r.key: r.value.encode("utf-8") for r in streamed} == want


def test_staged_files_publish_in_numeric_task_order(broker, tmp_path):
    """Staged files commit in task-id order parsed from part-NNNNN, not in
    name order: task 100000 follows task 99999."""
    mb.create_topic(broker, "melt.tasks", partitions=1)
    stage = tmp_path / "stage"
    pdir = stage / "topic=melt.tasks" / "__p=0"
    pdir.mkdir(parents=True)
    for task in (100000, 99999, 2):
        pq.write_table(pa.table({"k": [f"t{task}"], "v": ["x"], "ts": [None]},
                                schema=mb._ARROW_SEGMENT),
                       str(pdir / f"part-{task:05d}-u.c000.snappy.parquet"))
    # Spark's bookkeeping files are skipped
    (pdir / ".part-00002-u.c000.snappy.parquet.crc").write_bytes(b"")
    (stage / "_SUCCESS").write_bytes(b"")
    mb._publish_stage(broker, str(stage), {"melt.tasks": 1}, 1)
    got = [r[4] for r in mb._scan_segments(broker, "melt.tasks", 0, 0, 3)]
    assert got == ["t2", "t99999", "t100000"]


def test_unknown_staged_file_publishes_nothing(broker, tmp_path):
    """A staged file under a name the publish does not know stops it:
    nothing is committed, rather than that file's rows being dropped."""
    mb.create_topic(broker, "melt.stray", partitions=1)
    pdir = tmp_path / "stage" / "topic=melt.stray" / "__p=0"
    pdir.mkdir(parents=True)
    for name in ("part-00000-u.c000.snappy.parquet", "data-00001.parquet"):
        pq.write_table(pa.table({"k": ["a"], "v": ["x"], "ts": [None]},
                                schema=mb._ARROW_SEGMENT), str(pdir / name))
    with pytest.raises(RuntimeError, match="data-00001"):
        mb._publish_stage(broker, str(tmp_path / "stage"),
                          {"melt.stray": 1}, 1)
    assert mb.end_offsets(broker, "melt.stray") == {0: 0}


@pytest.mark.parametrize("entry", ["q_broker_roundtrip",
                                   "q_stream_broker_sync"])
def test_broker_entries_work_under_the_plan_store_root(spark, sf_dir, entry):
    """The two broker entries return frames that read their broker lazily,
    so its directory must outlive the call. It lives under the
    process-private plan-store root, which is removed at exit, instead of
    a bare temp directory that nothing ever removes."""
    from melt_spark.plans import suite
    from melt_spark.plans.pipeline_suite import _plan_store_root

    df = getattr(suite, entry)(spark, sf_dir)
    assert df.collect()
    root = os.path.realpath(_plan_store_root())
    files = [os.path.realpath(f.removeprefix("file:"))
             for f in df.inputFiles()]
    assert files
    outside = [f for f in files if not f.startswith(root + os.sep)]
    assert not outside, outside
