"""File-backed mock message broker: native Parquet I/O, plus a Python
DataSource for the streaming tail.

The sandbox has no Kafka broker or spark-sql-kafka jar, so the reference's
core I/O boundary (consumer melt.clj:239-299, producer melt.clj:431-443)
could previously only be *restated* (sources/kafka.py), never executed.
This module makes those paths run for real: a partitioned, append-only,
offset-addressed commit log on the filesystem, exposed through the same four
surfaces Spark's Kafka connector has —

  * batch read with atomically-resolved starting/ending offsets (S8/T1),
  * incremental refresh from saved offset watermarks (T5),
  * a producer sink with key-hash partitioning and tombstones (S14/S15),
  * a streaming tail (readStream) and a streaming sink (foreachBatch, T3).

Layout (mirrors a real broker's log, scaled down):
  <root>/<topic>/.meta.json              {"partitions": N}
  <root>/<topic>/p<k>/seg-<uuid>.parquet one producer task's records,
                                         columns k string, v string, ts bigint
  <root>/<topic>/p<k>/manifest.json      {"segments": [{file, base, count}],
                                          "end": next_offset,
                                          "batches": ["<query id>:<batch id>"]}

A segment's records hold offsets base .. base+count-1 in file row order.
Segments are invisible until committed: the driver-side commit assigns base
offsets in producer-task order and atomically replaces the manifest
(os.replace), so readers always see a consistent prefix of the log — the
same visibility contract as Kafka's high watermark. Offsets are dense per
partition from 0; a key is hashed (crc32, stand-in for Kafka's murmur2) to
a fixed partition, so per-key order within a producer task is preserved —
Kafka's per-producer guarantee.

Batch I/O is Spark's own Parquet I/O, with no Python worker on the data
path. ``read_topics`` resolves the offset ranges from the manifests on the
driver, then runs one Parquet scan and derives each record's offset from
``_metadata.row_index``. ``write_messages`` hashes keys to partitions in
SQL, writes the rows partitioned by (topic, partition) into a staging
directory and publishes the files as segments from the driver. There is no
batch ``format("melt_broker")``.

The streaming sink is ``write_messages`` itself, called from
``foreachBatch``: ``.foreachBatch(lambda df, _id: write_messages(df, root))``.
Inside a micro-batch it reads the local properties Spark sets on the
stream's thread, the query id (stable across restarts from one checkpoint)
and the batch id, and records ``"<query id>:<batch id>"`` in the ledger on
each written topic's partition-0 manifest. A pair already in a topic's
ledger is a replay: its staged files are deleted, not published, so a
restarted query appends nothing twice while a second query into the same
topic still lands. The rule is Delta's ``txnAppId``/``txnVersion`` one:
make one ``write_messages`` call per topic per micro-batch, since a second
call with the same pair is taken for a replay. Outside a stream nothing is
recorded.

The streaming tail goes through a Spark 4 Python DataSource, because a
custom streaming source needs one: ``readStream.format("melt_broker")``
after ``register(spark)``. It reads the Parquet segments through pyarrow.

On a real cluster the root must be shared storage; this is a test double
for CI and local development, not a Kafka replacement. The production path
remains sources/kafka.py — every function here mirrors its signature so the
two are swappable.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import uuid
import zlib
from typing import Iterator, Sequence
from urllib.parse import unquote

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

ENVELOPE_SCHEMA = ("topic string, partition int, offset bigint,"
                   " timestamp bigint, key string, value string")

SEGMENT_SCHEMA = "k string, v string, ts bigint"
_ARROW_SEGMENT = pa.schema([("k", pa.string()), ("v", pa.string()),
                            ("ts", pa.int64())])

# write_messages' staging layout, as Spark's partitioned write lays it out:
# topic=<topic>/__p=<partition>/part-<task>-<job uuid>.c<file>.<codec>.parquet
_TOPIC_DIR = re.compile(r"topic=(.+)")
_PART_DIR = re.compile(r"__p=(\d+)")
_PART_FILE = re.compile(r"part-(\d+)-.*\.c(\d+)\..*parquet")


# ---------------------------------------------------------------------------
# log primitives (driver + executor side; pure filesystem, no Spark)

def _meta_path(root: str, topic: str) -> str:
    return os.path.join(root, topic, ".meta.json")


def _part_dir(root: str, topic: str, part: int) -> str:
    return os.path.join(root, topic, f"p{part}")


def _manifest_path(root: str, topic: str, part: int) -> str:
    return os.path.join(_part_dir(root, topic, part), "manifest.json")


def create_topic(root: str, topic: str, partitions: int = 4) -> None:
    """Idempotent topic creation."""
    if os.path.exists(_meta_path(root, topic)):
        return
    for p in range(partitions):
        os.makedirs(_part_dir(root, topic, p), exist_ok=True)
        _save_json(_manifest_path(root, topic, p),
                   {"segments": [], "end": 0, "batches": []})
    _save_json(_meta_path(root, topic), {"partitions": partitions})


def topic_partitions(root: str, topic: str) -> int:
    with open(_meta_path(root, topic)) as f:
        return int(json.load(f)["partitions"])


def _save_json(path: str, obj: dict) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)  # atomic publish


def _load_manifest(root: str, topic: str, part: int) -> dict:
    with open(_manifest_path(root, topic, part)) as f:
        return json.load(f)


def key_partition(key: str | None, num_partitions: int) -> int:
    """Deterministic key->partition (crc32 stand-in for Kafka murmur2);
    NULL keys land on partition 0 (Kafka round-robins; determinism wins
    here so replay tests are stable)."""
    if key is None:
        return 0
    return zlib.crc32(key.encode("utf-8")) % num_partitions


def end_offsets(root: str, topic: str) -> dict[int, int]:
    """Next offset to be written, per partition (== Kafka end offset)."""
    return {p: _load_manifest(root, topic, p)["end"]
            for p in range(topic_partitions(root, topic))}


def _overlaps(man: dict, start: int, end: int) -> Iterator[tuple]:
    """(file, base, lo, hi) for each segment of a manifest holding offsets
    in [start, end); [lo, hi) is the part of the segment inside it."""
    for seg in man["segments"]:
        base = seg["base"]
        lo, hi = max(start, base), min(end, base + seg["count"])
        if lo < hi:
            yield seg["file"], base, lo, hi


def _scan_segments(root: str, topic: str, part: int, start: int,
                   end: int) -> Iterator[tuple]:
    """Yield envelope tuples for offsets in [start, end)."""
    man = _load_manifest(root, topic, part)
    for fname, base, lo, hi in _overlaps(man, start, end):
        path = os.path.join(_part_dir(root, topic, part), fname)
        cols = (pq.read_table(path, schema=_ARROW_SEGMENT)
                .slice(lo - base, hi - lo).to_pydict())
        for off, k, v, ts in zip(range(lo, hi), cols["k"], cols["v"],
                                 cols["ts"]):
            yield (topic, part, off, ts, k, v)


# ---------------------------------------------------------------------------
# offset-range resolution (driver side — the atomic snapshot that lets the
# batch source drop the reference's "read twice" workaround, melt.clj:342-351)

def _resolve_range(man_end: int, topic: str, part: int, starting, ending,
                   ) -> tuple[int, int]:
    def side(spec, default_earliest: bool) -> int:
        if spec == "earliest":
            return 0
        if spec == "latest":
            return man_end
        per_part = spec.get(topic, {})
        if str(part) in per_part:
            v = int(per_part[str(part)])
            return man_end if v == -1 else (0 if v == -2 else v)
        return 0 if default_earliest else man_end

    return side(starting, True), side(ending, False)


def _parse_offsets_spec(spec: str):
    if spec in ("earliest", "latest"):
        return spec
    return json.loads(spec)  # Kafka JSON form {"topic": {"0": off}}


def _sql_str(s: str) -> str:
    """A Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


# ---------------------------------------------------------------------------
# streaming tail (Python DataSource)

class MeltBrokerDataSource(DataSource):
    """readStream.format("melt_broker") — options: path (broker root),
    subscribe (comma-separated topics), startingOffsets
    ('earliest'|'latest'). It serves the stream read only: batch reads go
    through read_topics, and batch and stream writes through write_messages
    (in a stream, from foreachBatch)."""

    @classmethod
    def name(cls) -> str:
        return "melt_broker"

    def schema(self) -> str:
        return ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema) -> "MeltBrokerStreamReader":
        return MeltBrokerStreamReader(self.options)


class MeltBrokerStreamReader(SimpleDataSourceStreamReader):
    """Continuous tail (S9/T3): micro-batches of everything appended since
    the last checkpointed offset map. Offsets are
    {"<topic>": {"<part>": next_offset}} — Spark checkpoints them, replacing
    the reference's hand-rolled :offsets map (melt.clj:511-523)."""

    def __init__(self, options):
        self.root = options["path"]
        self.topics = [t for t in options.get("subscribe", "").split(",") if t]
        starting = options.get("startingoffsets", "earliest")
        self._initial = {}
        for topic in self.topics:
            if starting == "latest":
                ends = end_offsets(self.root, topic)
                self._initial[topic] = {str(p): e for p, e in ends.items()}
            else:
                self._initial[topic] = {
                    str(p): 0
                    for p in range(topic_partitions(self.root, topic))}

    def initialOffset(self) -> dict:
        return self._initial

    def read(self, start: dict):
        rows: list[tuple] = []
        new = {t: dict(pm) for t, pm in start.items()}
        for topic in self.topics:
            ends = end_offsets(self.root, topic)
            for p, e in ends.items():
                s = int(start.get(topic, {}).get(str(p), 0))
                if e > s:
                    rows.extend(_scan_segments(self.root, topic, p, s, e))
                new.setdefault(topic, {})[str(p)] = max(e, s)
        return iter(rows), new

    def readBetweenOffsets(self, start: dict, end: dict):
        # replay after failure: the log is persistent, so the window is
        # simply re-scanned — deterministic by construction
        for topic in self.topics:
            for p_str, e in end.get(topic, {}).items():
                s = int(start.get(topic, {}).get(p_str, 0))
                yield from _scan_segments(self.root, topic, int(p_str),
                                          s, int(e))


def register(spark: SparkSession) -> None:
    """Register the streaming source (readStream.format("melt_broker"));
    writes and batch reads need no registration."""
    spark.dataSource.register(MeltBrokerDataSource)


# ---------------------------------------------------------------------------
# batch surfaces: Spark's native Parquet I/O (kafka.py-mirroring API —
# swap module, keep call sites)

def read_topics(spark: SparkSession, broker_path: str, topics: Sequence[str],
                starting_offsets: str = "earliest",
                ending_offsets: str = "latest") -> DataFrame:
    """Bounded snapshot (mirrors kafka.read_topics; S8/T1). Offset ranges
    are resolved ONCE, here, from the manifests — concurrent producers
    don't move the goalposts mid-read. One Parquet scan reads every segment
    that overlaps a range; a record's offset is its segment's base plus its
    row index in the file."""
    starting = _parse_offsets_spec(starting_offsets)
    ending = _parse_offsets_spec(ending_offsets)
    segs = []  # (dir, file, topic, part, base, lo, hi)
    for topic in topics:
        for p in range(topic_partitions(broker_path, topic)):
            man = _load_manifest(broker_path, topic, p)
            start, end = _resolve_range(man["end"], topic, p, starting,
                                        ending)
            segs.extend((_part_dir(broker_path, topic, p), fname, topic, p,
                         base, lo, hi)
                        for fname, base, lo, hi in _overlaps(man, start, end))
    if not segs:
        return spark.createDataFrame([], ENVELOPE_SCHEMA)
    # one map literal, file name -> segment: a single parsed expression
    # keeps planning flat in the number of segments
    seg_map = F.expr("map(" + ", ".join(
        f"{_sql_str(f)}, named_struct('topic', {_sql_str(t)},"
        f" 'partition', {p}, 'base', {base}L, 'lo', {lo}L, 'hi', {hi}L)"
        for _d, f, t, p, base, lo, hi in segs) + ")")
    seg = seg_map[F.col("_metadata.file_name")]
    offset = seg["base"] + F.col("_metadata.row_index")
    # Scan the partition directories, not the files: listing a few
    # directories needs no Spark job however many segments they hold. The
    # filter on the file name alone is evaluated per file at planning, so
    # files no range names (segments outside it, uncommitted files) are
    # never opened.
    return (spark.read.schema(SEGMENT_SCHEMA)
            .option("pathGlobFilter", "seg-*.parquet")
            .parquet(*sorted({s[0] for s in segs}))
            .where(seg.isNotNull())
            .where((offset >= seg["lo"]) & (offset < seg["hi"]))
            .select(seg["topic"].alias("topic"),
                    seg["partition"].alias("partition"),
                    offset.alias("offset"),
                    F.col("ts").alias("timestamp"),
                    F.col("k").alias("key"),
                    F.col("v").alias("value")))


def _topic_counts(root: str) -> dict[str, int]:
    """Partition count of every topic under the root."""
    return {t: topic_partitions(root, t) for t in os.listdir(root)
            if os.path.exists(_meta_path(root, t))}


def _key_partition_col(counts: dict[str, int], default: int) -> Column:
    """key_partition as a SQL expression: pmod(crc32(utf-8 key), n), where
    n is the topic's partition count (`default` for a topic not yet
    created); NULL keys go to partition 0."""
    n = F.lit(default)
    if counts:
        n = F.coalesce(F.expr("map(" + ", ".join(
            f"{_sql_str(t)}, {c}" for t, c in counts.items())
            + ")")[F.col("topic")], n)
    return (F.when(F.col("key").isNull(), F.lit(0))
            .otherwise(F.pmod(F.crc32(F.encode("key", "UTF-8")), n)))


def _staged(path: str, pattern: re.Pattern) -> list[tuple]:
    """(path, match) for each entry of a staging directory whose name
    matches `pattern`. Hidden names (a leading '.' or '_', as on Spark's
    .crc sidecars and _SUCCESS marker) are skipped, as Spark's own reader
    skips them; any other name stops the publish, so no staged row is
    dropped silently."""
    out = []
    for name in os.listdir(path):
        m = pattern.fullmatch(name)
        if m:
            out.append((os.path.join(path, name), m))
        elif not name.startswith((".", "_")):
            raise RuntimeError(f"melt_broker: unexpected staged file "
                               f"{os.path.join(path, name)!r}")
    return out


def _commit_segments(root: str, segments: list[tuple],
                     txn: str | None = None) -> None:
    """Driver side: append segments [(topic, part, file, count)] to their
    partitions' manifests in list order, assigning base offsets, and
    publish each manifest atomically. A `txn` ("<query id>:<batch id>") is
    recorded in each topic's partition-0 ledger. Partition 0 is written
    last, with its ledger entry, so a crash part-way through a topic
    leaves a replay that writes the topic again (a duplicate), never one
    that is skipped (a loss)."""
    per_part: dict[tuple[str, int], list] = {}
    for topic, part, fname, count in segments:
        per_part.setdefault((topic, part), []).append((fname, count))
    if txn is not None:
        for topic, _part in list(per_part):
            per_part.setdefault((topic, 0), [])
    for topic, part in sorted(per_part,
                              key=lambda tp: (tp[0], tp[1] == 0, tp[1])):
        man = _load_manifest(root, topic, part)
        base = man["end"]
        for fname, count in per_part[(topic, part)]:
            man["segments"].append(
                {"file": fname, "base": base, "count": count})
            base += count
        man["end"] = base
        if txn is not None and part == 0:
            man.setdefault("batches", []).append(txn)
        _save_json(_manifest_path(root, topic, part), man)


def _publish_stage(root: str, stage: str, counts: dict[str, int],
                   default: int, txn: str | None = None) -> None:
    """Driver side: move the staged files into their partition directories
    as segments and commit them, in producer-task order. Files of a topic
    whose ledger already holds `txn` stay in the stage (a replay)."""
    staged = []  # ((task, file), topic, part, path)
    for tdir, t in _staged(stage, _TOPIC_DIR):
        topic = unquote(t[1])
        if topic == "__HIVE_DEFAULT_PARTITION__":
            raise ValueError("melt_broker: a message has a NULL or "
                             "empty topic")
        for pdir, p in _staged(tdir, _PART_DIR):
            for path, f in _staged(pdir, _PART_FILE):
                staged.append(((int(f[1]), int(f[2])), topic, int(p[1]),
                               path))
    staged.sort(key=lambda s: s[0])
    topics = {s[1] for s in staged}
    for topic in topics:
        create_topic(root, topic, default)
        if topic_partitions(root, topic) != counts.get(topic, default):
            raise RuntimeError(f"melt_broker: topic {topic!r} changed its "
                               "partition count during the write")
    if txn is not None:
        done = {t for t in topics
                if txn in _load_manifest(root, t, 0).get("batches", [])}
        staged = [s for s in staged if s[1] not in done]
    segments = []
    try:
        for _order, topic, part, path in staged:
            count = pq.read_metadata(path).num_rows
            fname = f"seg-{uuid.uuid4().hex}.parquet"
            os.replace(path, os.path.join(_part_dir(root, topic, part),
                                          fname))
            segments.append((topic, part, fname, count))
    except BaseException:
        for topic, part, fname, _count in segments:
            with contextlib.suppress(OSError):
                os.remove(os.path.join(_part_dir(root, topic, part), fname))
        raise
    _commit_segments(root, segments, txn)


def write_messages(messages: DataFrame, broker_path: str,
                   partitions: int = 4) -> None:
    """Producer sink (mirrors kafka.write_messages; S14/S15): at-least-once
    per call, per-key ordering within a producer task (Kafka's
    per-producer contract). NULL value = tombstone (S15) — stored, not
    dropped; compaction interprets it. New topics are created with
    `partitions` partitions. A failed job publishes nothing.

    Streaming sink: call it from foreachBatch, once per topic per
    micro-batch. There the query id and batch id Spark sets on the
    stream's thread make the write idempotent per topic: a replayed batch
    appends nothing (see the module docstring)."""
    os.makedirs(broker_path, exist_ok=True)
    counts = _topic_counts(broker_path)
    sc = messages.sparkSession.sparkContext
    query = sc.getLocalProperty("sql.streaming.queryId")
    batch = sc.getLocalProperty("streaming.sql.batchId")
    txn = None if query is None or batch is None else f"{query}:{batch}"
    stage = os.path.join(broker_path, f".stage-{uuid.uuid4().hex}")
    try:
        (messages
         .select("topic",
                 _key_partition_col(counts, partitions).alias("__p"),
                 F.col("key").alias("k"), F.col("value").alias("v"),
                 F.lit(None).cast("bigint").alias("ts"))
         # keep each task's row order inside its (topic, partition) files
         .sortWithinPartitions("topic", "__p",
                               F.monotonically_increasing_id())
         .write.partitionBy("topic", "__p").parquet(stage))
        _publish_stage(broker_path, stage, counts, partitions, txn)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def count_topic(spark: SparkSession, broker_path: str, topic: str) -> int:
    """S10: message count currently in a topic. Offsets are dense from 0
    and nothing is deleted, so it is the sum of the end offsets."""
    return sum(end_offsets(broker_path, topic).values())


def tail_topics(spark: SparkSession, broker_path: str,
                topics: Sequence[str],
                starting_offsets: str = "earliest") -> DataFrame:
    """Continuous tail (S9): a streaming DataFrame of the record envelope.
    Needs register(spark)."""
    return (spark.readStream.format("melt_broker")
            .option("path", broker_path)
            .option("subscribe", ",".join(topics))
            .option("startingOffsets", starting_offsets)
            .load())
