"""The workloads. Each is a closed loop with one client: an operation
starts only after the previous one has finished and been checked.

A workload object is built once per run with the session, its seeded
inputs and a tracer. `op()` runs one timed operation and returns its
seconds; `check_op()` checks the output of that operation outside the
timed region; `finish()` runs the end-of-run checks; `layers()` returns
the per-layer metrics of the traced loop.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from pyspark.sql import functions as F

from melt_spark.model import Source
from melt_spark.operators.diff import diff
from melt_spark.operators.latest_state import latest_state
from melt_spark.operators.messages import tombstones
from melt_spark.operators.sync import sync_count, sync_plan
from melt_spark.operators.verify import verify
from melt_spark.sources import mock_broker as mb
from melt_spark.sources.parquet import read_table
from melt_spark.streaming.cdc_tail import CdcTail
from melt_spark.streaming.foreach_merge import KeyedStateSink

import gen
import stats
from tracing import Tracer, dir_stats

SOURCE = Source(name="accounts", schema="bench", keys=("id",))
TOPIC = SOURCE.default_topic
PARTITIONS = 4
WARMUP_THREADS = 4
CDC_WARM_TICKS = 1  # CDC ticks run before the measured ones

# Input sizes per workload (see README.md for how they were chosen).
SIZES = {
    "resync": {"keys": 10_000, "cdc_ticks": 6, "cdc_changes_per_tick": 500},
    "analytics_headliners": {"sf": 0.01},
}


class CheckFailed(Exception):
    pass


def force(df) -> None:
    """Run a plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def topic_state(spark, root: str):
    """Latest state of the benchmark topic (tombstoned keys dropped)."""
    env = mb.read_topics(spark, root, [TOPIC])
    return latest_state(env.select("topic", "key", "value", "partition",
                                   "offset"),
                        order_col=("partition", "offset"))


def med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.sizes = dict(SIZES[self.name])
        self.inputs = work / "inputs"
        self.inputs.mkdir(parents=True, exist_ok=True)
        self.traced_ops = 0   # operations run with the tracer on
        self.notes: dict = {}  # recorded in the run's detail line

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def op(self) -> float:
        raise NotImplementedError

    def warm_up(self) -> None:
        """One untimed, checked operation, so lazy set-up (Python workers,
        JIT, caches) is done before timing."""
        self.op()
        self.check_op()

    def check_op(self) -> None:
        """Raise CheckFailed if the last operation's output is wrong."""

    def finish(self) -> None:
        """End-of-run checks."""

    def layers(self) -> dict[str, float]:
        """Per-layer metrics of the traced loop; raises CheckFailed if a
        pass it runs produces a wrong result."""
        return {}

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------

class Resync(Workload):
    """A drifted topic (2 versions per key) is repaired and re-verified:
    read_topics → latest_state → diff → sync_plan → write the repair batch
    → verify. The topic is restored before every operation."""

    name = "resync"

    def __init__(self, *a):
        super().__init__(*a)
        self.info = gen.resync(self.seed, self.sizes["keys"], str(self.inputs),
                               self.sizes["cdc_ticks"],
                               self.sizes["cdc_changes_per_tick"])
        self.broker = str(self.work / "broker")
        self.pristine = str(self.work / "pristine")
        # One write: the broker assigns offsets in task order, so the
        # batches land in the order of the union.
        batches = [SOURCE.messages(self._table(part))
                   .select("topic", "key", "value")
                   for part in ("topic_v1", "topic_v2", "topic_stale")]
        batches.append(tombstones(SOURCE.messages(
            self._table("topic_tombstones"))))
        topic = batches[0]
        for b in batches[1:]:
            topic = topic.unionByName(b)
        mb.write_messages(topic, self.pristine,
                          partitions=PARTITIONS)
        written = sum(mb.end_offsets(self.pristine, TOPIC).values())
        if written != self.info["topic_records"]:
            raise CheckFailed(f"drifted topic has {written} records")
        self.result: dict = {}
        self.repair_segments: list[int] = []
        self.repair_bytes: list[int] = []

    def _table(self, name: str):
        return read_table(self.spark, str(self.inputs), name)

    def source_msgs(self):
        return SOURCE.messages(self._table("table"))

    def envelope(self):
        return mb.read_topics(self.spark, self.broker, [TOPIC])

    def topic(self):
        return topic_state(self.spark, self.broker)

    def restore(self) -> None:
        shutil.rmtree(self.broker, ignore_errors=True)
        shutil.copytree(self.pristine, self.broker)

    def op(self) -> float:
        self.restore()
        t0 = time.perf_counter()
        with self.span("resync"):
            with self.span("sync.plan", jobs=False):
                repair = sync_plan(diff(self.source_msgs(), self.topic()))
            with self.span("sync.count"):
                n = sync_count(repair)
            with self.span("sync.write"):
                mb.write_messages(repair, self.broker, partitions=PARTITIONS)
            with self.span("verify"):
                res = verify(self.source_msgs, self.topic)
        dt = time.perf_counter() - t0
        self.result = {"msgs": n, "matches": res.matches,
                       "attempts": res.attempts}
        if self.tracer.enabled:
            segs, size = dir_stats(self.broker, "seg-")
            base_segs, base_size = dir_stats(self.pristine, "seg-")
            self.repair_segments.append(segs - base_segs)
            self.repair_bytes.append(size - base_size)
        return dt

    def check_op(self) -> None:
        r, want = self.result, self.info["expected_drift"]
        if r["msgs"] != want:
            raise CheckFailed(f"repair batch {r['msgs']} != drift {want}")
        if not r["matches"]:
            raise CheckFailed("topic still differs after the repair")

    def finish(self) -> None:
        n = self.topic().count()
        if n != self.info["expected_state"]:
            raise CheckFailed(f"repaired topic has {n} keys")

    def layers(self) -> dict[str, float]:
        """Spark fuses the scan, encoding and broker layers into the stages
        of the diff, so each layer's output is forced on its own and a
        layer's time is the difference to the one it feeds. The CDC tail's
        layers come from cdc_pass, which runs first, on the topic the last
        traced operation repaired."""
        t = self.tracer
        cdc = self.cdc_pass()
        self.restore()
        passes = {}
        for name, plan in (
                ("scan", lambda: self._table("table")),
                ("source", self.source_msgs),
                ("broker.read", self.envelope),
                ("latest_state", self.topic),
                ("diff", lambda: diff(self.source_msgs(), self.topic()))):
            with t.span(f"layer.{name}") as sp:
                force(plan())
            passes[name] = (sp.seconds, t.stage_totals([sp]))
        scan_s, _ = passes["scan"]
        src_s, _ = passes["source"]
        read_s, _ = passes["broker.read"]
        ls_s, ls_c = passes["latest_state"]
        diff_s, diff_c = passes["diff"]
        records = self.envelope().count()
        state_rows = self.topic().count()
        diff_rows = diff(self.source_msgs(), self.topic()).count()
        value_bytes = (self.source_msgs()
                       .agg(F.sum(F.octet_length("value"))).first()[0])
        # the broker writer alone: write the materialised repair batch
        repair = sync_plan(diff(self.source_msgs(),
                                self.topic())).localCheckpoint()
        with t.span("layer.broker.write") as write:
            mb.write_messages(repair, str(self.work / "write"),
                              partitions=PARTITIONS)
        with t.span("layer.messages.construct", jobs=False) as construct:
            self.source_msgs()
        msgs = self.result["msgs"]
        rows = self.info["expected_state"]
        return cdc | {
            "parquet.scan_s": scan_s,
            "parquet.rows": float(rows),
            "parquet.input_bytes": float(os.path.getsize(self.info["table"])),
            "messages.construct_s": construct.seconds,
            "messages.encode_s": max(src_s - scan_s, 0.0),
            "messages.value_bytes_per_row": value_bytes / rows,
            "broker.write_s": write.seconds,
            "broker.records_written": float(msgs),
            "broker.segments_written": med(self.repair_segments),
            "broker.bytes_per_record": med(self.repair_bytes) / msgs,
            "broker.read_s": read_s,
            "broker.records_read": float(records),
            "broker.read_partitions": float(PARTITIONS),
            "latest_state.s": max(ls_s - read_s, 0.0),
            "latest_state.rows_in": float(records),
            "latest_state.rows_out": float(state_rows),
            "latest_state.shuffle_write_bytes": ls_c["shuffle_write_bytes"],
            "diff.s": max(diff_s - ls_s - src_s, 0.0),
            "diff.rows_out": float(diff_rows),
            "diff.shuffle_write_bytes": max(
                diff_c["shuffle_write_bytes"] - ls_c["shuffle_write_bytes"],
                0.0),
            "sync.msgs": float(msgs),
            "sync.write_s": med([s.seconds for s in t.named("sync.write")]),
            "verify.s": med([s.seconds for s in t.named("verify")]),
            "verify.attempts": float(self.result["attempts"]),
        }

    def cdc_pass(self) -> dict[str, float]:
        """The change tail on the repaired topic. Each tick, CdcTail.tick
        replays one seeded CHANGETABLE batch into the broker, tail_topics
        feeds it to a KeyedStateSink and processAllAvailable ends the tick.
        Lag is measured from the batch being available to its changes being
        merged. At the end the streamed state must equal a batch
        latest_state over the same topic and hold the generated number of
        live keys."""
        t, spark = self.tracer, self.spark
        cdc = self.work / "cdc"
        sink = KeyedStateSink(spark, str(cdc / "state"))
        merges: list[float] = []
        merge = sink.merge_batch

        def timed_merge(delta, batch_id):
            t0 = time.perf_counter()
            merge(delta, batch_id)
            merges.append(time.perf_counter() - t0)

        sink.merge_batch = timed_merge
        batch: list = []
        tail = CdcTail(SOURCE, fetch_changes=lambda: batch[0],
                       send=lambda msgs: mb.write_messages(
                           msgs, self.broker, partitions=PARTITIONS),
                       checkpoint_path=str(cdc / "version.json"))
        stream = mb.tail_topics(spark, self.broker, [TOPIC]).select(
            "topic", "key", "value", "partition", "offset")
        q = sink.attach(stream, str(cdc / "checkpoint"))
        per_tick = self.sizes["cdc_changes_per_tick"]
        ticks = {k: [] for k in ("lag", "tick", "sent", "merge", "written",
                                 "delta")}
        try:
            q.processAllAvailable()  # the topic's current state
            first_batch = q.lastProgress["batchId"]
            for i, name in enumerate(self.info["cdc_tables"]):
                batch[:] = [read_table(spark, str(self.inputs), name)]
                _, bytes0 = dir_stats(self.broker, "seg-")
                done = len(merges)
                t0 = time.perf_counter()
                with t.span("cdc_tail.tick"):
                    sent = tail.tick()
                t1 = time.perf_counter()
                with t.span("merge.wait", jobs=False):
                    q.processAllAvailable()
                t2 = time.perf_counter()
                if sent["sent_count"] != per_tick:
                    raise CheckFailed(f"tick {i} sent {sent['sent_count']} "
                                      f"of {per_tick} changes")
                if i < CDC_WARM_TICKS:
                    first_batch = q.lastProgress["batchId"]
                    continue
                _, snapshot = dir_stats(sink.path, "part-")
                ticks["lag"].append(t2 - t0)
                ticks["tick"].append(t1 - t0)
                ticks["sent"].append(sent["sent_count"])
                ticks["merge"].append(sum(merges[done:]))
                ticks["written"].append(snapshot * (len(merges) - done))
                ticks["delta"].append(dir_stats(self.broker, "seg-")[1]
                                      - bytes0)
            progress = [p for p in q.recentProgress
                        if p["batchId"] > first_batch and p["numInputRows"]]
        finally:
            q.stop()
        streamed = sink.compacted_view().select("topic", "key", "value")
        batch_state = self.topic().select("topic", "key", "value")
        live = batch_state.count()
        if (live != self.info["expected_live_after_cdc"]
                or streamed.exceptAll(batch_state).count()
                or batch_state.exceptAll(streamed).count()):
            raise CheckFailed("streamed state differs from the topic's "
                              f"latest state ({live} live keys, "
                              f"{self.info['expected_live_after_cdc']} "
                              "expected)")
        n = len(ticks["lag"])
        pct, lag_tail = stats.tail(ticks["lag"])
        self.notes["cdc_lag_tail_percentile"] = pct

        def duration(key: str) -> float:
            return med([p["durationMs"].get(key, 0) for p in progress])

        return {
            "cdc.lag_p50_s": med(ticks["lag"]),
            "cdc.lag_tail_s": lag_tail,
            "cdc.changes_per_s": per_tick * n / sum(ticks["lag"]),
            "cdc_tail.tick_s": med(ticks["tick"]),
            "cdc_tail.rows_fetched": float(per_tick),
            "cdc_tail.msgs_sent": med(ticks["sent"]),
            "merge.batch_s": med(ticks["merge"]),
            "merge.state_rows": float(sink.state().count()),
            "merge.bytes_written": med(ticks["written"]),
            "merge.write_amplification": (sum(ticks["written"])
                                          / sum(ticks["delta"])),
            "stream.trigger_ms": duration("triggerExecution"),
            "stream.add_batch_ms": duration("addBatch"),
            "stream.get_batch_ms": duration("getBatch"),
            "stream.latest_offset_ms": duration("latestOffset"),
            "stream.query_planning_ms": duration("queryPlanning"),
            "stream.wal_commit_ms": duration("walCommit"),
        }


# ---------------------------------------------------------------------------

def _load_check_oracle():
    """tools/check_oracle.py's row normalisation, loaded by path (tools/
    is not a package)."""
    path = Path(__file__).resolve().parent.parent / "tools" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def headliners():
    """bench.py's 13 headline plans with the DuckDB oracle SQL the
    registry pairs with each."""
    import bench
    from melt_spark.plans import suite
    from melt_spark.plans.registry import constituents

    reg = constituents()
    out = []
    for name, fn in bench.BENCH_QUERIES:
        if name in reg and reg[name][0] is fn:
            sql = reg[name][1]
        else:
            sql = getattr(suite, f"SQL_{name.upper()}")
        out.append((name, fn, sql))
    return out


class AnalyticsHeadliners(Workload):
    """bench.py's 13 headline plans over a seeded fixture, each forced
    through the noop sink. One operation is one repetition of all 13."""

    name = "analytics_headliners"

    def __init__(self, *a):
        super().__init__(*a)
        self.info = gen.analytics_fixture(self.seed, self.sizes["sf"],
                                          str(self.inputs))
        self.plans = headliners()
        self.per_query: dict[str, list[float]] = {}

    def warm_up(self) -> None:
        """The untimed oracle check doubles as the warm-up: every plan runs
        once, collected, and is compared with its DuckDB oracle using the
        normalisation tools/check_oracle.py applies. The plans run on
        concurrent threads (the pass is untimed), which roughly halves the
        cold start every run pays."""
        import duckdb

        oracle = _load_check_oracle()
        d = str(self.inputs)
        con = duckdb.connect()
        self.bad: list[str] = []
        try:
            for t in self.info["rows"]:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
            with ThreadPoolExecutor(max_workers=WARMUP_THREADS) as pool:
                spark_out = {name: pool.submit(
                    lambda fn=fn: oracle.spark_rows(fn(self.spark, d)))
                    for name, fn, _sql in self.plans}
                for name, _fn, sql in self.plans:
                    d_cols, d_rows = oracle.duck_rows(con, sql)
                    s_cols, s_rows = spark_out[name].result()
                    if s_cols != d_cols or sorted(s_rows) != sorted(d_rows):
                        self.bad.append(name)
        finally:
            con.close()

    def op(self) -> float:
        d = str(self.inputs)
        total = 0.0
        for name, fn, _sql in self.plans:
            t0 = time.perf_counter()
            with self.span("plans.construct"):
                df = fn(self.spark, d)
            with self.span("plans.exec"):
                force(df)
            dt = time.perf_counter() - t0
            self.per_query.setdefault(name, []).append(dt)
            total += dt
        return total

    def finish(self) -> None:
        if self.bad:
            raise CheckFailed(f"plans differ from their oracle: {self.bad}")

    def layers(self) -> dict[str, float]:
        t = self.tracer
        n = max(self.traced_ops, 1)
        cons, execs = t.named("plans.construct"), t.named("plans.exec")
        out = {
            "plans.construct_s": sum(s.seconds for s in cons) / n,
            "plans.exec_s": sum(s.seconds for s in execs) / n,
            "plans.eager_jobs": t.stage_totals(cons)["jobs"] / n,
            "parquet.rows": float(sum(self.info["rows"].values())),
        }
        for name in self.per_query:
            out[f"plans.{name}_s"] = med(self.per_query[name][-n:])
        return out


WORKLOADS = {w.name: w for w in (Resync, AnalyticsHeadliners)}
