"""What the benchmark measures: workloads, end-to-end metrics, per-layer
metrics and which end-to-end metric each layer should move (Spark-free).

BENCHMARK.json at the repository root is generated from this module
(`python3 perfbench/run.py --benchmark-json`) and a test keeps the two
in step.
"""

from __future__ import annotations

RUN_SECONDS = 10
LOOP = "closed, one client: each operation starts after the previous one ended"

WORKLOADS = {
    "resync": {
        "why": "fixed cost of each Spark action on the read-diff-repair-"
               "verify path at 10k keys; its traced run also drives the "
               "CDC tail into the foreachBatch merge sink",
        "op": "read_topics -> latest_state -> diff -> sync_plan -> write "
              "the repair batch -> verify, on a freshly restored topic",
    },
    "analytics_headliners": {
        "why": "the only workload that runs plans/*_suite and functions: "
               "bench.py's 13 headline plans through the noop sink",
        "op": "one repetition of the 13 headline plans",
    },
}

# name, unit, better, bound, meaning
END_TO_END = [
    ("op_p50_s", "s", "lower", 0.25,
     "median seconds per operation: resync time (topic read to verified "
     "repair), headline repetition time"),
    ("setup_s", "s", "lower", 0.25,
     "cold set-up: JVM launch, session start with the shipped defaults, "
     "broker registration and a small shuffle warm-up job"),
]

RESYNC = "op_p50_s on resync, through its per-action cost"
CDC = ("none bounded: resync's traced CDC pass; cdc.lag_p50_s is "
       "the yardstick")

# name, unit, better, layer (module), end-to-end metric it should move
PER_LAYER = [
    ("session.warmup_s", "s", "lower", "session", "setup_s on all"),
    ("process.peak_rss_mb", "MB", "lower", "driver process + JVM",
     "none bounded: the JVM high-water mark follows GC timing"),
    ("parquet.scan_s", "s", "lower", "sources.parquet",
     RESYNC),
    ("parquet.rows", "count", "lower", "sources.parquet",
     RESYNC),
    ("parquet.input_bytes", "bytes", "lower", "sources.parquet",
     RESYNC),
    ("messages.construct_s", "s", "lower", "canonical + operators.messages",
     RESYNC),
    ("messages.encode_s", "s", "lower", "canonical + operators.messages",
     RESYNC),
    ("messages.value_bytes_per_row", "bytes", "lower",
     "canonical + operators.messages", RESYNC),
    ("broker.write_s", "s", "lower", "sources.mock_broker (writer)",
     RESYNC),
    ("broker.records_written", "count", "lower",
     "sources.mock_broker (writer)", RESYNC),
    ("broker.segments_written", "count", "lower",
     "sources.mock_broker (writer)", RESYNC),
    ("broker.bytes_per_record", "bytes", "lower",
     "sources.mock_broker (writer)", RESYNC),
    ("broker.read_s", "s", "lower", "sources.mock_broker (reader)",
     RESYNC),
    ("broker.records_read", "count", "lower", "sources.mock_broker (reader)",
     RESYNC),
    ("broker.read_partitions", "count", "higher",
     "sources.mock_broker (reader)", RESYNC),
    ("latest_state.s", "s", "lower", "operators.latest_state",
     RESYNC),
    ("latest_state.rows_in", "count", "lower", "operators.latest_state",
     RESYNC),
    ("latest_state.rows_out", "count", "lower", "operators.latest_state",
     RESYNC),
    ("latest_state.shuffle_write_bytes", "bytes", "lower",
     "operators.latest_state", RESYNC),
    ("diff.s", "s", "lower", "operators.diff", RESYNC),
    ("diff.rows_out", "count", "lower", "operators.diff", RESYNC),
    ("diff.shuffle_write_bytes", "bytes", "lower", "operators.diff",
     RESYNC),
    ("sync.msgs", "count", "lower", "operators.sync", RESYNC),
    ("sync.write_s", "s", "lower", "operators.sync", RESYNC),
    ("verify.s", "s", "lower", "operators.verify", RESYNC),
    ("verify.attempts", "count", "lower", "operators.verify",
     RESYNC),
    ("plans.construct_s", "s", "lower", "plans + functions",
     "op_p50_s on analytics_headliners"),
    ("plans.exec_s", "s", "lower", "plans + functions",
     "op_p50_s on analytics_headliners"),
    ("plans.eager_jobs", "count", "lower", "plans + functions",
     "op_p50_s on analytics_headliners"),
]

HEADLINERS = ("message_envelope", "latest_state", "sync_plan", "cdc_replay",
              "tpch_q1", "tpch_q3", "tpch_q5", "event_sessions", "text_stats",
              "dedup_minhash_lsh", "ann_cosine_topk", "tpch_q10",
              "clean_corpus")
PER_LAYER += [(f"plans.{q}_s", "s", "lower", "plans + functions",
               "op_p50_s on analytics_headliners") for q in HEADLINERS]

PER_LAYER += [
    ("cdc.lag_p50_s", "s", "lower", "streaming (whole tick)", CDC),
    ("cdc.lag_tail_s", "s", "lower", "streaming (whole tick)", CDC),
    ("cdc.changes_per_s", "1/s", "higher", "streaming (whole tick)", CDC),
    ("cdc_tail.tick_s", "s", "lower", "operators.cdc + streaming.cdc_tail",
     CDC),
    ("cdc_tail.rows_fetched", "count", "lower",
     "operators.cdc + streaming.cdc_tail", CDC),
    ("cdc_tail.msgs_sent", "count", "higher",
     "operators.cdc + streaming.cdc_tail", CDC),
    ("merge.batch_s", "s", "lower", "streaming.foreach_merge", CDC),
    ("merge.state_rows", "count", "lower", "streaming.foreach_merge", CDC),
    ("merge.bytes_written", "bytes", "lower", "streaming.foreach_merge", CDC),
    ("merge.write_amplification", "ratio", "lower", "streaming.foreach_merge",
     CDC),
]
PER_LAYER += [
    (f"stream.{name}", "ms", "lower", "Structured Streaming progress", CDC)
    for name in ("trigger_ms", "add_batch_ms", "get_batch_ms",
                 "latest_offset_ms", "query_planning_ms", "wal_commit_ms")]
PER_LAYER += [
    (f"spark.{name}", unit, "lower", "Spark engine, per operation",
     "all workloads; a session-wide change moves spark.tasks everywhere")
    for name, unit in (("jobs", "count"), ("tasks", "count"),
                       ("executor_run_s", "s"),
                       ("shuffle_read_bytes", "bytes"),
                       ("shuffle_write_bytes", "bytes"),
                       ("spill_bytes", "bytes"))]
PER_LAYER += [
    ("trace.overhead_s", "s", "lower", "the benchmark's own tracing",
     "none: traced minus untraced op_p50_s"),
]


def benchmark_json(run_seconds: int) -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": run_seconds,
        "workloads": [{"name": n, "why": w["why"]}
                      for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd}
                       for n, u, b, bd, _m in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b}
                      for n, u, b, _l, _m in PER_LAYER],
    }
