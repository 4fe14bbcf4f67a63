"""Command-line entry points — the reference's lifecycle workflows
(SURVEY.md §3) invocable as a tool: `python -m melt_spark <cmd> ...`.

Source configs are EDN files (reference-map compatible,
formats/source_spec.py). Data comes from --parquet-dir (the fixture/test
path: each source's table is <dir>/<name>.parquet) or --jdbc-url (the
production path). The sink is the file outbox (operators/outbox.py — the
broker-less durable record with the Kafka sink's contract) or a mock-broker
root via --broker.

Commands:
  load          full load: scan → messages → outbox/broker (+ counts)
  compact       latest-state view of an outbox (tombstones applied)
  sample        top-N sample files per source table (reference sample-db)
  spec-check    validate an EDN spec; print resolved topics/keys
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession


def _spark() -> SparkSession:
    from .session import get_spark
    return get_spark("melt-spark-cli")


def _read_fn(spark: SparkSession, args):
    if args.parquet_dir:
        from .sources.parquet import read_table

        return lambda src: read_table(spark, args.parquet_dir,
                                      src.name.lower())
    if args.jdbc_url:
        from .sources.jdbc import read_source

        return lambda src: read_source(spark, args.jdbc_url, src)
    raise SystemExit("need --parquet-dir or --jdbc-url")


def _load_sources(path: str):
    from .formats.source_spec import sources_from_edn

    with open(path) as fh:
        return sources_from_edn(fh.read())


def cmd_load(args) -> int:
    from .operators.load import load_sources
    from .operators.outbox import write_outbox

    spark = _spark()
    sources = _load_sources(args.sources)
    if args.broker:
        from .sources import mock_broker as mb

        def send(msgs: DataFrame) -> None:
            mb.write_messages(msgs, args.broker)
    else:
        def send(msgs: DataFrame) -> None:
            write_outbox(msgs, args.outbox, batch_id=args.batch_id)

    counts = load_sources(sources, _read_fn(spark, args), send)
    print(json.dumps({"sent": counts}))
    return 0


def cmd_compact(args) -> int:
    from .operators.outbox import latest_outbox_state

    spark = _spark()
    state = latest_outbox_state(spark, args.outbox)
    if args.out:
        state.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count(),
                          "out": args.out}))
    else:
        # toLocalIterator keeps the sort but streams one partition at a
        # time to the driver — a 10⁹-key state never materializes whole.
        # --limit bounds the dump (default 10k rows) so a forgotten --out
        # on a huge state can't flood the terminal either.
        emitted, limit = 0, (args.limit if args.limit else None)
        for r in state.orderBy("topic", "key").toLocalIterator():
            if limit is not None and emitted >= limit:
                print(json.dumps({"truncated_at": args.limit,
                                  "hint": "use --out for the full state"}),
                      file=sys.stderr)
                break
            print(json.dumps({"topic": r["topic"], "key": r["key"],
                              "value": r["value"]}))
            emitted += 1
    return 0


def cmd_sync(args) -> int:
    """Reference §3.2/§3.3: diff every source against the outbox's
    compacted state; report counts, optionally append the repair batch
    (upserts + tombstones) back to the outbox. --check-only is verify
    semantics: exit 1 when out of sync, repair nothing."""
    from pyspark.sql import functions as F

    from .operators.diff import SIDE, TABLE_ONLY, TOPIC_ONLY, diff
    from .operators.outbox import latest_outbox_state, write_outbox
    from .operators.sync import sync_plan

    from .operators.outbox import read_outbox

    spark = _spark()
    sources = _load_sources(args.sources)
    read = _read_fn(spark, args)
    state = latest_outbox_state(spark, args.outbox)

    # Repair batches must get a batch_id ABOVE everything already in the
    # outbox: latest-state breaks ties by (batch_id, seq), and seq values
    # (monotonically_increasing_id) from separate write jobs overlap — a
    # repair reusing an existing batch_id could nondeterministically lose
    # to the stale row it is meant to replace. Default: max(batch_id)+1.
    batch_id = args.batch_id
    if batch_id is None:
        top = read_outbox(spark, args.outbox) \
            .agg(F.max("batch_id").alias("m")).collect()[0]["m"]
        batch_id = (top if top is not None else 0) + 1

    report, total = {}, 0
    for src in sources:
        msgs = src.messages(read(src))
        # the pinned repair batch: the report counts the rows it sends
        repair = sync_plan(diff(
            msgs, state.filter(F.col("topic") == src.default_topic)))
        side = F.when(F.col("value").isNull(), F.lit(TOPIC_ONLY)) \
            .otherwise(F.lit(TABLE_ONLY))  # tombstones carry value=NULL
        sides = {r[SIDE]: r["n"] for r in repair.groupBy(side.alias(SIDE))
                 .agg(F.count(F.lit(1)).alias("n")).collect()}
        n = sum(sides.values())
        total += n
        report[src.default_topic] = {"out_of_sync": n, **sides}
        if n and not args.check_only:
            write_outbox(repair, args.outbox, batch_id=batch_id)
    print(json.dumps({"topics": report, "total_out_of_sync": total,
                      "repaired": not args.check_only and total > 0}))
    return 1 if (args.check_only and total) else 0


def cmd_tail(args) -> int:
    """Reference T3 (background consume → continuously-maintained state)
    as a tool: stream the broker topics through a foreachBatch latest-state
    merge into a versioned-parquet keyed state. --once drains what is
    currently available and exits (availableNow); without it the query
    runs until interrupted. Restarting resumes from the checkpoint."""
    from pyspark.sql import functions as F

    from .sources import mock_broker as mb
    from .streaming.foreach_merge import KeyedStateSink

    spark = _spark()
    mb.register(spark)
    sink = KeyedStateSink(spark, args.state,
                          key_cols=("topic", "key"), order_col="offset")
    stream = mb.tail_topics(spark, args.broker, args.topics.split(","))
    # compound (partition, offset) order packed into one long: a key lives
    # on ONE partition, so this is a total per-key order
    writer = (stream.select("topic", "key", "value", "offset", "partition")
              .writeStream.foreachBatch(
                  lambda df, bid: sink.merge_batch(
                      df.withColumn(
                          "offset",
                          F.col("partition").cast("long") * F.lit(1 << 40)
                          + F.col("offset"))
                      .drop("partition"), bid))
              .option("checkpointLocation", args.checkpoint))
    if args.once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination(600)
    else:
        q = writer.start()
        q.awaitTermination()
    state = sink.compacted_view()
    n = state.count() if state is not None else 0
    print(json.dumps({"state_rows": n, "state": args.state}))
    return 0


def cmd_sample(args) -> int:
    from .operators.sample import sample_db

    spark = _spark()
    sources = _load_sources(args.sources)
    read = _read_fn(spark, args)
    sample_db({s.name: read(s) for s in sources}, args.out, n=args.n)
    print(json.dumps({"sampled": [s.name for s in sources],
                      "out": args.out}))
    return 0


def cmd_spec_check(args) -> int:
    sources = _load_sources(args.sources)
    for s in sources:
        print(json.dumps({
            "source": s.full_name, "topic": s.default_topic,
            "keys": list(s.keys), "keyed": s.keyed,
            "custom_sql": bool(s.sql), "ts_format": s.ts_format}))
    return 0


def _query_registry():
    """Every runnable query by name — from the shared registry module
    (plans/registry.py), the same source of truth tools/check_one.py and
    the SUITE_MAP audit test use."""
    from .plans.registry import all_named

    return all_named()


def cmd_query(args) -> int:
    """Run a named suite query and print rows as JSON lines (bounded by
    --limit; use --count for just the row count). The analytics surface's
    REPL entry point — any of the ~100 registered operators by name."""
    qs = _query_registry()
    if args.name not in qs:
        close = sorted(n for n in qs if args.name.lower() in n)
        raise SystemExit(f"unknown query {args.name!r}; "
                         f"did you mean: {close[:8]}" if close else
                         f"unknown query {args.name!r}")
    spark = _spark()
    df = qs[args.name](spark, args.sf_dir)
    if args.count:
        print(json.dumps({"query": args.name, "rows": df.count()}))
        return 0
    shown = 0
    # toLocalIterator: stream partitions, never collect the full result
    for row in df.limit(args.limit).toLocalIterator():
        print(json.dumps(row.asDict(), default=str))
        shown += 1
    print(json.dumps({"query": args.name, "shown": shown,
                      "limit": args.limit}), file=sys.stderr)
    return 0


def cmd_explain(args) -> int:
    """Physical-plan audit of a named suite query: shuffle/broadcast
    exchange counts, join strategies, filters pushed to the scans — the
    tools/explain_audit.py summary as a CLI one-liner."""
    import re

    qs = _query_registry()
    if args.name not in qs:
        raise SystemExit(f"unknown query {args.name!r}")
    spark = _spark()
    df = qs[args.name](spark, args.sf_dir)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    out = {
        "query": args.name,
        "shuffle_exchanges": len(
            re.findall(r"^\(\d+\) Exchange\b", plan, re.M)),
        "broadcast_joins": len(
            re.findall(r"^\(\d+\) BroadcastHashJoin\b", plan, re.M)),
        "sortmerge_joins": len(
            re.findall(r"^\(\d+\) SortMergeJoin\b", plan, re.M)),
        "pushed_filters": re.findall(r"PushedFilters: \[([^\]]*)\]", plan),
    }
    print(json.dumps(out))
    if args.full:
        print(plan)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="melt_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--sources", required=True,
                        help="EDN source-spec file")
        sp.add_argument("--parquet-dir", help="table dir (test path)")
        sp.add_argument("--jdbc-url", help="JDBC url (production path)")

    lp = sub.add_parser("load", help="full load into outbox/broker")
    common(lp)
    lp.add_argument("--outbox", help="outbox parquet root")
    lp.add_argument("--broker", help="mock-broker root (instead of outbox)")
    lp.add_argument("--batch-id", type=int, default=0)
    lp.set_defaults(fn=cmd_load)

    cp = sub.add_parser("compact", help="latest-state view of an outbox")
    cp.add_argument("--outbox", required=True)
    cp.add_argument("--out", help="write parquet here instead of printing")
    cp.add_argument("--limit", type=int, default=10000,
                    help="max rows to print without --out (0 = unlimited)")
    cp.set_defaults(fn=cmd_compact)

    sy = sub.add_parser("sync", help="diff sources vs outbox state; repair")
    common(sy)
    sy.add_argument("--outbox", required=True)
    sy.add_argument("--check-only", action="store_true",
                    help="verify semantics: report + exit 1, no repair")
    sy.add_argument("--batch-id", type=int, default=None,
                    help="repair batch id (default: outbox max+1, so "
                         "repeated repairs always win the tiebreak)")
    sy.set_defaults(fn=cmd_sync)

    tl = sub.add_parser("tail", help="continuous broker tail -> keyed state")
    tl.add_argument("--broker", required=True)
    tl.add_argument("--topics", required=True, help="comma-separated")
    tl.add_argument("--state", required=True, help="keyed-state parquet root")
    tl.add_argument("--checkpoint", required=True)
    tl.add_argument("--once", action="store_true",
                    help="drain available input and exit (availableNow)")
    tl.set_defaults(fn=cmd_tail)

    smp = sub.add_parser("sample", help="top-N sample files per table")
    common(smp)
    smp.add_argument("--out", required=True)
    smp.add_argument("-n", type=int, default=10)
    smp.set_defaults(fn=cmd_sample)

    sc = sub.add_parser("spec-check", help="validate an EDN source spec")
    sc.add_argument("--sources", required=True)
    sc.set_defaults(fn=cmd_spec_check)

    qr = sub.add_parser("query", help="run a named suite query")
    qr.add_argument("name")
    qr.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    qr.add_argument("--limit", type=int, default=20)
    qr.add_argument("--count", action="store_true",
                    help="print only the row count")
    qr.set_defaults(fn=cmd_query)

    ex = sub.add_parser("explain", help="physical-plan audit of a query")
    ex.add_argument("name")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ex.add_argument("--full", action="store_true",
                    help="also print the formatted plan")
    ex.set_defaults(fn=cmd_explain)

    return p


def main(argv=None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
