"""melt-spark benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --list             # every metric, with its unit
    python3 perfbench/run.py --benchmark-json   # BENCHMARK.json, from catalog.py

Run from the repository root. One run: the timed cold set-up (JVM launch,
session start and a warm-up job), the workload's seeded inputs, its own
warm-up, then a closed loop of operations for --seconds, each checked
outside its timed region, then the end-of-run checks. With --trace 1 the
loop runs once untraced and once traced, the traced passes of the workload
follow, and the per-layer metrics are printed instead of the end-to-end
ones. The last line of stdout is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

import catalog  # noqa: E402
import stats  # noqa: E402

REQUIRED = ("melt_spark/__init__.py", "bench.py", "tools/check_oracle.py")
MAX_CONSECUTIVE_FAILURES = 3


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(catalog.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--list", action="store_true")
    p.add_argument("--benchmark-json", action="store_true")
    args = p.parse_args(argv)
    if not (args.list or args.benchmark_json or args.workload):
        p.error("--workload is required")
    return args


def list_metrics() -> None:
    print("end-to-end (printed with --trace 0):")
    for name, unit, better, bound, meaning in catalog.END_TO_END:
        print(f"  {name:34s} {unit:6s} {better:6s} bound {bound:<5} {meaning}")
    print("per-layer (printed with --trace 1):")
    for name, unit, better, layer, moves in catalog.PER_LAYER:
        print(f"  {name:34s} {unit:6s} {better:6s} [{layer}] -> {moves}")
    print("workloads:")
    for name, w in catalog.WORKLOADS.items():
        print(f"  {name}: {w['op']} ({catalog.LOOP})")


def isolate(work: Path) -> None:
    """Keep every file the run and its JVM write inside `work`."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def set_up():
    """Launch the JVM, start the session exactly as shipped and run one
    small shuffle job. Returns (spark, set-up seconds, warm-up seconds)."""
    from melt_spark.session import get_spark
    from melt_spark.sources import mock_broker as mb

    t0 = time.perf_counter()
    spark = get_spark("perfbench",
                      master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    mb.register(spark)
    t1 = time.perf_counter()
    n = spark.range(0, 100_000).selectExpr("id % 500 AS k").distinct().count()
    t2 = time.perf_counter()
    if n != 500:
        raise RuntimeError(f"warm-up job returned {n} groups, not 500")
    return spark, t2 - t0, t2 - t1


def run_loop(wl, seconds: float, tally: dict) -> list[float]:
    """Closed loop: run operations until `seconds` of wall time passed."""
    from workloads import CheckFailed

    durations: list[float] = []
    consecutive = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end or not durations:
        tally["attempted"] += 1
        try:
            dt = wl.op()
            wl.check_op()
        except CheckFailed as e:
            tally["failed"] += 1
            tally["errors"].append(f"check: {e}")
            consecutive += 1
        except Exception:  # an operation that raised counts as failed
            tally["failed"] += 1
            tally["errors"].append(traceback.format_exc(limit=3))
            consecutive += 1
        else:
            durations.append(dt)
            consecutive = 0
        if consecutive >= MAX_CONSECUTIVE_FAILURES:
            break
    return durations


def end_to_end(durations: list[float], setup_s: float) -> tuple[dict, dict]:
    values = {"op_p50_s": stats.median(durations), "setup_s": setup_s}
    return values, {"ops": len(durations), "op_s": durations}


def per_layer(wl, tracer, loop_spans, traced, untraced, warmup_s) -> dict:
    n = max(len(traced), 1)
    spark_totals = tracer.stage_totals(loop_spans)
    values = {name: 0.0 for name, *_ in catalog.PER_LAYER}
    values["session.warmup_s"] = warmup_s
    for k, v in spark_totals.items():
        values[f"spark.{k}"] = v / n
    values.update(wl.layers())
    values["trace.overhead_s"] = (stats.median(traced)
                                  - stats.median(untraced))
    return values


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.list:
        list_metrics()
        return 0
    if args.benchmark_json:
        print(json.dumps(catalog.benchmark_json(catalog.RUN_SECONDS), indent=2))
        return 0
    missing = [p for p in REQUIRED if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a melt-spark checkout, missing {missing}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    spark = None
    wl = None
    try:
        import workloads
        from tracing import Tracer, peak_rss_mb
        from workloads import CheckFailed

        spark, setup_s, warmup_s = set_up()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        phases = {"setup": setup_s}
        tracer = Tracer(spark, enabled=False)
        t0 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed,
                                                tracer)
        wl.warm_up()
        phases["inputs_and_warmup"] = time.perf_counter() - t0
        tally = {"attempted": 0, "failed": 0, "errors": []}
        t0 = time.perf_counter()
        durations = run_loop(wl, args.seconds, tally)
        phases["loop"] = time.perf_counter() - t0
        correct = tally["failed"] == 0
        t0 = time.perf_counter()
        try:
            wl.finish()
        except Exception as e:
            # a wrong final state fails every operation that produced it
            correct = False
            tally["failed"] = tally["attempted"]
            tally["errors"].append(f"final check: {e}")
        phases["finish"] = time.perf_counter() - t0
        if args.trace:
            tracer.enabled = True
            traced = run_loop(wl, args.seconds, tally)
            wl.traced_ops = len(traced)
            try:
                metrics_out = per_layer(wl, tracer, list(tracer.spans),
                                        traced, durations, warmup_s)
            except CheckFailed as e:
                correct = False
                tally["failed"] = tally["attempted"]
                tally["errors"].append(f"traced pass: {e}")
                metrics_out = {name: 0.0 for name, *_ in catalog.PER_LAYER}
            metrics_out["process.peak_rss_mb"] = peak_rss_mb(jvm_pid)
            detail = {"spans": tracer.summary(),
                      "untraced_op_p50_s": stats.median(durations),
                      "traced_op_p50_s": stats.median(traced)}
            correct = correct and tally["failed"] == 0
        else:
            metrics_out, detail = end_to_end(durations, setup_s)
        detail["phases_s"] = phases
        units = {n: u for n, u, *_ in catalog.END_TO_END + catalog.PER_LAYER}
        detail.update({"workload": args.workload, "seed": args.seed,
                       "sizes": wl.sizes, "loop": catalog.LOOP,
                       "failed_ops_ratio": stats.failed_ratio(
                           tally["attempted"], tally["failed"]),
                       "errors": tally["errors"][:5], **wl.notes})
        print("detail " + json.dumps(detail, default=str))
        print(json.dumps({
            "correct": correct,
            "attempted": tally["attempted"],
            "failed": tally["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics_out.items()},
        }))
        return 0
    finally:
        if wl is not None:
            try:
                wl.close()
            except Exception:
                traceback.print_exc()
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
