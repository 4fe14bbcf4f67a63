"""Per-query measurement: the one place a tool turns a query name into a
plan and a plan into measured numbers.

Usage: python tools/bench_some.py [--sf DIR] [--n N] name [name ...]

Each name is warmed up once at sf0.001 (codegen and JIT paid before
timing), then run N times at the target SF with the bench methodology:
build the plan, force it through the noop sink. Per name it prints one
JSON line with the min and every run (construction + execution seconds),
the construction and execution seconds of each run, and, from the first
run, the formatted-explain seconds, the plan size and the Spark counters
(jobs, tasks, shuffle read/write bytes, spill) of the construction and
execution spans. The counters come from Spark's in-process status store
through perfbench's job-group tracer, so the session's UI stays off.

Names resolve through named_plans(): bench.py's own bindings, then the
merged driver entries, then the fine-grained constituents.
"""

from __future__ import annotations

import json
import sys
import time
import weakref
from pathlib import Path
from typing import Callable

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))

import bench  # noqa: E402
from tracing import Tracer  # noqa: E402

DEFAULT_SF = "/root/testdata/sf0.1"
WARM_DIR = "/root/testdata/sf0.001"
SPAN_FIELDS = ("jobs", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
               "spill_bytes")


def take_opt(args: list[str], flag: str, default: str) -> str:
    """Remove `flag VALUE` from args and return VALUE (default if absent)."""
    if flag not in args:
        return default
    i = args.index(flag)
    value = args[i + 1]
    del args[i:i + 2]
    return value


def named_plans() -> dict[str, Callable]:
    """name -> fn(spark, sf_dir) -> DataFrame for every runnable query.
    The registry's rule holds (a merged entry shadows the constituent of
    the same name); bench.py's bindings shadow both, so a headliner
    measures the plan the bench measures."""
    from melt_spark.plans.registry import all_named

    return {**all_named(), **dict(bench.BENCH_QUERIES + bench.EXTRA_QUERIES)}


def formatted_plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution \
        .ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# One tracer per Spark session: a Tracer names each span's job group by
# the span's number, so a second Tracer on the same session would reuse
# the first one's group names and count its jobs as well.
_TRACERS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def measure(spark, fn: Callable, sf_dir: str, runs: int) -> dict:
    """Time `runs` builds-and-executions of fn at sf_dir. Each run is a
    construction span (plan building, including any eager jobs) and an
    execution span (the noop write), each under its own job group. The
    first run also records the formatted-explain seconds, the plan size
    and each span's Spark counters."""
    tracer = _TRACERS.setdefault(spark, Tracer(spark, enabled=True))
    construct_s, exec_s, first = [], [], {}
    for r in range(runs):
        with tracer.span("construct") as construct:
            df = fn(spark, sf_dir)
        if r == 0:
            t0 = time.perf_counter()
            first["plan_bytes"] = len(formatted_plan(df))
            first["explain_s"] = round(time.perf_counter() - t0, 3)
        with tracer.span("exec") as execute:
            bench._force(df)
        construct_s.append(round(construct.seconds, 3))
        exec_s.append(round(execute.seconds, 3))
        if r == 0:
            for sp in (construct, execute):
                totals = tracer.stage_totals([sp])
                first[sp.name] = {k: int(totals[k]) for k in SPAN_FIELDS}
    runs_s = [round(c + e, 3) for c, e in zip(construct_s, exec_s)]
    return {"min": min(runs_s), "runs": runs_s, "construct_s": construct_s,
            "exec_s": exec_s, **first}


def main() -> None:
    args = sys.argv[1:]
    sf_dir = take_opt(args, "--sf", DEFAULT_SF)
    n_runs = int(take_opt(args, "--n", "2"))
    names = args

    from melt_spark.session import get_spark

    plans = named_plans()
    spark = get_spark("bench-some")
    out = {}
    for name in names:
        fn = plans[name]
        try:
            bench._force(fn(spark, WARM_DIR))
        except Exception as exc:  # noqa: BLE001
            # a broken warm-up leaves the first timed run cold and skews
            # min-of-N — say so instead of silently recording it
            print(f"WARN warm-up for {name} failed: "
                  f"{type(exc).__name__}: {exc}", file=sys.stderr,
                  flush=True)
        out[name] = measure(spark, fn, sf_dir, n_runs)
        print(json.dumps({name: out[name]}), flush=True)
    print("TOTALS " + json.dumps({k: v["min"] for k, v in out.items()}))


if __name__ == "__main__":
    main()
