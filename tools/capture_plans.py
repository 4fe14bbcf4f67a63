"""Capture .explain('formatted') for bench queries into plans/<round>/.

Usage: python tools/capture_plans.py <round> before|after [name ...]

Writes plans/<round>/<name>_<tag>.txt (e.g. round r12) for every
headliner (or the named subset): the plan-shape evidence that an
OPTIMIZATION_<round>.md write-up cites.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])

    from bench import BENCH_QUERIES
    from melt_spark.plans.registry import constituents, entries
    from melt_spark.session import get_spark

    spark = get_spark(f"capture-plans-{rnd}")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")

    out_dir = Path(__file__).resolve().parent.parent / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)

    targets: list[tuple[str, object]] = list(BENCH_QUERIES)
    if only:
        reg = constituents()
        ent = entries()
        have = {n for n, _ in targets}
        for n in sorted(only - have):
            if n in reg:
                targets.append((n, reg[n][0]))
            elif n in ent:
                targets.append((n, ent[n]))
            else:
                raise KeyError(n)
        targets = [(n, f) for n, f in targets if n in only]

    for name, fn in targets:
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(mode)
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange "
              f"mentions)")


if __name__ == "__main__":
    main()
