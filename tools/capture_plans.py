"""Capture .explain('formatted') for bench queries into plans/<round>/.

Usage: python tools/capture_plans.py <round> before|after [--sf DIR]
                                     [name ...]

Writes plans/<round>/<name>_<tag>.txt (e.g. round r12) for every
headliner, or for the named queries (any name bench_some.py resolves):
the plan-shape evidence that an OPTIMIZATION_<round>.md write-up cites.
--sf defaults to bench_some's data directory.
"""

from __future__ import annotations

import sys

from bench_some import (DEFAULT_SF, ROOT, bench, formatted_plan,
                        named_plans, take_opt)


def main() -> None:
    args = sys.argv[1:]
    sf_dir = take_opt(args, "--sf", DEFAULT_SF)
    rnd, tag, only = args[0], args[1], args[2:]

    from melt_spark.session import get_spark

    plans = named_plans()
    targets = ([(n, plans[n]) for n in only] if only
               else list(bench.BENCH_QUERIES))
    spark = get_spark(f"capture-plans-{rnd}")
    out_dir = ROOT / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, fn in targets:
        plan = formatted_plan(fn(spark, sf_dir))
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({plan.count('Exchange')} Exchange "
              f"mentions)")


if __name__ == "__main__":
    main()
