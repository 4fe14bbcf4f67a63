"""Plan lint: flag single-reducer hazards across the whole query surface.

The one scale defect the round-6 audit found (rfm_scores' partition-less
ntile) materializes in the physical plan as an ``Exchange SinglePartition``
whose input is unbounded: every row of the table funnels through ONE task.
That is fine when the input is provably small — a TakeOrdered top-k, a
limit, or a keyless partial aggregate (one row per upstream task) — and a
silent bottleneck otherwise.

Rule: for every ``Exchange`` node whose Arguments start with
``SinglePartition``, walk DOWN the child chain through cardinality-
preserving-or-reducing nodes (Project/Filter/Sort/Window/...). The
exchange is certified bounded if the walk reaches one of:

- a limit-class node (``TakeOrderedAndProject``, ``CollectLimit``,
  ``GlobalLimit``, ``LocalLimit``) — output is <= k per partition;
- a keyless aggregate (``Keys [0]: []``) — partial mode emits exactly one
  row per task, final mode one row total;
- a ``ReusedExchange``/``Subquery`` stub (audited where defined).

The walk STOPS (and flags) at anything that can grow or re-source
cardinality: another Exchange, any join, Generate (explode), a scan, or a
keyed aggregate (group count unknowable from the plan). Queries that are
bounded by construction should SAY so in the plan with a no-op
``.limit(k)`` over the known domain (e.g. a 32-bin histogram) — that is
plan-visible evidence, not a comment.

Usage: python tools/plan_lint.py [sf_dir]   (exit 1 on hits)
tests/test_plan_lint.py runs this over every registered constituent and
driver entry and fails on ANY hit.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Nodes that certify the data volume entering the exchange is bounded.
_LIMIT_NODES = {"TakeOrderedAndProject", "CollectLimit", "GlobalLimit",
                "LocalLimit"}
# Nodes that cannot increase row count: safe to walk through.
_PASS_THROUGH = {"Project", "Filter", "Sort", "Window", "WindowGroupLimit",
                 "SerializeFromObject", "DeserializeToObject",
                 "InputAdapter", "WholeStageCodegen", "ColumnarToRow",
                 "AQEShuffleRead", "Coalesce", "Exchange?"}
_AGG_NODES = {"HashAggregate", "ObjectHashAggregate", "SortAggregate"}


def _parse_trees(plan: str) -> tuple[dict[int, str], dict[int, list[int]],
                                     dict[int, str]]:
    """Parse a formatted explain string into (node-id -> name,
    node-id -> child ids, node-id -> detail block)."""
    names: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    details: dict[int, str] = {}

    # tree sections: indented lines ending in "NodeName (id)"
    node_re = re.compile(r"([A-Za-z][\w ?]*?) \((\d+)\)\s*$")
    stack: list[tuple[int, int]] = []  # (depth, node_id)
    for line in plan.splitlines():
        m = node_re.search(line)
        if m is None or line.startswith("("):
            if not line.strip() or not line.startswith((" ", "+", ":", "*")):
                stack = []  # section break (blank / header line)
            continue
        name, nid = m.group(1).strip(), int(m.group(2))
        # depth = chars before the node name, 3 per level ("+- ", "   ", ": ")
        depth = m.start(1) // 3
        names[nid] = name
        children.setdefault(nid, [])
        while stack and stack[-1][0] >= depth:
            stack.pop()
        if stack:
            children[stack[-1][1]].append(nid)
        stack.append((depth, nid))

    # detail blocks: "(id) NodeName" followed by attribute lines
    for m in re.finditer(r"^\((\d+)\) ([A-Za-z][\w ?]*)\n((?:[^\n(][^\n]*\n?)*)",
                         plan, re.M):
        details[int(m.group(1))] = m.group(3)
    return names, children, details


def _base_name(name: str) -> str:
    # "BroadcastHashJoin Inner BuildRight" -> "BroadcastHashJoin";
    # "WholeStageCodegen (2)" handled by caller regex already
    return name.split()[0]


def _is_bounded(nid: int, names: dict, children: dict, details: dict,
                ) -> bool:
    """Walk down from the exchange's child chain looking for a
    boundedness certificate."""
    todo = list(children.get(nid, []))
    while todo:
        cur = todo.pop()
        base = _base_name(names.get(cur, ""))
        if base in _LIMIT_NODES:
            return True
        if base in _AGG_NODES:
            # keyless aggregate: one row per task (partial) / one total
            return bool(re.search(r"^Keys(?: \[0\])?: \[\]\s*$",
                                  details.get(cur, ""), re.M))
        if base in ("ReusedExchange", "Subquery", "ReusedSubquery"):
            return True  # audited at its defining site
        if base in _PASS_THROUGH:
            todo.extend(children.get(cur, []))
            continue
        return False  # join / Generate / scan / keyed agg / Exchange
    return False


# Fixture fact tables — the unbounded inputs at scale. A BroadcastExchange
# whose subtree reaches one of these scans without crossing an aggregate or
# a limit ships an unbounded frame to every executor (the r6 nb_classify
# incident: Catalyst broadcast a post-explode corpus side because the
# fixture-scale stats looked small — at 100 TB that broadcast is fatal).
#
# Precision: plans are linted with spark.sql.autoBroadcastJoinThreshold=-1
# (see lint_all), which removes Catalyst's SIZE-based broadcasts — those
# adapt away at real scale and are not hazards. What remains is FORCED
# broadcasts (explicit broadcast() hints, nested-loop requirements): a
# hint pinning an unbounded fact frame to every executor is exactly the
# shape that cannot adapt and must fail the lint.
_FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")


def _broadcast_unbounded(nid: int, names: dict, children: dict,
                         details: dict) -> str | None:
    """Walk down from a BroadcastExchange; return a description if the
    subtree reaches a fact-table scan without a boundedness certificate
    (limit-class node or ANY aggregate — an agg re-bounds cardinality to
    the group domain, the deliberate vocab/dimension pattern)."""
    todo = list(children.get(nid, []))
    saw_generate = False
    while todo:
        cur = todo.pop()
        base = _base_name(names.get(cur, ""))
        if base in _LIMIT_NODES or base in _AGG_NODES:
            continue  # certificate: this path is bounded / re-bounded
        if base == "WindowGroupLimit":
            # rank()<=k filters compile to this node: output is k rows
            # PER GROUP — bounded whenever the group key side is itself
            # bounded (the broadcast-query top-k pattern). Accepted as a
            # certificate; the group-cardinality residual risk is the
            # same one a keyed aggregate carries and is audited the
            # same way (the builder's query side must be bounded).
            continue
        if base in ("ReusedExchange", "Subquery", "ReusedSubquery"):
            continue  # audited at its defining site
        if base == "Generate":
            saw_generate = True
        if base == "Scan":
            loc = details.get(cur, "")
            for t in _FACT_TABLES:
                if f"{t}.parquet" in loc:
                    return (f"fact scan '{t}'"
                            + (" below Generate" if saw_generate else ""))
            continue
        todo.extend(children.get(cur, []))
    return None


def lint_plan(plan: str) -> list[str]:
    """Return a list of human-readable hits for one formatted plan."""
    names, children, details = _parse_trees(plan)
    hits = []
    for nid, name in names.items():
        if _base_name(name) == "BroadcastExchange":
            why = _broadcast_unbounded(nid, names, children, details)
            if why:
                hits.append(f"BroadcastExchange({nid}) over unbounded "
                            f"input: {why}")
    for nid, name in names.items():
        if _base_name(name) != "Exchange":
            continue
        args = details.get(nid, "")
        if "Arguments: SinglePartition" not in args:
            continue
        if not _is_bounded(nid, names, children, details):
            kids = [names.get(c, "?") for c in children.get(nid, [])]
            hits.append(f"Exchange({nid}) SinglePartition over "
                        f"unbounded input (child: {kids})")
    return hits


def lint_all(sf_dir: str = "/root/testdata/sf0.001") -> dict[str, list[str]]:
    from melt_spark.plans.registry import all_named
    from melt_spark.session import get_spark

    spark = get_spark("plan-lint")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    targets = all_named()

    # disable size-based broadcasts while planning: fixture-scale stats
    # make Catalyst broadcast whole fact tables (correct at 500 rows,
    # gone at 100 TB). With the threshold off, any surviving
    # BroadcastExchange is hint-forced or structurally required — the
    # non-adaptive shapes the broadcast rule is after.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    out: dict[str, list[str]] = {}
    try:
        for name in sorted(targets):
            try:
                df = targets[name](spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(mode)
            except Exception as exc:  # streaming-only shapes etc.
                out[name] = [f"UNPLANNABLE: {type(exc).__name__}: {exc}"]
                continue
            hits = lint_plan(plan)
            if hits:
                out[name] = hits
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    bad = lint_all(sf_dir)
    for name, hits in sorted(bad.items()):
        for h in hits:
            print(f"{name}: {h}")
    if bad:
        print(f"\n{len(bad)} queries with single-reducer hazards")
        sys.exit(1)
    print("plan lint clean: no unbounded SinglePartition exchanges")


if __name__ == "__main__":
    main()
