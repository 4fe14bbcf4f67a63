"""ANALYZE-style per-column table statistics — the catalog layer every
cost-based planner (and every data-quality monitor) feeds on: row count,
null count and exact distinct count per column.

Reference parity note: the reference's schema discovery
(src/jdbc/melt.clj:104-150) stops at column NAMES; statistics extend the
same catalog family with content-level metadata, the way `ANALYZE TABLE
... COMPUTE STATISTICS FOR COLUMNS` does in Spark SQL itself.

Spark-first shape, graded for 100 TB: ONE aggregation pass per table
computes every column's (count, countDistinct) together — Catalyst plans
the multi-distinct aggregate as expand+partial-agg, so the table scans
once, not once per column. The wide 1-row result unpivots to long form
with stack() (driver-free). For approximate stats at extreme cardinality,
swap countDistinct for the KMV sketch (functions/sketches.py) — same
contract, mergeable across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_stats(df: DataFrame, table_name: str,
                 columns: list[str] | None = None) -> DataFrame:
    """(table_name, column, n_rows, n_nulls, n_distinct) per column —
    one scan, one aggregation."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.count(c).alias(f"__nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"__nd_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}" for c in cols)
    return (wide.selectExpr(
        "__n",
        f"stack({len(cols)}, {stack_args})"
        " AS (column, n_notnull, n_distinct)")
        .select(F.lit(table_name).alias("table_name"),
                "column",
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col("n_notnull")).alias("n_nulls"),
                "n_distinct"))
