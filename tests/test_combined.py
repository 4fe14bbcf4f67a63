"""merged(): one select-list per branch, run by both Spark and DuckDB."""

from __future__ import annotations

import duckdb
import pytest

from melt_spark.plans.combined import merged

BASE_SQL = ("SELECT * FROM (VALUES (1, 'a', 0.5), (2, NULL, 1.5))"
            " AS t(id, note, score)")


def _base(spark, _sf_dir):
    return spark.createDataFrame([(1, "a", 0.5), (2, None, 1.5)],
                                 "id bigint, note string, score double")


def _both(entry, spark):
    run, sql = entry
    got = sorted(tuple(r) for r in run(spark, None).collect())
    want = sorted(duckdb.sql(sql).fetchall())
    return got, want


def test_null_concat_is_identical_on_both_engines(spark):
    entry = merged(((_base, BASE_SQL),
                    ["'notes' AS kind", "CAST(id AS STRING) AS key",
                     "CAST(id AS STRING) || ':' || note AS val"]))
    got, want = _both(entry, spark)
    assert got == want == [("notes", "1", "1:a"), ("notes", "2", None)]


def test_unpivot_rows_are_identical_on_both_engines(spark):
    entry = merged(
        ((_base, BASE_SQL), ["'score' AS kind", "id", "score AS v"]),
        ((_base, BASE_SQL),
         [["'id' AS kind", "id", "CAST(id AS DOUBLE) AS v"],
          ["'twice' AS kind", "id", "CAST(2 * id AS DOUBLE) AS v"]]))
    got, want = _both(entry, spark)
    assert got == want
    assert len(got) == 6


def test_stringified_double_is_rejected(spark):
    run, _sql = merged(((_base, BASE_SQL),
                        ["'bad' AS kind", "CAST(score AS STRING) AS key"]))
    with pytest.raises(ValueError, match="stringifies a double"):
        run(spark, None)


def test_null_numeric_is_rejected(spark):
    run, _sql = merged(((_base, BASE_SQL),
                        ["'bad' AS kind", "CAST(NULL AS BIGINT) AS n"]))
    with pytest.raises(ValueError, match="nullable numeric"):
        run(spark, None)


def test_branches_must_share_the_tag_column():
    with pytest.raises(ValueError, match="tag column"):
        merged(((_base, BASE_SQL), ["'a' AS kind", "id"]),
               ((_base, BASE_SQL), ["'b' AS tag", "id"]))
