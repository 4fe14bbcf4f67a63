"""The one measurement path of tools/: query names resolve through the
registry, bench_some.measure reads its counters from Spark's status store
with the UI off, and ab.py summarizes alternating pairs."""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))


def test_every_scale_probe_name_resolves():
    import scale_probe

    plans = scale_probe.probe_plans()
    missing = [n for n in scale_probe.PROBES if n not in plans]
    assert not missing, missing
    for name in scale_probe.PROBES:
        assert callable(plans[name])


def test_measure_reads_jobs_and_shuffle_with_the_ui_off(spark):
    from bench_some import measure

    assert spark.sparkContext.uiWebUrl is None

    def q(spark, _sf_dir):
        return (spark.range(0, 20_000, 1, 4)
                .groupBy((F.col("id") % 97).alias("k")).count())

    m = measure(spark, q, "unused", runs=2)
    assert m["exec"]["jobs"] >= 1
    assert m["exec"]["tasks"] >= 1
    assert m["exec"]["shuffle_write_bytes"] > 0
    assert m["construct"]["jobs"] == 0
    assert len(m["construct_s"]) == len(m["exec_s"]) == len(m["runs"]) == 2
    assert all(s >= 0 for s in m["construct_s"])
    assert all(s > 0 for s in m["exec_s"])
    assert m["min"] == min(m["runs"])
    assert m["plan_bytes"] > 0 and m["explain_s"] >= 0
    # a second call counts only its own jobs, not the first call's too
    again = measure(spark, q, "unused", runs=1)
    assert again["exec"] == m["exec"]


def test_ab_pair_summary():
    from ab import side_summary

    before = [2.0, 1.0, 4.0, 3.0]
    after = [1.0, 1.0, 5.0, 2.0]
    b = side_summary(before, after)
    a = side_summary(after, before)
    assert b == {"runs": before, "median": 2.5, "q1": 1.75, "q3": 3.25,
                 "won": 1}
    # pair 2 is a tie: it counts for neither side
    assert a == {"runs": after, "median": 1.5, "q1": 1.0, "q3": 2.75,
                 "won": 2}
    one = side_summary([3.0], [3.0])
    assert one == {"runs": [3.0], "median": 3.0, "q1": 3.0, "q3": 3.0,
                   "won": 0}
