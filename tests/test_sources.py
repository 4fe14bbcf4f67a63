"""Sources: changelog fixtures, JDBC query building, Kafka offset
bookkeeping, sampling."""

import json
import os
import uuid

from melt_spark.model import Source
from melt_spark.operators.sample import sample_db, sample_table
from melt_spark.sources.changelog import cdc_changes_from_events, events_changelog
from melt_spark.sources.jdbc import (information_schema_queries,
                                     scan_bounds_query, table_query)
from melt_spark.sources.kafka import refresh_offsets_json
from melt_spark.sources.parquet import read_table


def test_events_changelog_envelope(spark, sf_dir):
    log = events_changelog(read_table(spark, sf_dir, "events"))
    assert log.columns == ["topic", "partition", "offset", "timestamp",
                           "key", "value"]
    sample = log.orderBy("offset").limit(50).collect()
    assert all(r["topic"].startswith("melt.main.users_") for r in sample)
    assert all(r["key"].startswith('{"user_id":') for r in sample)
    # tombstones exist and are exactly the error events
    n_tomb = log.filter("value IS NULL").count()
    ev = read_table(spark, sf_dir, "events")
    assert n_tomb == ev.filter("event_type = 'error'").count()


def test_cdc_changes_shape(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    cust = read_table(spark, sf_dir, "customer")
    ch = cdc_changes_from_events(ev, cust)
    assert "sys_change_version" in ch.columns
    # deletes have NULL current values (left-join-miss semantics)
    d = ch.filter("sys_change_operation = 'D'").limit(5).collect()
    assert d and all(r["c_name"] is None for r in d)
    u = ch.filter("sys_change_operation = 'U'").limit(5).collect()
    assert u and all(r["c_name"] is not None for r in u)


def test_jdbc_query_building():
    s = Source(name="Address", schema="SalesLT", keys=("addressid",))
    assert table_query(s) == "Select * From [SalesLT].[Address]"
    custom = Source(name="x", schema="s",
                    sql="Select * From t Where id In (9,11)")
    assert table_query(custom) == "Select * From t Where id In (9,11)"
    assert "min([addressid])" in scan_bounds_query(s, "addressid")
    qs = information_schema_queries()
    assert set(qs) == {"tables", "columns", "key_columns"}


def test_refresh_offsets_json():
    wm = [{"topic": "t", "partition": 0, "max_offset": 41},
          {"topic": "t", "partition": 1, "max_offset": 9},
          {"topic": "u", "partition": 0, "max_offset": 0}]
    out = json.loads(refresh_offsets_json(wm))
    # startingOffsets are inclusive → resume at max+1
    assert out == {"t": {"0": 42, "1": 10}, "u": {"0": 1}}


def test_sample_table_and_db(spark, sf_dir, tmp_path):
    cust = read_table(spark, sf_dir, "customer")
    sample, total = sample_table(cust, n=10, order_by="c_custkey")
    assert sample.count() == 10 and total == cust.count()

    paths = sample_db({"customer": cust.limit(3)}, str(tmp_path), n=2)
    assert len(paths) == 1 and os.path.exists(paths[0])
    with open(paths[0]) as f:
        doc = json.load(f)
    assert doc["count"] == 3 and len(doc["sample"]) == 2


def _jobs_during(spark, fn):
    """Spark job ids started while fn() runs (status store, UI off)."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_read_table_reuses_schema_without_a_job(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"a": [1, 2, 3]}), str(tmp_path / "t.parquet"))
    first = _jobs_during(spark, lambda: read_table(spark, str(tmp_path), "t"))
    again = _jobs_during(spark, lambda: read_table(spark, str(tmp_path), "t"))
    assert len(first) == 1 and again == []  # the inference job, once
    assert read_table(spark, str(tmp_path), "t").count() == 3


def test_read_table_schema_follows_a_rewrite(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_table(spark, str(tmp_path), "t")
    assert df.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]
