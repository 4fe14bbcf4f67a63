"""Session defaults: the builder-only PySpark flag, and tune_session's
record of defaults it could not apply."""

import logging

from melt_spark import session


def test_get_spark_turns_dataframe_debugging_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_tune_session_logs_and_records_a_failed_key(spark, monkeypatch,
                                                    caplog):
    bad = "spark.sql.adaptive.skewJoin.enabled"
    applied = {}

    def fake_set(key, value):
        if key == bad:
            raise RuntimeError("cannot modify the value of a static config")
        applied[key] = value  # recorded only: the shared session is untouched

    monkeypatch.setattr(spark.conf, "set", fake_set)
    monkeypatch.setattr(session, "FAILED_CONFS",
                        {"spark.sql.session.timeZone": "stale"})
    with caplog.at_level(logging.WARNING, logger="melt_spark.session"):
        assert session.tune_session(spark) is spark

    assert set(session.FAILED_CONFS) == {bad}
    assert "cannot modify" in session.FAILED_CONFS[bad]
    assert [r for r in caplog.records if bad in r.getMessage()]
    want = {k for k in session._DEFAULTS if k.startswith("spark.sql.")}
    assert set(applied) == want - {bad}
