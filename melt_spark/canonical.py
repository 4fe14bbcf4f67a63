"""Canonical JSON form — melt's equality semantics, as Spark expressions.

The reference never compares JDBC values to Kafka-JSON values directly; both
sides go through a lossy JSON round-trip (lossy-identity = read-str ∘
write-str, reference src/jdbc/melt.clj:359-390): timestamps become ISO-8601
UTC strings, BigDecimals become numbers, and message KEYS are serialized with
sorted map keys so logically-equal keys are byte-identical
(melt.clj:359-362,375; serdes.clj:38-41).

Spark-first restatement: canonical form is `to_json(struct(<sorted cols>))`
with null fields KEPT (a null column is part of the row identity — the
reference's JSON encodes nil fields) and timestamps rendered ISO-8601 UTC
(session timezone must be UTC — melt_spark.session pins it). Equality in
canonical space is plain string equality, so diff becomes a join — one
shuffle, no driver-side maps, works at 100 TB.

All expressions here are built-in Catalyst expressions (whole-stage codegen,
no Python UDFs on the hot path).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Golden outputs in the reference render timestamps at second precision with a
# literal Z ("2007-08-01T00:00:00Z", integration_test.clj:68). Sub-second data
# would alias under that; we default to millisecond precision and expose the
# parity format for golden comparisons.
#
# INTEROP WARNING (wire-format parity): key/value bytes written with the
# ISO_MILLIS default will NOT byte-match a topic produced by the reference
# tool — its wire format is second precision. Compaction identity in a mixed
# migration (reference-written topic + this engine's producer) then breaks:
# the "same" key serializes differently. Migrating a reference-written topic
# requires ts_format=ISO_SECONDS END-TO-END — set Source(ts_format=
# ISO_SECONDS) and every encode path of that source (load, diff, verify, CDC)
# uses it, because they all route through Source.messages()/replay_changes().
ISO_MILLIS = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
ISO_SECONDS = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# timestampNTZFormat matters too: parquet timestamps without UTC adjustment
# arrive as TIMESTAMP_NTZ, which to_json formats with a DIFFERENT option
# (default drops the trailing Z — silent canonical-form divergence)
_JSON_OPTS = {"ignoreNullFields": "false", "timestampFormat": ISO_MILLIS,
              "timestampNTZFormat": ISO_MILLIS, "dateFormat": "yyyy-MM-dd"}


def iso_utc(col: Column | str, fmt: str = ISO_MILLIS) -> Column:
    """Render a timestamp column as ISO-8601 UTC text (SURVEY.md §2.8/F8)."""
    return F.date_format(col, fmt)


def sorted_cols(names: Iterable[str]) -> list[str]:
    """Deterministic field order for canonical structs (melt.clj:359-362)."""
    return sorted(names)


def canonical_struct(names: Iterable[str]) -> Column:
    return F.struct(*[F.col(c).alias(c) for c in sorted_cols(names)])


def canonical_json(names: Iterable[str], ts_format: str = ISO_MILLIS) -> Column:
    """Canonical JSON text for the given columns: sorted field order, null
    fields kept, ISO-8601 UTC timestamps. String equality on this column is
    the reference's lossy-space row equality (melt.clj:380-390)."""
    opts = dict(_JSON_OPTS)
    opts["timestampFormat"] = ts_format
    opts["timestampNTZFormat"] = ts_format
    return F.to_json(canonical_struct(names), opts)


def canonical_key(key_names: Sequence[str], ts_format: str = ISO_MILLIS) -> Column:
    """Canonical Kafka key bytes: the PK sub-map serialized with sorted keys
    (write-key, melt.clj:375; serdes.clj:38-41)."""
    if not key_names:
        raise ValueError("canonical_key requires at least one key column")
    return canonical_json(key_names, ts_format)


def with_canonical(df: DataFrame, out: str = "__canon",
                   cols: Sequence[str] | None = None) -> DataFrame:
    """Attach the canonical-JSON column for (a subset of) df's columns."""
    names = list(cols) if cols else list(df.columns)
    return df.withColumn(out, canonical_json(names))


def canonical_json_nested(col: Column | str) -> Column:
    """Canonical JSON for NESTED values (maps/structs/arrays created by user
    transforms): keys sorted recursively at every level, the deep analogue
    of the reference's top-level ensure-sorted (melt.clj:359-362).

    Arrow-batched pandas UDF — the documented slow path; use only when a
    transform actually produces nested maps (flat rows stay on
    canonical_json, pure Catalyst). Self-consistent rendering: both sides
    of a diff must go through THIS function."""
    import datetime
    import json

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _default(o):
        if isinstance(o, (datetime.datetime,)):
            return o.strftime("%Y-%m-%dT%H:%M:%S.") + f"{o.microsecond // 1000:03d}Z"
        if isinstance(o, (datetime.date,)):
            return o.isoformat()
        if isinstance(o, (bytes, bytearray)):
            return o.hex()
        raise TypeError(type(o).__name__)

    # NB: no pd.Series type hints — `from __future__ import annotations`
    # stringifies them and pyspark's hint inference rejects that
    def _render(s):
        def enc(v):
            if v is None:
                return None
            if hasattr(v, "asDict"):
                v = v.asDict(recursive=True)
            return json.dumps(v, sort_keys=True, separators=(",", ":"),
                              default=_default)
        return s.map(enc)

    _render.__annotations__ = {"s": pd.Series, "return": pd.Series}
    render = pandas_udf(_render, "string")
    return render(F.col(col) if isinstance(col, str) else col)
