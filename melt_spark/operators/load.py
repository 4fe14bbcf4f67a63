"""Initial load — the §3.1 lifecycle as one narrow plan per source.

Reference do-load (src/jdbc/melt.clj:456-465): per source, query rows →
message → xform → async send with a bounded channel → flush barrier →
per-topic counts logged (golden counts, melt_test.clj:41-56).

Spark restatement: scan → Source.messages() (transforms applied — SAME
pipeline diff uses) → sink. Backpressure, async batching and the flush
barrier are the Kafka sink's own semantics; counts come from one aggregate
on the sunk frame.
"""

from __future__ import annotations

import logging
from typing import Callable, Iterable, TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .messages import validate_messages

if TYPE_CHECKING:
    from ..model import Source

log = logging.getLogger("melt_spark.load")


def load_sources(sources: Iterable["Source"],
                 read_fn: Callable[["Source"], DataFrame],
                 send_fn: Callable[[DataFrame], None],
                 validate: bool = True) -> dict[str, int]:
    """Load every source; returns {topic: messages sent} (the reference's
    per-table load counts). read_fn abstracts the scan (JDBC/parquet);
    send_fn the sink (Kafka batch write / test collector)."""
    counts: dict[str, int] = {}
    for source in sources:
        log.info("load start %s", source.full_name)        # melt.clj:448-450
        msgs = source.messages(read_fn(source))
        if validate:
            # after transforms EVERY message needs topic+key (keyless
            # sources must have supplied one via a transform — the
            # reference's spec-assert fails there too, melt.clj:28)
            if not validate_messages(msgs, keyed=True).isEmpty():
                raise ValueError(
                    f"{source.full_name}: message constraint violated "
                    f"(null topic/key) — reference spec-assert, melt.clj:28")
        send_fn(msgs)
        for row in msgs.groupBy("topic").agg(
                F.count(F.lit(1)).alias("n")).collect():
            counts[row["topic"]] = counts.get(row["topic"], 0) + row["n"]
        log.info("load finish %s", source.full_name)       # melt.clj:452-454
    return counts
