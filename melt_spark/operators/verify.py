"""Verify / monitor — eventual-consistency check with retries, then repair.

Reference verify / verify-sync (src/jdbc/melt.clj:525-571): re-diff up to
`retries` times sleeping `retry-delay-sec` between attempts (tolerating
replication latency); verify-sync, on exhaustion, syncs once and re-verifies
once. The incremental-refresh optimization: each attempt re-reads only the
topic delta past saved offsets (melt.clj:511-523).

Spark restatement: a driver-side loop around the one-shuffle diff — the loop
is control flow, the data never visits the driver. Sources of both sides are
injected as thunks so tests drive it with deterministic state transitions and
production wires JDBC + Kafka reads in.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame

from .diff import diff, diff_matches, deleted_keys
from .sync import sync_plan, sync_count


@dataclass
class VerifyResult:
    matches: bool
    attempts: int
    synced: bool = False
    sync_count: int = 0


def verify(source_fn: Callable[[], DataFrame],
           topic_fn: Callable[[], DataFrame],
           retries: int = 0,
           retry_delay_sec: float = 1.0,
           sleep: Callable[[float], None] = time.sleep) -> VerifyResult:
    """Read-only verify (melt.clj:535-546): diff until clean or retries
    exhausted. Each attempt re-invokes the thunks (fresh DB snapshot;
    topic_fn should implement incremental refresh internally)."""
    attempts = 0
    while True:
        attempts += 1
        if diff_matches(diff(source_fn(), topic_fn())):
            return VerifyResult(matches=True, attempts=attempts)
        if attempts > retries:
            return VerifyResult(matches=False, attempts=attempts)
        sleep(retry_delay_sec)


def verify_sync(source_fn: Callable[[], DataFrame],
                topic_fn: Callable[[], DataFrame],
                send_fn: Callable[[DataFrame], None],
                retries: int = 0,
                retry_delay_sec: float = 1.0,
                sleep: Callable[[float], None] = time.sleep) -> VerifyResult:
    """verify-sync (melt.clj:548-571): on verify failure, send the repair
    batch (upserts + tombstones) once, then ONE post-sync re-verify. The
    reported count and send_fn read the same pinned batch (sync_plan)."""
    res = verify(source_fn, topic_fn, retries, retry_delay_sec, sleep)
    if res.matches:
        return res
    d = diff(source_fn(), topic_fn())
    repair = sync_plan(d)
    n = sync_count(repair)
    send_fn(repair)
    post = verify(source_fn, topic_fn, retries=0, sleep=sleep)
    return VerifyResult(matches=post.matches, attempts=res.attempts + 1,
                        synced=True, sync_count=n)
