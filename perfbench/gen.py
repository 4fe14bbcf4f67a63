"""Seeded input generators for the benchmark workloads (Spark-free).

Every generator takes the workload seed, writes parquet files under a
directory the caller owns and returns a plain dict of sizes and the exact
counts the benchmark later checks against. The same seed gives
byte-identical files and an identical dict; melt_spark only ever sees the
generated files.

Sync workloads share one keyed table shape, chosen to cover what the
canonical JSON encoder must get right: a timestamp, a decimal, a nullable
string and strings that need JSON escaping.
"""

from __future__ import annotations

import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SYNC_SCHEMA = pa.schema([
    ("id", pa.int64()),
    ("updated_at", pa.timestamp("us", tz="UTC")),
    ("amount", pa.decimal128(12, 2)),
    ("note", pa.string()),
    ("payload", pa.string()),
])

# Fragments that force escaping in canonical JSON: quotes, backslashes,
# control characters and non-ASCII text.
_ESCAPES = ('say "hi"', "C:\\tmp\\x", "line1\nline2", "tab\there",
            "ünïcödé 漢字", "</script>", "emoji \U0001F600", "ctl \x01 end")
_EPOCH_US = 1_600_000_000_000_000
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _mix(ids: np.ndarray, seed: int, version: int, salt: int) -> np.ndarray:
    """splitmix64 of (seed, id, version, salt): a per-row random draw that
    does not depend on which other rows are generated with it."""
    lane = (seed * 1_000_003 + version * 7_919 + salt) & (2**64 - 1)
    x = ids.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    x ^= np.uint64(lane)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def sync_rows(ids: np.ndarray, version: int, seed: int) -> pa.Table:
    """Rows of the keyed table for `ids` at `version`; each (seed, id,
    version) always yields the same row."""
    ids = np.asarray(ids, dtype=np.int64)
    cents = (_mix(ids, seed, version, 1) % np.uint64(10_010_000_00)
             ).astype(np.int64) - 10_000_00
    frag = _mix(ids, seed, version, 2) % np.uint64(len(_ESCAPES))
    null_note = _mix(ids, seed, version, 3) % np.uint64(5) == 0
    ts = _EPOCH_US + ids * 1_000_003 + version * _DAY_US
    notes = [None if nul else f"v{version} note {i % 97}"
             for i, nul in zip(ids.tolist(), null_note.tolist())]
    payload = [f"{_ESCAPES[f]} #{i}-{version}"
               for i, f in zip(ids.tolist(), frag.tolist())]
    return pa.table([
        pa.array(ids, pa.int64()),
        pa.array(ts, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        pa.array([Decimal(c).scaleb(-2) for c in cents.tolist()],
                 pa.decimal128(12, 2)),
        pa.array(notes, pa.string()),
        pa.array(payload, pa.string()),
    ], schema=SYNC_SCHEMA)


CDC_SCHEMA = SYNC_SCHEMA.append(
    pa.field("sys_change_operation", pa.string())).append(
    pa.field("sys_change_version", pa.int64()))


def cdc_changes(seed: int, live: np.ndarray, ticks: int, per_tick: int,
                out_dir: str) -> dict:
    """CHANGETABLE-shaped batches, one file per tick, against a table whose
    live keys are `live`: per tick 70% updates and 10% deletes of distinct
    live keys and 20% inserts of new keys. Versions increase across the
    whole sequence; a deleted row carries only its key."""
    rng = np.random.default_rng([seed, 7])
    n_upd, n_ins = per_tick * 70 // 100, per_tick * 20 // 100
    n_del = per_tick - n_upd - n_ins
    next_id = int(live.max()) + 1 if live.size else 0
    version = 0
    files = []
    for tick in range(ticks):
        pick = rng.choice(live.size, n_upd + n_del, replace=False)
        upd, dele = live[pick[:n_upd]], live[pick[n_upd:]]
        ins = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        live = np.union1d(np.setdiff1d(live, dele), ins)
        kept = sync_rows(np.concatenate([upd, ins]), 10 + tick, seed)
        gone = pa.table([pa.array(dele, pa.int64())]
                        + [pa.nulls(dele.size, f.type)
                           for f in list(SYNC_SCHEMA)[1:]], schema=SYNC_SCHEMA)
        rows = pa.concat_tables([kept, gone])
        ops = ["U"] * n_upd + ["I"] * n_ins + ["D"] * n_del
        order = rng.permutation(per_tick)
        versions = np.empty(per_tick, np.int64)
        versions[order] = version + 1 + np.arange(per_tick)
        version += per_tick
        rows = rows.append_column(CDC_SCHEMA.field("sys_change_operation"),
                                  pa.array(ops, pa.string()))
        rows = rows.append_column(CDC_SCHEMA.field("sys_change_version"),
                                  pa.array(versions, pa.int64()))
        rows = rows.take(pa.array(np.argsort(versions)))
        name = f"cdc_{tick:03d}"
        _write(rows, os.path.join(out_dir, f"{name}.parquet"))
        files.append(name)
    return {"cdc_ticks": ticks, "cdc_changes_per_tick": per_tick,
            "cdc_tables": files, "expected_live_after_cdc": int(live.size)}


def resync(seed: int, keys: int, out_dir: str, cdc_ticks: int = 0,
           cdc_per_tick: int = 0) -> dict:
    """A table of `keys` keys and the topic batches that put a drifted copy
    of it in a topic, two versions per key; with `cdc_ticks`, also the
    change batches a CDC tail replays onto the repaired topic.

    Drift classes (disjoint key sets):
      missing    -- in the table, never published;
      stale      -- the topic's latest value is an older version;
      ghost      -- in the topic, deleted from the table;
      tombstoned -- the topic's latest record is a tombstone, the table
                    still has the row.
    Every drifted key needs exactly one repair message, so the expected
    repair batch is the sum of the four classes.
    """
    rng = np.random.default_rng(seed)
    perm = rng.permutation(keys).astype(np.int64)
    sizes = {"missing": keys * 2 // 100, "stale": keys * 2 // 100,
             "ghost": keys // 100, "tombstoned": keys // 100}
    cls, at = {}, 0
    for name, n in sizes.items():
        cls[name] = np.sort(perm[at:at + n])
        at += n
    in_sync = np.sort(perm[at:])
    published = np.sort(np.setdiff1d(perm, cls["missing"]))
    table_ids = np.sort(np.setdiff1d(perm, cls["ghost"]))
    current = np.sort(np.concatenate([in_sync, cls["ghost"]]))
    files = {
        "table": _write(sync_rows(table_ids, 2, seed),
                        os.path.join(out_dir, "table.parquet")),
        # first topic version of every published key
        "topic_v1": _write(sync_rows(published, 1, seed),
                           os.path.join(out_dir, "topic_v1.parquet")),
        # second version: current rows, plus ghosts' last value
        "topic_v2": _write(sync_rows(current, 2, seed),
                           os.path.join(out_dir, "topic_v2.parquet")),
        # stale keys get a second version that the table has moved past
        "topic_stale": _write(sync_rows(cls["stale"], 3, seed),
                              os.path.join(out_dir, "topic_stale.parquet")),
        # tombstoned keys: only the key matters
        "topic_tombstones": _write(
            sync_rows(cls["tombstoned"], 2, seed),
            os.path.join(out_dir, "topic_tombstones.parquet")),
    }
    drift = sum(sizes.values())
    cdc = cdc_changes(seed, table_ids, cdc_ticks, cdc_per_tick, out_dir)
    return {"keys": keys, **{f"{k}_keys": v for k, v in sizes.items()},
            **cdc,
            **files, "topic_records": int(published.size + current.size
                                          + cls["stale"].size
                                          + cls["tombstoned"].size),
            "expected_drift": drift,
            "expected_upserts": drift - sizes["ghost"],
            "expected_tombstones": sizes["ghost"],
            "expected_state": int(table_ids.size)}


# ---------------------------------------------------------------------------
# analytics fixture: the TPC-H-like star schema + events, documents and
# embeddings tables the headline plans read, with the column types and
# value domains of the repository's sf fixtures.

_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_WORDS = ("large small hot cold red blue steel brass ring bolt nut "
               "gear pipe valve spring plate").split()
_LANGS = ["en", "de", "es", "fr", "zh"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array((base + d).astype("datetime64[us]"))


def _strs(fmt: str, ids: np.ndarray) -> list[str]:
    return [fmt.format(int(i)) for i in ids]


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 42])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(50_000 * sf)
    n_users = max(n_cust // 10, 10)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": _strs("NATION_{}", np.arange(25)),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    ck = np.arange(n_cust)
    customer = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strs("Customer#{:09d}", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    supplier = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strs("Supplier#{:09d}", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    pw = rng.integers(0, len(_PART_WORDS), (n_part, 2))
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in pw],
        "p_brand": _strs("Brand#{}", rng.integers(1, 26, n_part)),
        "p_type": [_PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 2)})
    ok = np.arange(n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_us.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(20.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    # 10-99 words per document; 5% of the documents are another
    # document's text plus " dup" (the near-duplicates LSH must find)
    texts = [" ".join(_WORDS[w] for w in
                      rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(
            len(_LANGS), n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": _strs("src{}", np.arange(n_doc) % 20),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    # unit vectors in random directions: the labels carry no cluster
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events, "documents": documents,
            "embeddings": embeddings}


def analytics_fixture(seed: int, sf: float, out_dir: str) -> dict:
    """Write the ten fixture tables as `<out_dir>/<name>.parquet`."""
    rows = {}
    for name, table in fixture_tables(seed, sf).items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"sf": sf, "dir": out_dir, "rows": rows}
