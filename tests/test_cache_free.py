"""No process-wide caches under melt_spark/.

A ``.cache()``/``.persist()`` entry lives in Spark's CacheManager for the
whole session and is matched by logical plan, so a later read of the same
path is served the cached rows even after the file was rewritten. Shared
intermediates are pinned per call with ``localCheckpoint`` instead (the
rule ``operators/sync.py`` documents for ``sync_plan``).
"""

from __future__ import annotations

import re
from pathlib import Path

import pandas as pd

from melt_spark.functions.dedup import minhash_dedup_pairs
from melt_spark.sources.parquet import read_table

PKG = Path(__file__).resolve().parent.parent / "melt_spark"

TWIN = "alpha beta gamma delta epsilon zeta eta theta"


def _write_docs(sf_dir: Path, texts: list[str]) -> None:
    pd.DataFrame({"doc_id": range(len(texts)), "text": texts}).to_parquet(
        sf_dir / "documents.parquet", index=False)


def _pairs(spark, sf_dir: Path) -> list[tuple[int, int]]:
    docs = read_table(spark, str(sf_dir), "documents")
    return sorted((r.doc_a, r.doc_b)
                  for r in minhash_dedup_pairs(docs, threshold=0.5).collect())


def test_minhash_pairs_follow_a_rewrite_under_the_same_path(spark, tmp_path):
    """The second call must see the rewritten file, not the first call's
    rows (a cached digest set used to be served back)."""
    _write_docs(tmp_path, [TWIN, TWIN, "one two three four five six seven"])
    assert _pairs(spark, tmp_path) == [(0, 1)]
    _write_docs(tmp_path, ["one two three four five six seven eight nine",
                           TWIN, TWIN, TWIN])
    assert _pairs(spark, tmp_path) == [(1, 2), (1, 3), (2, 3)]


def test_no_process_wide_cache_in_the_package():
    pattern = re.compile(r"\.cache\(\)|\.persist\(")
    hits = [f"{p.relative_to(PKG.parent)}:{i}"
            for p in sorted(PKG.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert not hits, f"use a call-scoped localCheckpoint instead: {hits}"
