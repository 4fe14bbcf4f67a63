"""The bench artifact contract (round-5 verdict item #1).

Round 5's bench line — 84 queries, raw runs, constituent blocks — grew
past the driver's bounded stdout tail capture, and BENCH_r05.json came
back `parsed: null`: a green round whose bench signal was lost. The
contract now is ONE compact stdout line (headline + the 13 per-headliner
seconds) with everything else in docs/BENCH_DETAIL.json. These tests pin
the line's byte budget at its worst case and the registry binding of the
extended groups, without starting Spark.
"""

from __future__ import annotations

import json

import bench


def test_compact_line_fits_budget_worst_case():
    # worst case: every headliner present with a wide timing value, sf a
    # long string, errors present, the box-normalized headline present,
    # and the r12 no-retry lineage total present
    timings = {name: 12345.678 for name, _fn in bench.BENCH_QUERIES}
    line = bench.compact_line(99999.999, "0.001", timings, n_errors=99,
                              box_norm=88888.888,
                              total_no_retry=99999.999)
    n = len(line.encode())
    assert n <= bench.MAX_STDOUT_BYTES, f"{n}B > {bench.MAX_STDOUT_BYTES}B"
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 99999.999
    assert parsed["value_no_retry"] == 99999.999
    assert parsed["value_box_normalized"] == 88888.888
    assert set(parsed["queries"]) == {n for n, _ in bench.BENCH_QUERIES}


def test_compact_line_and_detail_carry_retry_lineage():
    """r11 verdict #6: the canary-gated retry takes min(original, retry)
    — downward-biased by construction — so the compact line must always
    carry the PRE-RETRY total beside the headline, and so must the
    detail."""
    timings = {name: 1.0 for name, _fn in bench.BENCH_QUERIES}
    line = bench.compact_line(13.0, 0.1, timings, n_errors=0,
                              total_no_retry=14.5)
    parsed = json.loads(line)
    assert parsed["value_no_retry"] == 14.5
    src = open(bench.__file__).read()
    for key in ('"value_no_retry"', "timings_no_retry"):
        assert key in src, f"bench lost retry lineage {key}"


def test_compact_line_is_single_line_json():
    timings = {name: 1.0 for name, _fn in bench.BENCH_QUERIES}
    line = bench.compact_line(13.0, 0.1, timings, n_errors=0)
    assert "\n" not in line
    assert json.loads(line)["queries"]["tpch_q1"] == 1.0


def test_extended_groups_resolve_via_registry():
    # a renamed constituent must fail LOUDLY here, not silently drop out
    # of the bench surface (round-5 verdict item #8)
    ext = bench.extended_queries()
    names = [n for n, _ in ext]
    assert len(names) == len(set(names)), "duplicate bench names"
    for _name, fn in ext:
        assert callable(fn)
    # the three non-registry wrappers stay on the surface
    for extra in ("udtf_envelope", "stream_broker_sync", "stream_enriched"):
        assert extra in names


def test_constituent_groups_resolve_via_registry():
    from melt_spark.plans.registry import constituents

    reg = constituents()
    for entry, names in bench.CONSTITUENT_GROUPS.items():
        for n in names:
            assert n in reg, f"{entry}: {n} not in registry"


def test_canary_flags_contended_block():
    """r8 verdict What's-wrong #2: a ~170 s contention window inflated a
    contiguous measurement block 9-28x and the artifact recorded it as a
    regression. The canary series must flag exactly the measurements
    whose enclosing canary readings show a >3x excursion."""
    canaries = [{"seq": 0, "sec": 0.5}, {"seq": 10, "sec": 0.5},
                {"seq": 20, "sec": 5.0},   # excursion: block 10..29 bad
                {"seq": 30, "sec": 0.5}, {"seq": 40, "sec": 0.5}]
    name_seqs = [(f"q{i}", i) for i in range(40)]
    med, contended = bench.contended_names(canaries, name_seqs)
    assert med == 0.5
    assert contended == [f"q{i}" for i in range(10, 30)]
    # quiet series -> nothing flagged
    quiet = [{"seq": s, "sec": 0.5} for s in (0, 10, 20)]
    med, contended = bench.contended_names(quiet, name_seqs)
    assert (med, contended) == (0.5, [])
    # empty series is safe
    assert bench.contended_names([], name_seqs) == (0.0, [])


def test_detail_contract_carries_canary_keys():
    """The detail artifact's canary block is part of the bench contract:
    bench.main() writes query/every/factor/median_sec/series/contended.
    Pinned here statically (no Spark) via the constants it derives from."""
    assert bench.CANARY_EVERY >= 1
    assert bench.CANARY_FACTOR > 1.0
    assert bench.CANARY_SF_DIR.endswith("sf0.001")
    src = open(bench.__file__).read()
    for key in ('"median_sec"', '"series"', '"contended"', '"canary"'):
        assert key in src, f"detail artifact lost canary key {key}"


def test_detail_path_round_stamped(monkeypatch):
    """SPARK_GRAFT_ROUND=N routes the detail artifact to a round-stamped
    file so driver/judge re-runs stop clobbering the round-close working
    tree (r7 verdict item #6)."""
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "8")
    assert bench.detail_name() == "BENCH_DETAIL_r8.json"
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "  ")
    assert bench.detail_name() == "BENCH_DETAIL.json"
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    assert bench.detail_name() == "BENCH_DETAIL.json"


def test_detail_contract_carries_box_keys():
    """The detail artifact must carry BOTH the raw and the box-normalized
    headline plus the committed baseline (r9 verdict fix: 'assert in
    test_bench_contract.py that the detail carries both')."""
    src = open(bench.__file__).read()
    for key in ('"value"', '"value_box_normalized"', '"mini_baseline"'):
        assert key in src, f"detail artifact lost box key {key}"


def test_box_normalized_mini_pure_function():
    """r10 verdict next-round #1b: the JVM-loop geomean normalization
    spread 23.2-40.5 s for identical code across three boxes, because
    per-query fixed costs don't scale with core speed. The
    workload-matched mini-headliner ratio replaces it as the published
    value_box_normalized; same degradation contract (None, never a
    fabricated number)."""
    assert bench.MINI_BASELINE["mini_sec"] > 0
    # reading the anchor box exactly -> identity
    assert bench.box_normalized_mini(10.0, dict(bench.MINI_BASELINE)) \
        == 10.0
    # a box whose mini-headliner reads 2x slower halves its raw total
    slow = {"mini_sec": bench.MINI_BASELINE["mini_sec"] * 2}
    assert bench.box_normalized_mini(20.0, slow) == 10.0
    # missing / zero / malformed reading -> None, raw value stands
    assert bench.box_normalized_mini(10.0, {}) is None
    assert bench.box_normalized_mini(10.0, {"mini_sec": 0.0}) is None
    assert bench.box_normalized_mini(10.0, None) is None


def test_detail_contract_carries_retry_and_mini_keys():
    """r10 verdict next-round #1a: contended headliners re-run once after
    the sweep (canary-gated retry) and the detail records every reading
    plus both contended lists and the mini calibration."""
    src = open(bench.__file__).read()
    for key in ('"retries"', '"contended_initial"', '"mini"',
                '"mini_baseline"'):
        assert key in src, f"detail artifact lost key {key}"


def test_r10_group_on_bench_surface():
    """r10 verdict next-round #2: the nine r10 constituents must be in
    the extended bench groups so plan regressions in them are visible to
    BENCH_DETAIL round-over-round."""
    assert set(bench.BENCH_GROUPS_BY_NAME["r10"]) == {
        "abtt_ann", "kn_perplexity", "luhn_cards", "ann_int8_rerank",
        "ccnet_assign", "cluster_split", "pretoken_fertility",
        "embedding_drift", "gopher_gate"}
    assert "kn_perplexity" in bench.CONSTITUENT_GROUPS["text_quality"]
    assert "abtt_ann" in bench.CONSTITUENT_GROUPS["numeric_profiles"]
