"""Guards on the driver-facing contract surface.

Round-3 post-mortem: the driver canonicalizes query outputs with a pandas
``sort_values`` over all columns, which raises on unhashable cells
(list/ndarray) — `ext_embedding_quantize` shipped a raw array column and
went red while the repo's own driver simulation reported it green, because
it pre-normalized arrays before sorting. These tests pin (a) that the
canonicalizer of scripts/audit.py reproduces the driver's failure mode,
(b) the rotation placed the never-driver-checked entries inside the
50-entry sweep window, and (c) the audit's entry selector and scan-pin
verdict.
"""

from __future__ import annotations

import importlib.util
import pathlib

import pandas as pd
import pytest

from usedcars_bigdata_spark.plans import CONTRACT_WINDOW_ROUND, ORACLES, QUERIES

DRIVER_WINDOW = 50


def _script(name):
    path = (
        pathlib.Path(__file__).resolve().parents[1] / "scripts" / f"{name}.py"
    )
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_driver_sim_canon_crashes_on_array_cells():
    """The sim's canonicalizer must fail on array cells exactly like the
    driver's (pandas sort_values → factorize → unhashable list) — this is
    the regression that let round 3's quantize failure hide."""
    sim = _script("audit")
    frame = pd.DataFrame({"id": [2, 1], "q": [[1, 2], [3, 4]]})
    with pytest.raises(TypeError):
        sim.canon_rows(frame)


def test_driver_sim_canon_flat_frames_sort_consistently():
    sim = _script("audit")
    a = pd.DataFrame({"x": [3, 1, 2], "y": ["c", "a", "b"]})
    b = pd.DataFrame({"y": ["b", "c", "a"], "x": [2, 3, 1]})
    assert sim.canon_rows(a) == sim.canon_rows(b)


def test_audit_selects_entries_in_contract_order():
    audit = _script("audit")
    names = {"ref_a": 1, "rel_b": 2, "ts_c": 3, "rel_d": 4}
    assert audit.select(names, "all") == ["ref_a", "rel_b", "ts_c", "rel_d"]
    assert audit.select(names, "2") == ["ref_a", "rel_b"]
    assert audit.select(names, "0") == []
    assert audit.select(names, "ts_,rel_") == ["rel_b", "ts_c", "rel_d"]
    assert audit.select(names, "nosuch") == []


def test_audit_scan_verdict_needs_a_pin_for_outside_cache_scans():
    """A 3+-scan entry passes when pinned in tests/test_plan_shapes.py or
    when every hot table is read only through a cache."""
    audit = _script("audit")
    hot = {"lineitem": (4, 2), "orders": (3, 0)}
    cached = {"lineitem": (4, 0), "orders": (3, 0)}
    assert audit.scan_ok("rel_pinned", hot, {"rel_pinned"})
    assert audit.scan_ok("rel_unpinned", cached, {"rel_pinned"})
    assert not audit.scan_ok("rel_unpinned", hot, {"rel_pinned"})


def test_audit_scan_pins_read_the_plan_shape_budgets():
    pins = _script("audit").scan_pins()
    assert {"ext_vocab_saturation", "rel_pagerank_copurchase"} <= pins


def test_audit_scan_counts_hot_and_two_scan_tables():
    audit = _script("audit")
    scan = "Scan parquet [a#1] Location: InMemoryFileIndex[file:/d/{}.parquet]"
    plan = "\n".join([
        "Union",
        ":- " + scan.format("lineitem"),
        ":- InMemoryTableScan [a#1]",
        ":     +- InMemoryRelation [a#1]",
        ":           +- " + scan.format("lineitem"),
        ":- " + scan.format("lineitem"),
        ":- " + scan.format("orders"),
        "+- " + scan.format("orders"),
    ])
    hot, two = audit.scan_counts(plan, ["lineitem", "orders", "part"])
    assert hot == {"lineitem": (3, 2)}
    assert two == {"orders": 2}


def test_rotation_window_satisfies_ledger_policy():
    """Round-agnostic window guard (replaces the per-round hard-coded
    membership list that went stale at every rotation): the first-50
    window must satisfy exactly the invariants scripts/rotation_ledger.py
    enforces — 12 ref_* pins, every non-pin slot oracle-backed, the
    whole never-driver-verified backlog inside the window once it fits,
    and the remaining slots holding the deterministic oldest-verified
    re-verification fill.

    The ledger is read as of the round the window was queued for
    (CONTRACT_WINDOW_ROUND): driver rows from that round on are what the
    window produced, not inputs to it, so committing them must not turn
    this check red."""
    ledger = _script("rotation_ledger")
    window = list(QUERIES)[:DRIVER_WINDOW]
    pins = window[:12]
    assert all(n.startswith("ref_") for n in pins) and len(set(pins)) == 12
    rotate_ins = window[12:]
    assert not [n for n in rotate_ins if n not in ORACLES]
    last = ledger.load_last_verified(before_round=CONTRACT_WINDOW_ROUND)
    backlog = [k for k in QUERIES if k in ORACLES and k not in last]
    if len(backlog) >= len(rotate_ins):
        assert not [n for n in rotate_ins if n in last]
    else:
        assert not [n for n in backlog if n not in set(rotate_ins)]
        order = {k: i for i, k in enumerate(QUERIES)}
        n_fill = len(rotate_ins) - len(backlog)
        expected = sorted(
            (k for k in QUERIES if k in ORACLES and k in last
             and k not in set(pins)),
            key=lambda k: (last[k], order[k]))[:n_fill]
        actual = [n for n in rotate_ins if n in last]
        assert set(actual) == set(expected)


def test_window_is_fully_oracle_backed():
    window = list(QUERIES)[:DRIVER_WINDOW]
    rows_only = [n for n in window if n not in ORACLES]
    assert not rows_only, (
        f"sweep-window slots spent on rows-only entries: {rows_only}"
    )


def test_registry_has_no_dangling_oracles():
    assert set(ORACLES) <= set(QUERIES)


def test_partition_layout_independence(spark, sf_dir):
    """Representative oracle entries must produce the same row multiset
    under a pathological shuffle-partition setting (3) as under the test
    default — any layout dependence (limit-without-order, per-partition
    ids leaking into output, accumulation-order-sensitive rounding) shows
    up as a diff here before it shows up as a driver hash mismatch."""
    from usedcars_bigdata_spark.plans import QUERIES

    names = [
        "ref_q1_avg_price_by_priority",
        "rel_tpch_q18_large_orders",
        "ext_dedup_exact",
        "rel_abc_analysis",
        "ts_event_transitions",
        "rel_pagerank_copurchase",
        "rel_rfm_segments",
        # continuation-2 sequential-carry ops: the per-key recurrences
        # must be invariant to how keys land on partitions
        "ts_holt_trend",
        "ts_holt_winters",
        "ts_clamped_balance",
        "ext_quantile_normalize",
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    baseline = {}
    for n in names:
        baseline[n] = sorted(
            tuple(str(v) for v in r) for r in QUERIES[n](spark, sf_dir).collect()
        )
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for n in names:
            got = sorted(
                tuple(str(v) for v in r)
                for r in QUERIES[n](spark, sf_dir).collect()
            )
            assert got == baseline[n], f"{n} is partition-layout dependent"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
