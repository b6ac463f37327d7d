"""Executed-plan tree introspection shared by the scale audits.

Three consumers used to carry private copies of this walk (the
registry audit, now scripts/audit.py, and two tests in
tests/test_plan_shapes.py — r9 review finding): a fix to one copy would
not propagate, letting the audit script and the pinned plan-shape tests
silently disagree about what counts as a data-sized funnel. The printed
plan is a tree whose structure is encoded by the indentation of the
``+-`` / ``:-`` markers; these helpers resolve parent/ancestor
relationships from that.
"""

from __future__ import annotations

import re


def tree_depth(line: str) -> int:
    """Indentation of the tree marker; -1 for marker-less lines (roots,
    metadata continuations)."""
    m = re.search(r"[+:]-", line)
    return m.start() if m else -1


def consumer_index_of(lines: list[str], i: int) -> int:
    """Index of the operator line CONSUMING line ``i``: the nearest line
    above at shallower tree depth (or the nearest marker-less non-blank
    line — a plan root). -1 when nothing qualifies."""
    d = tree_depth(lines[i])
    for j in range(i - 1, -1, -1):
        dj = tree_depth(lines[j])
        if (dj != -1 and dj < d) or (dj == -1 and lines[j].strip()):
            return j
    return -1


def consumer_of(lines: list[str], i: int) -> str:
    """The operator line CONSUMING line ``i`` (see consumer_index_of)."""
    j = consumer_index_of(lines, i)
    return lines[j].strip() if j >= 0 else ""


# AQE/runtime wrapper nodes that sit BETWEEN an exchange and its real
# consumer in EXECUTED plans (isFinalPlan=true prints ShuffleQueryStage
# around every materialized exchange; AQEShuffleRead/ReusedExchange appear
# after runtime re-optimization). The constructed-plan audits never see
# these, but the executed-plan audit must look THROUGH them or a
# `Sort <- ShuffleQueryStage <- Exchange SinglePartition` funnel reads as
# consumed-by-wrapper and silently passes (r11: found while closing the
# SKIP_PREFIXES blind spot).
_PLAN_WRAPPERS = re.compile(
    r"\b(ShuffleQueryStage|ResultQueryStage|BroadcastQueryStage|"
    r"TableCacheQueryStage|AQEShuffleRead|ReusedExchange|InputAdapter)\b"
)


def effective_consumer_of(lines: list[str], i: int) -> str:
    """Like ``consumer_of`` but skipping AQE/runtime wrapper nodes, so
    constructed and executed plans classify identically."""
    j = i
    while True:
        k = consumer_index_of(lines, j)
        if k < 0:
            return ""
        consumer = lines[k].strip()
        if tree_depth(lines[k]) != -1 and _PLAN_WRAPPERS.search(consumer):
            j = k
            continue
        return consumer


def single_partition_funnel_sites(plan: str) -> list[str]:
    """Consumer lines of every ``Exchange SinglePartition`` whose
    consumer is a Sort/Window (the data-sized-funnel shape) and whose
    frame is NOT the two-pass operators' n_buckets-row offset table.
    Scalar/final-aggregate consumers are fine and skipped.

    The offset-table exemption matches the EXACT internal column tokens
    (``__b#NN`` / ``__bc#NN`` / ``__bs_i#NN`` / ``__bt#NN`` attribute
    references) rather than any substring containing ``__b`` — a
    query-local ``__bucket``/``__base`` column in a genuine data-sized
    Sort must NOT ride the exemption (r9 review finding)."""
    lines = plan.splitlines()
    sites: list[str] = []
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        consumer = effective_consumer_of(lines, i)
        if not re.search(r"\b(Sort|Window|WindowGroupLimit)\b", consumer):
            continue
        if re.search(r"__b(c|t|s_\d+)?#\d+", consumer):
            continue
        sites.append(consumer)
    return sites


def scans_outside_cache(plan: str, table: str) -> list[str]:
    """Parquet scan lines of ``table`` that do NOT sit inside an
    InMemoryRelation/InMemoryTableScan subtree. Nested lazy hubs
    re-print cached subtrees per consumer (the InMemoryRelation
    phantom), so scan==cache counting breaks — "no scan outside a
    cache" is the real single-scan invariant."""
    lines = plan.splitlines()
    escaped: list[str] = []
    for i, ln in enumerate(lines):
        if not re.search(rf"Scan parquet[^\n]*/{table}\.parquet", ln):
            continue
        d = tree_depth(ln)
        under_cache = False
        for j in range(i - 1, -1, -1):
            dj = tree_depth(lines[j])
            if dj == -1 or dj >= d:
                continue  # not an ancestor of the scan line
            if "InMemoryRelation" in lines[j] or "InMemoryTableScan" in lines[j]:
                under_cache = True
                break
            d = dj  # real ancestor that is not a cache: keep walking up
        if not under_cache:
            escaped.append(ln.strip()[:100])
    return escaped
