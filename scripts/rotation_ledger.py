#!/usr/bin/env python
"""Rotation ledger: mechanize the driver-window rotation bookkeeping.

The driver sweeps the FIRST 50 ``queries()`` entries each round; the
rotation policy (plans/__init__.py) pins the 12 ref_* parity rows and
fills the other 38 slots from the never-driver-verified queue. Once that
backlog is smaller than the slot count (round 12 onward), the freed
slots enter the RE-VERIFICATION rotation (r11 VERDICT item 6): they are
filled with the OLDEST driver-verified oracle-backed rows, keyed by
(last-verified round, registry order), so no entry's official row ages
indefinitely. This script derives the ground truth from the
CORRECTNESS_r*.json records of the rounds before CONTRACT_WINDOW_ROUND
(plans/__init__.py: the round the window was queued for) and checks the
CURRENT window against it —
a mis-queued entry (duplicate slot, rows-only slot, a backlog entry
left out, or a fresher-than-necessary re-verify fill) would waste an
official verification slot silently.

Checks (exit 1 on any failure):
  1. window[0:12] are exactly the 12 pinned ref_* rows;
  2. every non-pin window entry is oracle-backed (no rows-only slots);
  3. every never-driver-verified oracle-backed entry is IN the window
     (while the backlog fits in the 38 slots; before r12 this reduces
     to the old "all rotate-ins are first-time" rule);
  4. the remaining slots hold exactly the expected oldest-verified
     re-verification fill (deterministic: sort verified oracle-backed
     entries by (last-verified round, registry order), take the head);
  5. no duplicates anywhere in the priority list (also enforced at
     import time by _apply_contract_order).

Also prints the ledger: cumulative driver-verified count, remaining
backlog, the staleness table (entries by last-verified round), and the
SUGGESTED next-round window to paste into _CONTRACT_PRIORITY at round
close (assuming the current window sweeps green).

Run: python scripts/rotation_ledger.py [--next 38]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

DRIVER_WINDOW = 50
N_PINS = 12


def load_last_verified(before_round: int | None = None) -> dict[str, int]:
    """name -> most recent round with an official driver row, counting only
    rounds before ``before_round`` when given (the ledger as it stood when
    that round's window was queued)."""
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        if before_round is not None and rnd >= before_round:
            continue
        with open(path) as fh:
            for name in json.load(fh):
                last[name] = max(last.get(name, 0), rnd)
    return last


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--next", type=int, default=DRIVER_WINDOW - N_PINS,
                    help="suggested next-round rotate-in count")
    args = ap.parse_args(argv)

    from usedcars_bigdata_spark.plans import CONTRACT_WINDOW_ROUND, ORACLES, QUERIES

    keys = list(QUERIES)
    order = {k: i for i, k in enumerate(keys)}
    window = keys[:DRIVER_WINDOW]
    # The window is checked against the ledger of the rounds before the one
    # it was queued for; later rounds' rows feed only the suggestion below.
    last = load_last_verified(before_round=CONTRACT_WINDOW_ROUND)
    n_rounds = CONTRACT_WINDOW_ROUND - 1

    failures: list[str] = []
    pins = window[:N_PINS]
    if [n for n in pins if not n.startswith("ref_")] or len(set(pins)) != N_PINS:
        failures.append(f"window[0:{N_PINS}] must be the ref_* pins, got {pins}")
    rotate_ins = window[N_PINS:]
    rows_only = [n for n in rotate_ins if n not in ORACLES]
    if rows_only:
        failures.append(f"rows-only entries waste window slots: {rows_only}")

    oracle_backed = [k for k in keys if k in ORACLES]
    backlog = [k for k in oracle_backed if k not in last]
    n_slots = len(rotate_ins)

    if len(backlog) >= n_slots:
        # Backlog phase: every rotate-in must be first-time.
        stale = [n for n in rotate_ins if n in last]
        if stale:
            failures.append(
                f"already-driver-verified entries re-queued while the "
                f"never-verified backlog ({len(backlog)}) still fills the "
                f"window: {stale}")
    else:
        # Re-verification phase: all backlog in, rest = oldest-verified fill.
        missing = [n for n in backlog if n not in set(rotate_ins)]
        if missing:
            failures.append(f"never-verified entries left out of the window: {missing}")
        n_fill = n_slots - len(backlog)
        expected_fill = sorted(
            (k for k in oracle_backed if k in last and k not in set(pins)),
            key=lambda k: (last[k], order[k]))[:n_fill]
        actual_fill = [n for n in rotate_ins if n in last]
        if set(actual_fill) != set(expected_fill):
            failures.append(
                "re-verification fill mismatch:\n"
                f"      unexpected: {sorted(set(actual_fill) - set(expected_fill))}\n"
                f"      expected-but-absent: {sorted(set(expected_fill) - set(actual_fill))}")

    done_after = len(set(last) | set(n for n in window if n in ORACLES))

    print(f"registry: {len(keys)} entries, {len(oracle_backed)} oracle-backed")
    print(f"driver-verified so far (r1..r{n_rounds}): {len(last)}")
    print(f"this window: {N_PINS} pins + {len(rotate_ins)} rotate-ins "
          f"({sum(1 for n in rotate_ins if n not in last)} first-time, "
          f"{sum(1 for n in rotate_ins if n in last)} re-verify)")
    print(f"after this round: {done_after} verified; "
          f"never-verified oracle-backed backlog: "
          f"{len([k for k in backlog if k not in set(window)])}")

    # Staleness table: where the official rows would stand after this sweep
    # (and after any later rounds already on record).
    post = load_last_verified()
    for n in window:
        if n in ORACLES:
            post[n] = max(post.get(n, 0), CONTRACT_WINDOW_ROUND)
    by_round: dict[int, int] = {}
    for k in oracle_backed:
        by_round[post.get(k, 0)] = by_round.get(post.get(k, 0), 0) + 1
    print("\nstaleness table (oracle-backed entries by last-verified round, "
          "assuming this window sweeps green; round 0 = never):")
    for rnd in sorted(by_round):
        print(f"    r{rnd:>2}: {by_round[rnd]:>3} entries")

    # Suggested next window: remaining backlog first, then oldest-verified.
    nxt_backlog = [k for k in oracle_backed if k not in post]
    nxt_fill = sorted(
        (k for k in oracle_backed if k in post and not k.startswith("ref_")),
        key=lambda k: (post[k], order[k]))
    nxt = (nxt_backlog + nxt_fill)[:args.next]
    print(f"\nsuggested next-round rotate-ins (head {len(nxt)} of the queue; "
          f"{len(nxt_backlog)} backlog + oldest-verified fill):")
    for n in nxt:
        tag = "first-time" if n not in post else f"re-verify (last r{post[n]})"
        print(f'    "{n}",  # {tag}')

    if failures:
        print("\nFAILURES:")
        for f in failures:
            print("  -", f)
        return 1
    print("\nledger OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
