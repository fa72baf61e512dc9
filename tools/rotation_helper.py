"""Compute the verify-window rotation inputs for the next round.

The driver hash-verifies only the FIRST 50 of ``registry.get_queries()``
per round (``_VERIFY_FIRST`` controls the order). Each round the window
should hold, in priority order:

  1. queries with NO green driver row yet (RED or never-run), and
  2. green queries whose code changed since their last green row
     ("stale greens" — r4 proved selfcheck-green ≠ driver-green, and a
     stale row is a claim the driver has not actually re-checked), then
  3. oldest-green rows that silently carry later refactors.

This tool computes (1) from the union of CORRECTNESS_r*.json, reports
each query's latest green round for (3), and sanity-checks the CURRENT
``_VERIFY_FIRST`` (existence, uniqueness, never-green coverage). The
"changed since last green" half of (2) needs git archaeology per query
and stays a human step — see the r5 rotation comment in registry.py for
a worked example.

Usage: python tools/rotation_helper.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    from presto_truffle_spark import registry

    registry.load_all_modules()
    reg = list(registry.QUERIES)

    last_green: dict[str, str] = {}
    rounds = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))
    for f in rounds:
        rnd = f.rsplit("_r", 1)[1].split(".")[0]
        for k, v in json.load(open(f)).items():
            ok = (
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match", True)
                and not v.get("err")
            )
            if ok:
                last_green[k] = rnd

    never = [q for q in reg if q not in last_green]
    print(f"registered {len(reg)}; green-union {len(set(reg) & set(last_green))}; "
          f"never-green {len(never)}  (from {len(rounds)} CORRECTNESS files)")
    if never:
        print("\nnever-green (registration order) — these go FIRST:")
        for q in never:
            print("  ", q)

    by_round: dict[str, list[str]] = {}
    for q in reg:
        by_round.setdefault(last_green.get(q, "never"), []).append(q)
    print("\nlast-green distribution (oldest rounds are re-confirmation candidates):")
    for rnd in sorted(by_round):
        print(f"  r{rnd}: {len(by_round[rnd])}")

    vf = registry._verify_first()
    problems = []
    if len(vf) != 50:
        problems.append(f"window has {len(vf)} entries, driver verifies 50")
    if len(set(vf)) != len(vf):
        problems.append("duplicate entries in derived window")
    unknown = [q for q in vf if q not in registry.QUERIES]
    if unknown:
        problems.append(f"unknown names: {unknown}")
    uncovered = [q for q in never if q not in vf]
    if uncovered:
        # More priority rows (pins + never-green) than window slots is a
        # legitimate state right after a registration burst: the spill
        # waits one round. It is only a PROBLEM if a GREEN row took a
        # slot a never-green row should have had.
        greens_in_window = [
            q
            for q in vf
            if q in last_green and q not in registry._FORCE_HEAD
        ]
        if greens_in_window:
            problems.append(
                f"never-green NOT in window while green rows hold slots: "
                f"{uncovered} vs {greens_in_window}"
            )
        else:
            print(
                f"\n  note: {len(uncovered)} never-green rows spill past "
                f"the 50-slot window (registration burst); they queue for "
                f"the next round: {uncovered}"
            )
    stale_head = [q for q in registry._FORCE_HEAD if q not in registry.QUERIES]
    if stale_head:
        problems.append(f"_FORCE_HEAD names not registered: {stale_head}")
    print("\nderived verify window (first 50):")
    for q in vf:
        print(f"  r{last_green.get(q, '--')}  {q}")
    print("\nderived window:", "OK" if not problems else "PROBLEMS")
    for p in problems:
        print("  !", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
