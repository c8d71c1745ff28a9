"""Compute the next round's driver-window rotation from the recorded
CORRECTNESS_r*.json artifacts.

The driver grades the FIRST 50 entries of registry.queries() each
round, so `registry._PRIORITY` is the lever that keeps every query's
newest green driver row at most two rounds old. Rounds 5 and 6 planned
that rotation by hand in comments; this script derives it:

1. queries with NO driver row ever (newly registered), in registration
   order — they need first-time evidence;
2. then every other query, oldest-latest-green-round first (ties in
   registration order);
3. any query whose LATEST driver row is not green is flagged loudly and
   sorted first of all — a red row must be chased, never rotated away.

Usage: python scripts/plan_rotation.py [--slots 50]
Prints the proposed _PRIORITY tuple body plus an evidence-age table.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def load_rounds(repo: str) -> dict[int, dict]:
    out: dict[int, dict] = {}
    for path in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            data = json.load(open(path))
        except (OSError, json.JSONDecodeError):
            continue
        if isinstance(data, dict):
            out[int(m.group(1))] = data
    return out


def is_green(row: dict) -> bool:
    if row.get("err"):
        return False
    # A row with no recognized keys (empty dict, future schema change)
    # must NOT read as green — that would silently rotate a genuinely
    # ungraded/failed query out of the window (r6 advice). Require the
    # positive signal: rows_match explicitly True. Rows-only queries
    # (no oracle) record rows_match only; hash/schema stay None, which
    # is fine as long as nothing is explicitly False.
    if row.get("rows_match") is not True:
        return False
    return all(row.get(k) is not False for k in ("schema_match", "hash_match"))


def evidence(rounds: dict[int, dict]) -> dict[str, tuple[int, bool]]:
    """query -> (latest round with a row, that row was green)."""
    out: dict[str, tuple[int, bool]] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            out[name] = (rnd, is_green(row))
    return out


# Invariant: every registered query's newest green driver row is at most
# EVIDENCE_AGE_LIMIT rounds old. With SLOTS graded per round that caps
# the registry at SLOTS * EVIDENCE_AGE_LIMIT queries
# (tests/test_rotation_plan.py asserts it).
EVIDENCE_AGE_LIMIT = 3
SLOTS = 50


def plan(slots: int = SLOTS, repo: str | None = None) -> tuple[list[str], list[str]]:
    """Returns (window, red_flags)."""
    from iot_database_spark import registry

    repo = repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ev = evidence(load_rounds(repo))
    names = list(registry.queries())  # current priority + registration order
    reg_order = {n: i for i, n in enumerate(names)}

    red = [n for n in names if n in ev and not ev[n][1]]

    def key(n: str):
        if n in red:
            return (0, reg_order[n])  # reds first — chase, don't rotate away
        if n not in ev:
            return (1, reg_order[n])  # never graded
        return (2, ev[n][0], reg_order[n])  # oldest green first

    ordered = sorted(names, key=key)
    return ordered[:slots], red


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--slots", type=int, default=SLOTS)
    args = ap.parse_args()
    window, red = plan(args.slots)
    if red:
        print(f"# RED latest rows (must stay in window): {red}")
    from iot_database_spark import registry

    ev = evidence(load_rounds(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    print("_PRIORITY: tuple[str, ...] = (")
    for n in window:
        tag = "never graded" if n not in ev else f"r{ev[n][0]} {'green' if ev[n][1] else 'RED'}"
        print(f'    "{n}",  # {tag}')
    print(")")
    ungraded_left = [n for n in registry.queries() if n not in ev and n not in window]
    if ungraded_left:
        print(f"# WARNING: never-graded queries left OUT of the window: {ungraded_left}")


if __name__ == "__main__":
    main()
