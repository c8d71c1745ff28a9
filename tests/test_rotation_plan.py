"""The rotation planner must keep the driver-evidence invariant
computable: never-graded queries lead, reds are never rotated away,
the window is valid (50 unique registered names), and the registry
fits the evidence capacity."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

import plan_rotation as pr


def test_is_green_semantics():
    assert pr.is_green({"rows_match": True, "schema_match": True, "hash_match": True, "err": None})
    # rows-only checks record None for schema/hash
    assert pr.is_green({"rows_match": True, "schema_match": None, "hash_match": None, "err": None})
    assert not pr.is_green({"rows_match": True, "schema_match": True, "hash_match": False, "err": None})
    assert not pr.is_green({"rows_match": True, "err": "boom"})
    # an unrecognized/empty row must NOT read as green (r6 advice):
    # greenness requires the positive rows_match=True signal
    assert not pr.is_green({})
    assert not pr.is_green({"some_future_key": True})
    assert not pr.is_green({"rows_match": None, "schema_match": None, "hash_match": None, "err": None})


def test_evidence_keeps_latest_round():
    rounds = {
        3: {"q": {"rows_match": True, "err": None}},
        5: {"q": {"rows_match": False, "err": None}},
    }
    assert pr.evidence(rounds) == {"q": (5, False)}


def test_live_plan_is_valid_window():
    from iot_database_spark import registry

    window, red = pr.plan(50)
    assert len(window) == 50 == len(set(window))
    qs = registry.queries()
    # each round grades SLOTS queries and evidence may be at most
    # EVIDENCE_AGE_LIMIT rounds old, so the registry is capped at 150
    assert len(qs) <= pr.SLOTS * pr.EVIDENCE_AGE_LIMIT == 150
    assert all(n in qs for n in window)
    ev = pr.evidence(pr.load_rounds(str(Path(__file__).resolve().parent.parent)))
    never = [n for n in qs if n not in ev]
    # every never-graded query must be in the window (evidence first)
    assert set(never) <= set(window), set(never) - set(window)
    # reds, if any ever appear, must be in the window too
    assert set(red) <= set(window)

