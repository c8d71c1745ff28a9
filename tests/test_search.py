"""Semantic tests for sequence packing (curation.pack_sequences): pack
reassembly invariants.

The cross-engine value-hash checks for the registered queries live in
test_oracle_parity.py; these tests pin the SEMANTICS on constructed
inputs where the right answer is known by hand.
"""

from __future__ import annotations

import pytest

from iot_database_spark.operators import curation as cu


@pytest.fixture(scope="module")
def packable(spark):
    # stream 'a': 3+4+2 = 9 tokens; budget 4 -> packs of 4/4/1
    # stream 'b': 6 tokens -> packs of 4/2
    rows = [
        ("a", 1, "w w w"),
        ("a", 2, "x x x x"),
        ("a", 3, "y y"),
        ("b", 1, "z z z z z z"),
    ]
    return spark.createDataFrame(rows, ["source", "doc_id", "text"])


def test_pack_slices_cover_each_doc(packable):
    out = cu.pack_sequences(packable, budget=4).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault((r["source"], r["doc_id"]), []).append(r)
    # every document's slices are contiguous from offset 0 and sum to
    # its token count
    toks = {("a", 1): 3, ("a", 2): 4, ("a", 3): 2, ("b", 1): 6}
    for key, slices in per_doc.items():
        slices.sort(key=lambda r: r["doc_off"])
        assert slices[0]["doc_off"] == 0
        assert sum(r["n_tok"] for r in slices) == toks[key]
        pos = 0
        for s in slices:
            assert s["doc_off"] == pos
            pos += s["n_tok"]


def test_packs_are_full_except_last(packable):
    out = cu.pack_sequences(packable, budget=4).collect()
    per_pack = {}
    for r in out:
        per_pack.setdefault((r["source"], r["pack_id"]), 0)
        per_pack[(r["source"], r["pack_id"])] += r["n_tok"]
    assert per_pack == {
        ("a", 0): 4,
        ("a", 1): 4,
        ("a", 2): 1,
        ("b", 0): 4,
        ("b", 1): 2,
    }


def test_doc_straddles_pack_boundary(packable):
    out = [
        r
        for r in cu.pack_sequences(packable, budget=4).collect()
        if r["source"] == "a" and r["doc_id"] == 2
    ]
    # doc a/2 occupies stream offsets 3..6 -> packs 0 (1 token) and 1
    # (3 tokens), entering pack 1 at position 0
    by_pack = {r["pack_id"]: r for r in out}
    assert by_pack[0]["n_tok"] == 1 and by_pack[0]["pack_off"] == 3
    assert by_pack[1]["n_tok"] == 3 and by_pack[1]["pack_off"] == 0
    assert by_pack[1]["doc_off"] == 1
