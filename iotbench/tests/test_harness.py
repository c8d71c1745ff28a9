"""Self-tests for the benchmark's helpers.

    python3 -m pytest iotbench/tests -q

The last test runs the benchmark itself twice (about two minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
from harness import CpuClock, Span, Tracer, geomean, median, self_times, tail_percentile  # noqa: E402


# -- percentile rule --------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert tail_percentile(list(range(99)), 90) is None
    assert tail_percentile(list(range(100)), 90) == 89
    assert tail_percentile([], 90) is None


def test_p90_is_nearest_rank_on_unsorted_input():
    xs = list(range(200))
    rng = np.random.default_rng(0)
    rng.shuffle(xs)
    assert tail_percentile(xs, 90) == 179
    assert median(xs) == 99.5


def test_geomean_weighs_every_sample():
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert geomean([200.0, 210.0, 900.0, 950.0]) == pytest.approx((200 * 210 * 900 * 950) ** 0.25)
    assert geomean([]) is None


# -- span self time ---------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 0),
        Span(1, "a", 1.0, 3.0, 0, 0),
        Span(2, "b", 2.0, 5.0, 0, 0),  # overlaps a: covered part is [1, 5]
        Span(3, "c", 7.0, 8.0, 0, 0),
        Span(4, "d", 2.5, 2.75, 1, 0),  # grandchild: counts against a only
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 0.25)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.25)


def test_self_time_clips_children_to_parent():
    spans = [
        Span(0, "op", 0.0, 4.0, None, 0),
        Span(1, "job", 3.0, 6.0, 0, 0),  # runs past the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(3.0)


def test_pool_thread_span_parents_to_the_op_threads_open_span():
    import threading

    tr = Tracer()
    tr.begin_op(3, True)
    with tr.span("op.cq"), tr.span("continuous.tick") as tick:
        worker = threading.Thread(target=_open_and_close, args=(tr,))
        worker.start()
        worker.join(timeout=10)
        assert not worker.is_alive()
    q = next(s for s in tr.spans if s.name == "continuous.query")
    assert q.parent == tick and q.op == 3


def _open_and_close(tr: Tracer) -> None:
    with tr.span("continuous.query"):
        pass


# -- CPU clock --------------------------------------------------------------

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.4: pass\nprint('done', flush=True)\ninput()"


def test_cpu_clock_counts_a_child_started_after_it_live_and_exited():
    clock = CpuClock()
    c0 = clock.read()
    child = subprocess.Popen([sys.executable, "-c", _BURN],
                             stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        live = clock.read() - c0  # the child is still running
    finally:
        child.communicate("\n", timeout=30)
    exited = clock.read() - c0  # reaped: its time is in our cutime now
    assert live >= 0.35
    assert exited >= live


# -- generator and its model ------------------------------------------------


def _gated(frame: pd.DataFrame, fleet: gen.Fleet) -> pd.Series:
    """The gating rules, vectorised: an independent re-derivation."""
    flags = frame["guid"].map(lambda g: fleet.by_guid[g]["flags"])
    strict = frame["guid"].map(lambda g: fleet.by_guid[g]["strict_type"])
    p = frame["priority"]
    manual_ok = ~p.isin([1, 8]) | (flags & gen.MANUAL > 0)
    p9_ok = (flags & gen.P9_ONLY == 0) | p.isin([9, 16])
    type_ok = strict.isna() | pd.to_numeric(frame["value"], errors="coerce").notna()
    return manual_ok & p9_ok & type_ok


def test_model_counts_match_frame():
    fleet = gen.Fleet(7, 40)
    guids = [d["guid"] for d in fleet.devices]
    frame, exp = fleet.batch(guids, (3, 6))
    ok = _gated(frame, fleet)
    flags = frame["guid"].map(lambda g: fleet.by_guid[g]["flags"])
    assert exp["rows"] == len(frame)
    assert exp["writes"] == int(ok.sum())
    assert exp["ts"] == int((ok & (flags & gen.TS > 0)).sum())
    assert exp["chain_src"] == int((ok & (flags & gen.CHAIN > 0)).sum())
    assert 0 < exp["writes"] < exp["rows"]  # the flag mix rejects some


def test_model_slots_are_last_accepted_write():
    fleet = gen.Fleet(7, 40)
    guids = [d["guid"] for d in fleet.devices]
    frames = [fleet.batch(guids, (3, 6))[0] for _ in range(2)]
    frame = pd.concat(frames, ignore_index=True)
    ok = frame[_gated(frame, fleet)].sort_values("ts")
    for g, grp in ok.groupby("guid"):
        last = grp.groupby("priority").tail(1)
        flags = fleet.by_guid[g]["flags"]
        want = {int(r.priority): gen.stored_value(r.value, flags) for r in last.itertuples()}
        assert {p: v for p, (_t, v) in fleet.slots[g].items()} == want


def test_timestamps_monotonic_per_device_across_batches():
    fleet = gen.Fleet(3, 30)
    guids = [d["guid"] for d in fleet.devices]
    frame = pd.concat([fleet.batch(guids, (2, 4))[0] for _ in range(3)])
    for _g, ts in frame.groupby("guid")["ts"]:
        assert ts.is_monotonic_increasing and ts.is_unique


def test_ts_log_holds_the_accepted_timeseries_writes():
    fleet = gen.Fleet(5, 40)
    guids = [d["guid"] for d in fleet.devices]
    frame = pd.concat([fleet.batch(guids, (3, 6))[0] for _ in range(2)], ignore_index=True)
    flags = frame["guid"].map(lambda g: fleet.by_guid[g]["flags"])
    ok = frame[_gated(frame, fleet) & (flags & gen.TS > 0)]
    assert sum(len(v) for v in fleet.ts_log.values()) == len(ok)
    for g, grp in ok.groupby("guid"):
        us = grp["ts"].astype("int64") // 1000
        assert [(t, p) for t, p, _v in fleet.ts_log[g]] == list(zip(us, grp["priority"]))
        start, end = int(us.iloc[1]), int(us.iloc[-2])
        assert [w[0] for w in fleet.series(g, start, end)] == list(us.iloc[1:-1])


def test_locf_last_slots_keep_the_last_write_per_priority():
    writes = [(1, 16, "a"), (2, 9, "b"), (3, 16, "c")]
    assert gen.locf_last_slots(writes) == {16: "c", 9: "b"}


def test_resample_skips_before_first_sample_interpolates_and_carries_forward():
    samples = [(15, 1.0), (20, 2.0), (40, 4.0)]
    # grid 0, 10, 20, 30, 40, 50: 0 and 10 precede the first sample
    assert gen.resample_values(samples, 0, 50, 10) == [2.0, 3.0, 4.0, 4.0]
    assert gen.resample_values(samples, 15, 19, 2) == [1.0, 1.4, 1.8]
    assert gen.resample_values([], 0, 50, 10) == []


def test_same_seed_same_inputs():
    a, b = gen.Fleet(11, 50), gen.Fleet(11, 50)
    ga = [d["guid"] for d in a.devices]
    fa, ea = a.batch(ga, (2, 5))
    fb, eb = b.batch(ga, (2, 5))
    assert a.devices == b.devices and ea == eb
    pd.testing.assert_frame_equal(fa, fb)
    assert not gen.Fleet(12, 50).batch(ga, (2, 5))[0].equals(fa)


def test_cosine_topk_orders_by_score():
    vecs = gen.embeddings(1, 50, 8)
    top = gen.cosine_topk(vecs, vecs[4], 5)
    assert top[0] == 5  # a vector is its own best match (ids are 1-based)
    assert len(set(top)) == 5


# -- Spark job counters repeat -----------------------------------------------


def _report(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "serve",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=os.path.dirname(BENCH), capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert json.loads(lines[-1])["failed"] == 0, out.stderr[-3000:]
    return json.loads(lines[-2].removeprefix("report: "))


def test_jobs_per_op_repeat_for_a_seed():
    a, b = _report(5), _report(5)
    keys = sorted(k for k in a if k.startswith("spark.jobs_per_op"))
    assert len(keys) > 5
    assert {k: a[k] for k in keys} == {k: b[k] for k in keys}
