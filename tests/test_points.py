"""Integration test of the PointStore fan-out write path — the
reference's signature flow (TableCollection.cs:1411-1433): gated writes
land in the write log, TimeSeries-flagged points feed the TS store,
BlockChain-flagged points extend their hash chain, passwords are hashed."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from iot_database_spark.database import IotDatabase
from iot_database_spark.operators import iotvalue as iv
from iot_database_spark.points import PointStore


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


@pytest.fixture()
def store(spark, tmp_path):
    db = IotDatabase("pointdb", str(tmp_path), spark)
    ps = PointStore(db)
    ps.register_point("plain", flags=0)
    ps.register_point("tsflag", flags=iv.FLAG_TIME_SERIES)
    ps.register_point(
        "chained", flags=iv.FLAG_TIME_SERIES | iv.FLAG_BLOCK_CHAIN
    )
    ps.register_point("p9", flags=iv.FLAG_PRIORITY9_ONLY)
    ps.register_point("pw", flags=iv.FLAG_PASSWORD_VALUE)
    ps.register_point("typed", flags=0, strict_type="double")
    return ps


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "guid string, ts timestamp, priority int, value string"
    )


def test_fanout_per_flags(store, spark):
    counts = store.write_batch(
        _batch(
            spark,
            [
                ("plain", _ts("2024-01-01T00:00:00"), 15, "1.0"),
                ("tsflag", _ts("2024-01-01T00:00:00"), 15, "2.0"),
                ("chained", _ts("2024-01-01T00:00:00"), 15, "3.0"),
                ("chained", _ts("2024-01-01T00:01:00"), 15, "4.0"),
            ],
        )
    )
    assert counts == {
        "writes": 4, "ts": 3, "chain": 2,
        "chain_dropped_retro": 0, "chain_dropped_dup": 0,
    }
    assert store.writes.count() == 4
    assert store.ts_writes.count() == 3  # tsflag + chained only
    chain = {r["ts"]: r for r in store.chain.df.collect()}
    assert chain[_ts("2024-01-01T00:01:00")]["prev_hash"] == chain[
        _ts("2024-01-01T00:00:00")
    ]["hash"]
    verify = store.verify_chains().collect()
    assert all(r["valid"] for r in verify)


def test_gating_and_strict_type_drop_rows(store, spark):
    counts = store.write_batch(
        _batch(
            spark,
            [
                ("p9", _ts("2024-01-01T00:00:00"), 15, "nope"),   # p9only: blocked
                ("p9", _ts("2024-01-01T00:00:00"), 9, "ok"),      # allowed
                ("plain", _ts("2024-01-01T00:00:00"), 1, "manual"),  # no AllowManual
                ("typed", _ts("2024-01-01T00:00:00"), 15, "abc"),  # strict double: reject
                ("typed", _ts("2024-01-01T00:01:00"), 15, "42.5"),  # ok
            ],
        )
    )
    assert counts["writes"] == 2
    vals = {r["guid"]: r["value"] for r in store.writes.df.collect()}
    assert vals == {"p9": "ok", "typed": "42.5"}


def test_password_hashing_and_state(store, spark):
    store.write_batch(
        _batch(spark, [("pw", _ts("2024-01-01T00:00:00"), 15, "hunter2")])
    )
    row = store.writes.df.collect()[0]
    assert row["value"] == hashlib.sha256(b"hunter2").hexdigest()

    store.write_batch(
        _batch(
            spark,
            [
                ("plain", _ts("2024-01-01T00:00:00"), 15, "low"),
                ("plain", _ts("2024-01-01T00:05:00"), 9, "strategy-wins"),
            ],
        )
    )
    state = {r["guid"]: r for r in store.current_state().collect()}
    assert state["plain"]["value"] == "strategy-wins"
    assert state["plain"]["priority"] == 9


def test_get_series_reads(store, spark):
    store.write_batch(
        _batch(
            spark,
            [
                ("tsflag", _ts("2024-01-01T01:00:00"), 15, "10"),
                ("tsflag", _ts("2024-01-01T03:00:00"), 15, "30"),
            ],
        )
    )
    locf = store.get_series(_ts("2024-01-01T00:00:00"), _ts("2024-01-01T04:00:00"))
    assert [r["eff_value"] for r in locf.orderBy("ts").collect()] == ["10", "30"]

    grid = store.get_series(
        "2024-01-01 00:00:00", "2024-01-01 04:00:00", interval="1 HOUR"
    )
    by_ts = {r["grid_ts"]: r for r in grid.collect()}
    assert by_ts[_ts("2024-01-01T02:00:00")]["value"] == pytest.approx(20.0)
    assert by_ts[_ts("2024-01-01T02:00:00")]["interpolated"] is True


def test_continuous_query_result_lands_in_slot14(store, spark):
    """End-to-end: a continuous query's result materialized as a
    priority-14 write through the PointStore (IotValue.cs:1193-1252 —
    slot 17 holds the config, slot 14 receives the result)."""
    from iot_database_spark.streaming.continuous import (
        ContinuousQueryService,
        QueryConfiguration,
        as_point_writes,
    )

    store.write_batch(
        _batch(
            spark,
            [
                ("plain", _ts("2024-01-01T00:00:00"), 15, "10"),
                ("plain", _ts("2024-01-01T00:10:00"), 15, "30"),
            ],
        )
    )
    store.register_point("avg-point", flags=0)

    svc = ContinuousQueryService(spark)
    svc.add_query(
        QueryConfiguration(
            "mean_plain",
            lambda s: store.writes.df.filter("guid = 'plain'").agg(
                F.avg(F.col("value").cast("double")).alias("mean_value")
            ),
            interval_ms=0,  # lazy
        )
    )
    result = svc.read("mean_plain")
    store.write_batch(as_point_writes(result, guid="avg-point"))

    state = {r["guid"]: r for r in store.current_state().collect()}
    assert state["avg-point"]["priority"] == 14
    assert float(state["avg-point"]["value"]) == 20.0


def test_chain_count_reports_only_appended_blocks(store, spark):
    """ADVICE r1: 'chain' must mean blocks appended by THIS batch, like
    'writes'/'ts' — not the rebuilt-chain total."""
    store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T00:00:00"), 15, "1.0")])
    )
    counts = store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T00:01:00"), 15, "2.0")])
    )
    assert counts["chain"] == 1  # not 2 (pre-existing block excluded)
    assert store.chain.count() == 2


def test_chain_append_is_batch_sized(store, spark):
    """r8 verdict #1: a later batch's chain extension must APPEND only
    batch-sized data — the block history is never rewritten (the old
    path unioned all existing blocks and re-folded the whole chain per
    batch). Proof at the storage layer: the second write publishes ONE
    new data dir whose row count equals the appended blocks, and every
    dir of the first version is carried over byte-identical."""
    big = [
        ("chained", _ts("2024-01-01T00:00:00") + dt.timedelta(minutes=i), 15, str(i))
        for i in range(120)
    ]
    store.write_batch(_batch(spark, big))
    t = store.chain
    v0 = t._current_version()
    dirs0 = t._manifest_dirs(v0)

    counts = store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T03:00:00"), 15, "fresh")])
    )
    assert counts["chain"] == 1
    dirs1 = t._manifest_dirs(t._current_version())
    assert set(dirs0) <= set(dirs1)  # history dirs carried, not rewritten
    new_dirs = [d for d in dirs1 if d not in dirs0]
    assert len(new_dirs) == 1
    assert t._dirs_df(new_dirs).count() == 1  # batch-sized append
    # the heads VIEW stays one row per chained guid, pointing at the
    # tip (the underlying log appends one row per touched guid per
    # batch and compacts every _HEADS_COMPACT_DIRS appends)
    heads = store.heads_view().collect()
    assert len(heads) == 1 and heads[0]["data"] == "fresh"
    assert store.chain_heads.count() == 2  # log: one head row per batch
    assert all(r["valid"] for r in store.verify_chains().collect())


def test_chain_retro_write_dropped_not_corrupting(store, spark):
    """A retro-dated chain write (ts before the current head) must be
    dropped from the chain sink — appending it would sort before the
    head in verify_chain's (ts, data) order and break the linkage of a
    hash-intact chain (r9 self-review). It still lands in the write
    log; the chain stays valid and unchanged."""
    store.write_batch(
        _batch(
            spark,
            [
                ("chained", _ts("2024-01-01T01:00:00"), 15, "a"),
                ("chained", _ts("2024-01-01T02:00:00"), 15, "b"),
            ],
        )
    )
    counts = store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T01:30:00"), 15, "retro")])
    )
    # the drop is REPORTED, not silent (r9 advice: an audit-log caller
    # must be able to alert on discarded chain history)
    assert counts == {
        "writes": 1, "ts": 1, "chain": 0,
        "chain_dropped_retro": 1, "chain_dropped_dup": 0,
    }
    assert store.chain.count() == 2  # unchanged
    assert all(r["valid"] for r in store.verify_chains().collect())
    # the write log DID record it (only the chain sink filters)
    assert store.writes.count() == 3


def test_chain_drop_census_splits_dup_from_retro(store, spark):
    """r10 advice: the drop census must account for EVERY discarded
    chain row, split by cause — in-batch consecutive duplicates and the
    equal-to-head cross-batch repeat are 'dup', strictly-before-head
    rows are 'retro', and chain + retro + dup equals the batch's
    chain-flagged input count."""
    # in-batch consecutive dup: same data back-to-back in (ts, data)
    counts = store.write_batch(
        _batch(
            spark,
            [
                ("chained", _ts("2024-01-01T01:00:00"), 15, "a"),
                ("chained", _ts("2024-01-01T02:00:00"), 15, "a"),
            ],
        )
    )
    assert counts["chain"] == 1
    assert counts["chain_dropped_dup"] == 1
    assert counts["chain_dropped_retro"] == 0
    # equal-to-head repeat: a dup, NOT a retro drop (r10 advice — the
    # old census misfiled it)
    counts = store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T01:00:00"), 15, "a")])
    )
    assert counts["chain"] == 0
    assert counts["chain_dropped_dup"] == 1
    assert counts["chain_dropped_retro"] == 0
    # conservation across a mixed batch: 1 appended + 1 retro + 1 dup
    counts = store.write_batch(
        _batch(
            spark,
            [
                ("chained", _ts("2024-01-01T00:30:00"), 15, "early"),
                ("chained", _ts("2024-01-01T03:00:00"), 15, "b"),
                ("chained", _ts("2024-01-01T04:00:00"), 15, "b"),
            ],
        )
    )
    assert counts["chain"] == 1
    assert counts["chain_dropped_retro"] == 1
    assert counts["chain_dropped_dup"] == 1
    assert all(r["valid"] for r in store.verify_chains().collect())


def test_assign_ids_distributed_matches_global_order(store, spark):
    """r9 verdict #4: id assignment must not run a single-partition
    global window. The distributed path (range partition + local sort +
    partition offsets) must produce exactly the ids a global row_number
    over (guid, ts, priority, value) would, and its plan must contain
    no Window at all."""
    rows = [
        (f"g{i % 7}", _ts("2024-01-01T00:00:00") + dt.timedelta(seconds=i * 13 % 97), 15, f"v{i}")
        for i in range(200)
    ]
    batch = _batch(spark, rows).repartition(8)  # force the multi-partition path
    expect = sorted((g, t, p, v) for g, t, p, v in rows)
    for size_hint in (None, len(rows)):  # distributed path, small-stamp path
        out = store._assign_ids(store.writes, batch, base=100, size_hint=size_hint)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        got = sorted(
            ((r["guid"], r["ts"], r["priority"], r["value"]), r["id"])
            for r in out.collect()
        )
        assert [k for k, _ in got] == expect
        assert [i for _, i in got] == list(range(101, 101 + len(rows)))


def test_chain_heads_recover_from_stale_stamp(store, spark):
    """r9 advice: a crash between the chain append and the heads write
    leaves heads one batch behind the chain tip; the next batch must
    rebuild its seed from the chain (version-stamp mismatch) instead of
    folding from the stale head — which would append duplicate blocks
    with conflicting prev_hash linkage and break verify with no tamper."""
    store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T00:00:00"), 15, "a")])
    )
    # simulate the crash window: commit a second batch's chain blocks
    # WITHOUT the heads write (append or compaction) or the stamp
    orig_write = store.chain_heads._write
    orig_append = store.chain_heads._append
    orig_stamp = store._stamp_heads
    store.chain_heads._write = lambda df, **kw: None
    store.chain_heads._append = lambda df, **kw: None
    store._stamp_heads = lambda v: None
    try:
        store.write_batch(
            _batch(spark, [("chained", _ts("2024-01-01T01:00:00"), 15, "b")])
        )
    finally:
        store.chain_heads._write = orig_write
        store.chain_heads._append = orig_append
        store._stamp_heads = orig_stamp
    # heads now stale (still point at "a") while the chain tip is "b"
    assert store.heads_view().collect()[0]["data"] == "a"
    counts = store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T02:00:00"), 15, "c")])
    )
    assert counts["chain"] == 1 and counts["chain_dropped_retro"] == 0
    assert counts["chain_dropped_dup"] == 0
    assert store.chain.count() == 3
    assert all(r["valid"] for r in store.verify_chains().collect())
    # a recovery batch COMPACTS: heads the crashed batch failed to log
    # are re-persisted, one row per guid, before the stamp is renewed
    heads = store.chain_heads.df.collect()
    assert len(heads) == 1 and heads[0]["data"] == "c"


def test_chain_heads_log_appends_then_compacts(store, spark, monkeypatch):
    """The heads store is an APPEND-ONLY log (O(touched guids) write per
    batch — never an O(all devices) rewrite); every _HEADS_COMPACT_DIRS
    appends it compacts back to one row per guid. The seed view and the
    chain stay correct across both regimes."""
    from iot_database_spark.points import PointStore

    monkeypatch.setattr(PointStore, "_HEADS_COMPACT_DIRS", 3)
    for i in range(4):
        store.write_batch(
            _batch(
                spark,
                [("chained", _ts(f"2024-01-01T0{i}:00:00"), 15, f"v{i}")],
            )
        )
    # 4th batch hit the dir threshold and compacted: one dir, one row
    assert len(store.chain_heads._base_dirs()) == 1
    heads = store.chain_heads.df.collect()
    assert len(heads) == 1 and heads[0]["data"] == "v3"
    assert store.chain.count() == 4
    assert all(r["valid"] for r in store.verify_chains().collect())
    # next batch appends to the compacted base again
    store.write_batch(
        _batch(spark, [("chained", _ts("2024-01-01T05:00:00"), 15, "v4")])
    )
    assert len(store.chain_heads._base_dirs()) == 2
    assert store.heads_view().collect()[0]["data"] == "v4"


def test_convert_point_rewrites_slots_and_effective_value(spark):
    """IotUnit.Convert parity: numeric slots 1-16 rewritten by the rule,
    priority-17 slot untouched, effective value recomputed, priority
    unchanged; cross-group conversion raises at plan build."""
    import pytest
    from pyspark.sql import functions as F

    from iot_database_spark.functions.units import RuleError
    from iot_database_spark.operators import iotvalue as iv

    state = spark.createDataFrame(
        [("p1", [None, "25"] + [None] * 13 + ["10", "cfg"])],
        "guid string, values array<string>",
    ).withColumn("value", iv.effective_value("values"))
    assert state.collect()[0]["value"] == "25"

    out = iv.convert_point(state, "degC", "degF").collect()[0]
    assert out["values"][1] == "77.0"   # priority 2: 25C -> 77F
    assert out["values"][15] == "50.0"  # priority 16 converted
    assert out["values"][16] == "cfg"   # priority 17 untouched
    assert out["value"] == "77.0"       # effective value recomputed

    with pytest.raises(RuleError, match="cannot convert"):
        iv.convert_point(state, "degC", "meters")


def test_write_batch_census_rides_pin_and_cross_session_guard(store, spark):
    """r14: same-session batches take the Observation-on-checkpoint
    census (one pin+census job) and the chain path's Observations on
    its pinned fold; a batch bound to a session CLONE (the foreachBatch
    micro-batch shape) must take the guarded path in BOTH places — an
    Observation on a clone's frame never completes — and both must
    produce identical counts, chain drop census included."""
    from iot_database_spark.tables import _same_session

    def rows(day):
        t = _ts(f"2024-01-0{day}T00:00:00")
        return [
            ("plain", t, 15, "1"),
            ("tsflag", t + dt.timedelta(seconds=1), 15, "2"),
            ("chained", t + dt.timedelta(seconds=2), 15, f"v{day}"),
            ("chained", t + dt.timedelta(seconds=3), 15, f"v{day}"),  # dup
            ("chained", _ts("2023-12-31T00:00:00"), 15, "0"),  # retro on day 2+
        ]

    # day 1: no head yet, so the back-dated row is the chain's first block
    first = store.write_batch(_batch(spark, rows(1)))
    assert first == {
        "writes": 5, "ts": 4, "chain": 2,
        "chain_dropped_retro": 0, "chain_dropped_dup": 1,
    }
    same = store.write_batch(_batch(spark, rows(2)))
    assert same == {**first, "chain": 1, "chain_dropped_retro": 1}

    clone = spark.newSession()
    clone_batch = clone.createDataFrame(
        rows(4), "guid string, ts timestamp, priority int, value string"
    )
    assert not _same_session(clone_batch, spark)
    counts2 = store.write_batch(clone_batch)  # must not hang
    assert counts2 == same
    assert store.writes.df.count() == 15
    assert all(r["valid"] for r in store.verify_chains().collect())


def _two_pass_census(spark, store, rows, chained, ts_flagged, run):
    """Write `rows` through `run` and return the census the chain path
    reported before its fold took it over: appended = the blocks the
    batch added; retro = chain-flagged rows strictly before their
    guid's pre-batch head in (ts, data-string) order, from a join of
    the rows to that head; dup = the remainder."""
    heads = store.heads_view().localCheckpoint(eager=True)
    src = _batch(spark, [r for r in rows if r[0] in chained]).select(
        "guid", "ts", F.col("value").alias("data")
    )
    h = heads.select(
        "guid", F.col("ts").alias("_hts"), F.col("data").cast("string").alias("_hdata")
    )
    census = (
        src.join(F.broadcast(h), "guid", "left")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count(
                F.when(
                    (F.col("ts") < F.col("_hts"))
                    | (
                        (F.col("ts") == F.col("_hts"))
                        & (F.col("data").cast("string") < F.col("_hdata"))
                    ),
                    1,
                )
            ).alias("_r"),
        )
        .collect()[0]
    )
    before = store.chain.count()
    got = run()
    appended = store.chain.count() - before
    expect = {
        "writes": len(rows),
        "ts": sum(1 for r in rows if r[0] in ts_flagged),
        "chain": appended,
        "chain_dropped_retro": census["_r"],
        "chain_dropped_dup": census["_n"] - appended - census["_r"],
    }
    return got, expect


def test_chain_census_matches_two_pass_census(store, spark):
    """The drop census the fold reports (retro as an Observation on the
    seeded frame, appended as one on the pinned blocks) must equal the
    separate join-based census it replaced, across retro rows, rows
    equal to the head, same-ts rows on either side of the head's data,
    in-batch consecutive duplicates, guids with no head yet and a guid
    whose every row is retro — and the chains must stay valid."""
    for g in ("c1", "c2", "c3"):
        store.register_point(g, flags=iv.FLAG_BLOCK_CHAIN)
    chained = {"chained", "c1", "c2", "c3"}
    ts_flagged = {"tsflag", "chained"}

    def at(h, m=0):
        return _ts("2024-01-01T00:00:00") + dt.timedelta(hours=h, minutes=m)

    batches = [
        [
            ("c1", at(1), 15, "a"),
            ("c1", at(2), 15, "a"),  # in-batch consecutive dup
            ("c1", at(3), 15, "b"),
            ("c2", at(1), 15, "x"),
            ("chained", at(1), 15, "1"),
            ("plain", at(1), 15, "p"),
        ],
        [
            ("c1", at(0), 15, "early"),  # retro
            ("c1", at(3), 15, "b"),  # equal to head: dup
            ("c1", at(3), 15, "a"),  # same ts, data before head: retro
            ("c1", at(3), 15, "c"),  # same ts, data after head: kept
            ("c1", at(4), 15, "c"),  # in-batch dup of the kept row
            ("c1", at(5), 15, "d"),
            ("c2", at(0, 30), 15, "y"),  # every c2 row is retro
            ("c2", at(0, 45), 15, "z"),
            ("c3", at(2), 15, "n"),  # no head yet
            ("c3", at(2), 15, "n"),  # exact in-batch repeat
            ("chained", at(2), 15, "1"),  # dup of the head's data
            ("tsflag", at(2), 15, "t"),
        ],
        [
            ("c1", at(5), 15, "d"),
            ("c1", at(6), 15, "d"),
            ("c2", at(9), 15, "x"),  # equal data, later ts: dup of head
            ("c3", at(1), 15, "old"),  # retro
            ("c3", at(7), 15, "m"),
            ("chained", at(3), 15, "2"),
        ],
    ]
    seen_retro = seen_dup = 0
    for rows in batches:
        got, expect = _two_pass_census(
            spark, store, rows, chained, ts_flagged,
            lambda rows=rows: store.write_batch(_batch(spark, rows)),
        )
        assert got == expect
        seen_retro += got["chain_dropped_retro"]
        seen_dup += got["chain_dropped_dup"]
    assert seen_retro >= 4 and seen_dup >= 5  # every drop kind was exercised
    heads = {r["guid"]: r["data"] for r in store.heads_view().collect()}
    assert heads == {"c1": "d", "c2": "x", "c3": "m", "chained": "2"}
    verdict = store.verify_chains().collect()
    assert len(verdict) == 4 and all(r["valid"] for r in verdict)


def test_steady_state_write_batch_job_budget(store, spark):
    """A steady-state batch feeding all three sinks runs at most 10
    Spark jobs (15 before the drop census, the appended count and the
    new heads rode the pinned chain fold): the pin+census with its
    registry broadcast, one write per point sink, the fold pinned once
    with its heads-log seed, and the chain and heads writes."""
    sc = spark.sparkContext

    def rows(h):
        t = _ts("2024-01-01T00:00:00") + dt.timedelta(hours=h)
        return [
            ("plain", t, 15, "1"),
            ("tsflag", t, 15, "2"),
            ("chained", t, 15, f"c{h}"),
            ("chained", t + dt.timedelta(minutes=1), 15, f"d{h}"),
        ]

    store.write_batch(_batch(spark, rows(0)))
    store.write_batch(_batch(spark, rows(1)))
    batch = _batch(spark, rows(2))
    group = "write-batch-job-budget"
    sc.setJobGroup(group, "steady-state write_batch", False)
    try:
        counts = store.write_batch(batch)
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == {
        "writes": 4, "ts": 3, "chain": 2,
        "chain_dropped_retro": 0, "chain_dropped_dup": 0,
    }
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 10, len(jobs)
