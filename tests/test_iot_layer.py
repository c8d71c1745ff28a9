"""Golden tests for reference-specific semantics that no SQL oracle can
check (FIXTURES.md F5-F8): priority arrays, LOCF edges, interpolation
boundaries, chain tamper detection, vector search on known geometry."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from iot_database_spark.operators import blockchain as bc
from iot_database_spark.operators import iotvalue as iv
from iot_database_spark.operators import similarity as sim
from iot_database_spark.operators import timeseries as ts_ops
from iot_database_spark.operators import vector as vec


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# --- IotValue priority arrays (IotValue.cs:299-358) ------------------------

def test_effective_value_scans_slots_1_to_16(spark):
    writes = spark.createDataFrame(
        [
            ("p1", _ts("2024-01-01T00:00:00"), 15, "default"),
            ("p1", _ts("2024-01-01T00:01:00"), 9, "strategy"),
            ("p1", _ts("2024-01-01T00:02:00"), 17, "config-only"),
            ("p2", _ts("2024-01-01T00:00:00"), 16, "fallback"),
        ],
        ["guid", "ts", "priority", "value"],
    )
    state = {r["guid"]: r for r in iv.replay_slots(writes).collect()}
    # slot 9 beats slot 15; slot 17 never participates (Value getter :299-327)
    assert state["p1"]["value"] == "strategy"
    assert state["p1"]["priority"] == 9
    assert state["p2"]["value"] == "fallback"
    assert state["p2"]["priority"] == 16


def test_slot_overwrite_latest_wins(spark):
    writes = spark.createDataFrame(
        [
            ("p1", _ts("2024-01-01T00:00:00"), 9, "old"),
            ("p1", _ts("2024-01-01T00:05:00"), 9, "new"),
        ],
        ["guid", "ts", "priority", "value"],
    )
    row = iv.replay_slots(writes).collect()[0]
    assert row["value"] == "new"
    assert row["timestamp"] == _ts("2024-01-01T00:05:00")


def test_write_gating_priority9only_and_manual(spark):
    df = spark.createDataFrame(
        [(1, 0), (8, 0), (1, 1), (9, 64), (15, 64), (16, 64), (9, 65), (18, 0)],
        ["priority", "flags"],
    )
    got = {
        (r["priority"], r["flags"]): r["ok"]
        for r in df.select(
            "priority", "flags",
            iv.write_allowed(F.col("priority"), F.col("flags")).alias("ok"),
        ).collect()
    }
    assert got[(1, 0)] is False      # manual blocked without AllowManualOperator
    assert got[(8, 0)] is False
    assert got[(1, 1)] is True       # allowed with flag
    assert got[(9, 64)] is True      # Priority9Only: slots 9/16 only
    assert got[(15, 64)] is False
    assert got[(16, 64)] is True
    assert got[(9, 65)] is True
    assert got[(18, 0)] is False     # out of range


# --- Time series (TsCollection.cs:130-233) ---------------------------------

def test_locf_carries_slots_across_priorities(spark):
    writes = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01T00:00:00"), 15, 10.0),
            ("g", _ts("2024-01-01T00:10:00"), 9, 99.0),
            ("g", _ts("2024-01-01T00:20:00"), 15, 20.0),
        ],
        ["guid", "ts", "priority", "value"],
    )
    rows = (
        ts_ops.locf_merge(writes, priorities=(9, 15))
        .orderBy("ts")
        .collect()
    )
    # event 1: only slot 15 -> eff 10; event 2: slot 9 overrides -> 99;
    # event 3: slot 9 still carried (LOCF) -> eff stays 99
    assert [r["eff_value"] for r in rows] == [10.0, 99.0, 99.0]
    assert [r["eff_priority"] for r in rows] == [15, 9, 9]
    assert rows[2]["slot_15"] == 20.0 and rows[2]["slot_9"] == 99.0


def test_resample_interpolation_and_edges(spark):
    writes = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01T01:00:00"), 10.0),
            ("g", _ts("2024-01-01T03:00:00"), 30.0),
        ],
        ["guid", "ts", "value"],
    )
    rows = {
        r["grid_ts"]: r
        for r in ts_ops.resample(
            writes, "2024-01-01 00:00:00", "2024-01-01 05:00:00", "1 HOUR"
        ).collect()
    }
    assert _ts("2024-01-01T00:00:00") not in rows  # before first sample: skipped
    assert rows[_ts("2024-01-01T01:00:00")]["value"] == 10.0  # exact hit
    assert rows[_ts("2024-01-01T01:00:00")]["interpolated"] is False
    assert rows[_ts("2024-01-01T02:00:00")]["value"] == pytest.approx(20.0)
    assert rows[_ts("2024-01-01T02:00:00")]["interpolated"] is True
    assert rows[_ts("2024-01-01T04:00:00")]["value"] == 30.0  # fill-forward
    assert rows[_ts("2024-01-01T04:00:00")]["interpolated"] is False


# --- Blockchain (Blockchain/Block.cs, BlockCollection.cs) ------------------

def _mk_chain(spark):
    blocks = spark.createDataFrame(
        [
            ("a", _ts("2024-01-01T00:00:00"), "x=1"),
            ("a", _ts("2024-01-01T00:01:00"), "x=1"),  # consecutive dup -> dropped
            ("a", _ts("2024-01-01T00:02:00"), "x=2"),
            ("b", _ts("2024-01-01T00:00:00"), "y=1"),
        ],
        ["guid", "ts", "data"],
    )
    return bc.append_chain(bc.dedup_consecutive(blocks))


def test_chain_hash_matches_reference_recipe(spark):
    rows = {
        (r["guid"], r["ts"]): r for r in _mk_chain(spark).collect()
    }
    assert len(rows) == 3  # dup dropped (BlockCollection.Insert :56-60)
    first = rows[("a", _ts("2024-01-01T00:00:00"))]
    epoch_us = str(int(_ts("2024-01-01T00:00:00").timestamp() * 1_000_000))
    assert first["prev_hash"] == ""
    assert first["hash"] == hashlib.sha256((epoch_us + "" + "x=1").encode()).hexdigest()
    second = rows[("a", _ts("2024-01-01T00:02:00"))]
    assert second["prev_hash"] == first["hash"]


def test_chain_verify_detects_tamper(spark):
    chain = _mk_chain(spark)
    ok = {r["guid"]: r for r in bc.verify_chain(chain).collect()}
    assert ok["a"]["valid"] and ok["a"]["first_break"] is None
    assert ok["b"]["valid"]

    tampered = chain.withColumn(
        "data",
        F.when(
            (F.col("guid") == "a") & (F.col("ts") == _ts("2024-01-01T00:02:00")),
            F.lit("x=TAMPERED"),
        ).otherwise(F.col("data")),
    )
    bad = {r["guid"]: r for r in bc.verify_chain(tampered).collect()}
    assert bad["a"]["valid"] is False
    assert bad["a"]["first_break"] == 2  # first broken position reported
    assert bad["b"]["valid"] is True


def test_incremental_append_matches_full_rebuild(spark):
    """append_chain_incremental(batch, heads) folded batch-by-batch must
    produce the exact chain a full append_chain(dedup_consecutive(all))
    rebuild does — including in-batch consecutive dups AND the cross-
    batch boundary dup (a batch's first block equal to the head's data),
    plus a fresh key appearing mid-stream (no head row)."""
    batches = [
        [
            ("a", _ts("2024-01-01T00:00:00"), "x=1"),
            ("a", _ts("2024-01-01T00:01:00"), "x=1"),  # in-batch dup
            ("a", _ts("2024-01-01T00:02:00"), "x=2"),
            ("b", _ts("2024-01-01T00:00:00"), "y=1"),
        ],
        [
            ("a", _ts("2024-01-01T00:03:00"), "x=2"),  # boundary dup vs head
            ("a", _ts("2024-01-01T00:04:00"), "x=3"),
            ("b", _ts("2024-01-01T00:05:00"), "y=2"),
            ("c", _ts("2024-01-01T00:00:00"), "z=1"),  # fresh key, no head
        ],
        [
            ("c", _ts("2024-01-01T00:06:00"), "z=1"),  # boundary dup again
            ("a", _ts("2024-01-01T00:07:00"), "x=2"),  # NOT a dup (x=3 between)
        ],
    ]
    schema = ["guid", "ts", "data"]
    chain = spark.createDataFrame([], "guid string, ts timestamp, data string, prev_hash string, hash string")
    for rows in batches:
        new = bc.append_chain_incremental(
            spark.createDataFrame(rows, schema), bc.chain_heads(chain)
        )
        chain = chain.unionByName(new)
    full = bc.append_chain(
        bc.dedup_consecutive(
            spark.createDataFrame([r for b in batches for r in b], schema)
        )
    )
    got = sorted(map(tuple, chain.collect()))
    want = sorted(map(tuple, full.select(*chain.columns).collect()))
    assert got == want
    assert all(r["valid"] for r in bc.verify_chain(chain).collect())


# --- Vector search (IotVectorDb.cs) ----------------------------------------

def test_vector_search_known_geometry(spark):
    items = spark.createDataFrame(
        [
            (1, [1.0, 0.0], "east"),
            (2, [0.0, 1.0], "north"),
            (3, [0.9, 0.1], "east-ish"),
            (4, [-1.0, 0.0], "west"),
        ],
        ["vec_id", "embedding", "name"],
    )
    q = F.array(F.lit(1.0), F.lit(0.0))
    top = vec.search_cosine(items, q, min_score=0.5, limit=2).collect()
    assert [r["vec_id"] for r in top] == [1, 3]
    assert top[0]["relevance"] == pytest.approx(1.0)
    assert "embedding" not in top[0].asDict()  # stripped like the reference

    near = vec.search_l2_topk(items, q, k=1).collect()
    assert near[0]["vec_id"] == 1 and near[0]["distance_sq"] == 0.0

    within = vec.search_l2_radius(items, q, radius=1.5).collect()
    assert {r["vec_id"] for r in within} == {1, 2, 3}

    # a zero vector has no cosine: a zero stored row scores NULL and is
    # left out (under ANSI the division used to fail the whole search),
    # and a zero query matches nothing
    with_zero = items.union(
        spark.createDataFrame([(5, [0.0, 0.0], "origin")], items.schema)
    )
    every = vec.search_cosine(with_zero, q, min_score=-1.0, limit=10).collect()
    assert [r["vec_id"] for r in every] == [1, 3, 2, 4]
    zero_q = F.array(F.lit(0.0), F.lit(0.0))
    assert vec.search_cosine(items, zero_q, min_score=-1.0).collect() == []


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    qvec = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])

    brute = [r["vec_id"] for r in vec.search_cosine(emb, q, min_score=-1, limit=10).collect()]
    centroids = sim.default_centroids(emb, k=8)
    assigned = sim.ivf_assign(emb, centroids)
    approx = [
        r["vec_id"]
        for r in sim.ivf_search_cosine(assigned, centroids, q, k=10, nprobe=4).collect()
    ]
    recall = len(set(brute) & set(approx)) / 10
    assert approx[0] == 0  # the query vector itself is found
    assert recall >= 0.3  # random embeddings: probing 4/8 buckets


def test_kmeans_refine_improves_objective(spark, sf_dir):
    """Lloyd iterations must not increase the k-means objective (sum of
    squared distances to the assigned centroid), and the refined set
    still drives the same IVF search path."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.col("vec_id").cast("bigint").alias("vec_id"), "embedding")
        .limit(400)
    )

    def objective(centroids):
        assigned = sim.ivf_assign(emb, centroids)
        packed = centroids.agg(
            F.map_from_arrays(
                F.collect_list("centroid_id"), F.collect_list("centroid_vec")
            ).alias("_m")
        )
        d = assigned.crossJoin(F.broadcast(packed)).select(
            F.expr(
                vec.l2_distance_sq("embedding", "element_at(_m, bucket)")
            ).alias("d2")
        )
        return d.agg(F.sum("d2")).collect()[0][0]

    c0 = sim.default_centroids(emb, k=8)
    c1 = sim.kmeans_refine(emb, c0, iters=2)
    obj0, obj1 = objective(c0), objective(c1)
    assert obj1 <= obj0 + 1e-6
    assert c1.count() == 8
    # refined centroids keep the schema contract for search
    qvec = [float(x) for x in emb.filter("vec_id = 0").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])
    assigned = sim.ivf_assign(emb, c1)
    top = sim.ivf_search_cosine(assigned, c1, q, k=5, nprobe=4).collect()
    assert top[0]["vec_id"] == 0


def test_vector_index_persists_and_searches(spark, tmp_path, sf_dir):
    """VectorIndex: build writes centroid+assigned tables through the
    commit log; a REOPENED database searches without rebuilding and
    matches a fresh in-memory IVF search."""
    from iot_database_spark.database import IotDatabase

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )
    db = IotDatabase("vecdb", str(tmp_path), spark)
    idx = sim.VectorIndex(db, "emb_idx")
    idx.build(emb, k=8, refine_iters=1)

    qvec = [float(x) for x in emb.filter("vec_id = 3").collect()[0]["embedding"]]
    q = F.array(*[F.lit(x) for x in qvec])
    got = [r["vec_id"] for r in idx.search(q, k=5, nprobe=4).collect()]
    assert got[0] == 3  # the query vector finds itself first

    # reopen: fresh database object, same storage
    db2 = IotDatabase("vecdb", str(tmp_path), spark)
    idx2 = sim.VectorIndex(db2, "emb_idx")
    got2 = [r["vec_id"] for r in idx2.search(q, k=5, nprobe=4).collect()]
    assert got2 == got
    # index tables are ordinary versioned tables (history, introspection)
    assert "emb_idx__centroids" in db2.list_tables()
    assert db2.table("emb_idx__vectors").count() == emb.count()


# --- TSDB extras: as-of join, rollup, gaps, rate ---------------------------

def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01T02:00:00"), 1),
            ("g", _ts("2024-01-01T00:30:00"), 2),
            ("h", _ts("2024-01-01T01:00:00"), 3),  # no right rows for h
        ],
        ["guid", "ts", "lid"],
    )
    right = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01T00:00:00"), 10.0),
            ("g", _ts("2024-01-01T01:00:00"), 20.0),
            ("g", _ts("2024-01-01T03:00:00"), 30.0),
        ],
        ["guid", "ts", "value"],
    )
    from iot_database_spark.operators.timeseries import asof_join

    rows = {r["lid"]: r for r in asof_join(left, right, on="guid").collect()}
    assert rows[1]["asof_value"] == 20.0  # most recent <= 02:00
    assert rows[2]["asof_value"] == 10.0  # most recent <= 00:30
    assert rows[3]["asof_value"] is None  # no match -> left row kept


def test_rollup_and_rate(spark):
    from iot_database_spark.operators.timeseries import (
        detect_gaps,
        rate_of_change,
        rollup_by_interval,
    )

    s = spark.createDataFrame(
        [
            ("g", _ts("2024-01-01T00:10:00"), 10.0),
            ("g", _ts("2024-01-01T00:50:00"), 30.0),
            ("g", _ts("2024-01-01T03:00:00"), 40.0),
        ],
        ["guid", "ts", "value"],
    )
    buckets = {r["bucket_start"]: r for r in rollup_by_interval(s, "1 hour").collect()}
    b0 = buckets[_ts("2024-01-01T00:00:00")]
    assert b0["n_samples"] == 2 and b0["first_value"] == 10.0 and b0["last_value"] == 30.0

    gaps = detect_gaps(s, max_gap_seconds=3600.0).collect()
    assert len(gaps) == 1 and gaps[0]["gap_seconds"] == pytest.approx(7800.0)

    rates = sorted(rate_of_change(s).collect(), key=lambda r: r["ts"])
    assert rates[0]["delta"] == 20.0
    assert rates[0]["rate_per_sec"] == pytest.approx(20.0 / 2400.0)


def test_range_join_boundary_semantics(spark):
    """range_join window is half-open [start, end): an event exactly at
    `end` does not match; one exactly at `start` does — including when
    the boundary falls exactly on a bucket edge (the exploded interval
    must not leak into the bucket that starts at its exclusive end)."""
    from datetime import datetime

    from iot_database_spark.operators.timeseries import range_join

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 0, 0)),   # == start: in
            (2, datetime(2024, 1, 1, 0, 59, 59)), # inside
            (3, datetime(2024, 1, 1, 1, 0, 0)),   # == end: out
            (4, datetime(2023, 12, 31, 23, 59, 59)),  # before: out
        ],
        "event_id bigint, ts timestamp",
    )
    # window [00:00, 01:00) with end on an exact 30-min bucket boundary
    iv = spark.createDataFrame(
        [(7, t0, datetime(2024, 1, 1, 1, 0, 0))],
        "iv_id bigint, start_ts timestamp, end_ts timestamp",
    )
    got = sorted(
        r["event_id"]
        for r in range_join(ev, iv, bucket_s=1800).collect()
    )
    assert got == [1, 2]


def test_range_join_drops_inverted_and_empty_intervals(spark):
    """Inverted (end < start) and empty (end == start) windows match
    nothing — and must not reach sequence(), which would otherwise
    explode a descending bucket run for the inverted window."""
    from datetime import datetime

    from iot_database_spark.operators.timeseries import range_join

    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 0, 30))], "event_id bigint, ts timestamp"
    )
    iv = spark.createDataFrame(
        [
            (7, datetime(2024, 1, 1, 1, 0), datetime(2024, 1, 1, 0, 0)),
            (8, datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 0)),
            (9, datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 1, 0)),
        ],
        "iv_id bigint, start_ts timestamp, end_ts timestamp",
    )
    got = [(r["event_id"], r["iv_id"]) for r in range_join(ev, iv).collect()]
    assert got == [(1, 9)]


def test_hll_sketch_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL sketch) — the cardinality primitive for
    100 TB profiling; no cross-engine oracle (sketches differ), so assert
    tolerance against the exact count."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    approx = li.select(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")
    ).collect()[0]["a"]
    assert abs(approx - exact) / exact < 0.06


# --- deliberate divergence: dynamic-type ordering --------------------------

def test_dynamic_string_slot_ordering_diverges_from_bson_order(spark):
    """The reference orders ACROSS types (LiteDB BsonValue.CompareTo,
    LiteDB/Document/BsonValue.cs:715-760: null < number < string < ...)
    because its documents are schemaless. This engine deliberately uses
    fixed per-column schemas: heterogeneous slots are declared `string`
    and ordered LEXICOGRAPHICALLY. This test pins the documented
    divergence (README "Deliberate narrowings") so it can never regress
    silently into an accidental half-implementation of BSON order."""
    df = spark.createDataFrame(
        [("a", "10"), ("b", "9"), ("c", "abc"), ("d", None)],
        "id string, slot string",
    )
    ordered = [r["id"] for r in df.orderBy("slot").collect()]
    # lexicographic: NULLs first (Spark default), "10" < "9" < "abc" —
    # BSON order would put 9 before 10 (numeric compare within a type)
    assert ordered == ["d", "a", "b", "c"]
    # MIN/MAX never cross types (a column has exactly one type), and on
    # strings they are lexicographic ends, not numeric ends
    row = df.agg(
        F.min("slot").alias("lo"), F.max("slot").alias("hi")
    ).collect()[0]
    assert (row["lo"], row["hi"]) == ("10", "abc")


def test_ewma_semantics(spark):
    # constant series: every prefix fold of a constant is the constant
    base = dt.datetime(2024, 1, 1)
    rows = [(1, base + dt.timedelta(minutes=i), 5.0, i) for i in range(30)]
    df = spark.createDataFrame(rows, "guid long, ts timestamp, value double, event_id long")
    out = ts_ops.ewma(df, alpha="0.3", window_rows=20).orderBy("event_id")
    got = [r.ewma for r in out.collect()]
    assert got == [5.0] * 30
    # a step change converges toward the new level; first row == its value
    rows = [(1, base + dt.timedelta(minutes=i), 0.0 if i < 10 else 10.0, i) for i in range(20)]
    df = spark.createDataFrame(rows, "guid long, ts timestamp, value double, event_id long")
    got = [r.ewma for r in ts_ops.ewma(df, alpha="0.3", window_rows=20).orderBy("event_id").collect()]
    assert got[0] == 0.0
    assert got[9] == 0.0
    # after the step, each value is strictly closer to 10
    tail = got[10:]
    assert all(b > a for a, b in zip(tail, tail[1:])) and tail[-1] < 10.0
    # the literal pair the oracle shares must be the doubles Spark folds with
    assert repr(1.0 - 0.3) == "0.7"


def test_ewma_truncation_bounds_state(spark):
    # window_rows=3: row i folds ONLY its last 3 values, so a huge value
    # 4 rows back has zero influence (the bounded-state guarantee)
    base = dt.datetime(2024, 1, 1)
    vals = [1e12, 2.0, 2.0, 2.0, 2.0]
    rows = [(1, base + dt.timedelta(minutes=i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "guid long, ts timestamp, value double, event_id long")
    got = [r.ewma for r in ts_ops.ewma(df, alpha="0.3", window_rows=3).orderBy("event_id").collect()]
    assert got[4] == 2.0  # fold of (2,2,2) only — the 1e12 fell out


def test_mad_anomaly_flags_outlier(spark):
    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 500.0]
    rows = [(1, base + dt.timedelta(minutes=i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "guid long, ts timestamp, value double, event_id long")
    out = ts_ops.mad_anomalies(df, k="3.0")
    flagged = [r.value for r in out.filter("is_anomaly").collect()]
    assert flagged == [500.0]
    # median/MAD are elements of the data (discrete), not interpolations
    row = out.filter("event_id = 0").collect()[0]
    assert row.med in vals


def test_threshold_alerts_hysteresis(spark):
    # raise at >=100, clear at <=50; dead-band values must NOT flap
    base = dt.datetime(2024, 1, 1)
    vals = [10.0, 120.0, 80.0, 60.0, 130.0, 40.0, 70.0, 150.0]
    #        -    raise  hold  hold  hold   clear hold  raise
    rows = [(1, base + dt.timedelta(minutes=i), v, i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "guid long, ts timestamp, value double, event_id long")
    out = sorted(
        ts_ops.threshold_alerts(df, high="100.0", low="50.0").collect(),
        key=lambda r: r.event_id,
    )
    assert [(r.value, r.alert) for r in out] == [
        (120.0, "raise"),
        (40.0, "clear"),
        (150.0, "raise"),
    ]
    # a series that never crosses high emits nothing (initial state is clear)
    quiet = spark.createDataFrame(
        [(2, base + dt.timedelta(minutes=i), 30.0, i) for i in range(5)],
        "guid long, ts timestamp, value double, event_id long",
    )
    assert ts_ops.threshold_alerts(quiet, high="100.0", low="50.0").count() == 0
