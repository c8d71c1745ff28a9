"""End-to-end test of the stateful streaming IotValue operator: feed
point writes through a file stream in two batches and check the slot
state machine carries across micro-batches."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from iot_database_spark.streaming.stateful import streaming_effective_value


def _write_batch(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_streaming_effective_value_carries_state(spark, tmp_path):
    src = tmp_path / "writes"
    src.mkdir()
    _write_batch(
        src / "b1.json",
        [
            {"guid": "p1", "ts": "2024-01-01T00:00:00", "priority": 15, "value": "10"},
            {"guid": "p1", "ts": "2024-01-01T00:01:00", "priority": 9, "value": "99"},
            {"guid": "p2", "ts": "2024-01-01T00:00:00", "priority": 16, "value": "7"},
        ],
    )

    stream = (
        spark.readStream.schema(
            "guid string, ts timestamp, priority int, value string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_effective_value(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("eff_values")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    first = {
        r["guid"]: r
        for r in spark.sql("SELECT * FROM eff_values").collect()
    }
    assert first["p1"]["value"] == "99" and first["p1"]["priority"] == 9
    assert first["p2"]["value"] == "7" and first["p2"]["priority"] == 16

    # batch 2: release priority 9 is not modeled; a NEW priority-1 write
    # (manual override) must win; p2 untouched -> not re-emitted
    _write_batch(
        src / "b2.json",
        [
            {"guid": "p1", "ts": "2024-01-01T00:02:00", "priority": 1, "value": "MANUAL"},
        ],
    )
    q2 = (
        out.writeStream.format("memory")
        .queryName("eff_values2")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt2")
        )
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = spark.sql("SELECT * FROM eff_values2").collect()
    by_guid = {}
    for r in rows:
        by_guid.setdefault(r["guid"], []).append(r)
    # state rebuilt from scratch in this fresh checkpoint: p1 processed
    # across both files; manual override (slot 1) beats slot 9
    p1_final = sorted(by_guid["p1"], key=lambda r: r["ts_us"])[-1]
    assert p1_final["value"] == "MANUAL" and p1_final["priority"] == 1


def test_windowed_rollup_with_watermark(spark, tmp_path):
    from iot_database_spark.streaming.windowed import windowed_rollup

    src = tmp_path / "stream_rollup"
    src.mkdir()
    _write_batch(
        src / "b1.json",
        [
            {"guid": "g", "ts": "2024-01-01T00:01:00", "value": 10.0},
            {"guid": "g", "ts": "2024-01-01T00:03:00", "value": 30.0},
            {"guid": "g", "ts": "2024-01-01T00:07:00", "value": 70.0},
        ],
    )
    stream = spark.readStream.schema(
        "guid string, ts timestamp, value double"
    ).json(str(src))
    out = windowed_rollup(stream, window="5 minutes", watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("rollup_windows")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    import datetime as dt

    rows = {
        r["bucket_start"]: r
        for r in spark.sql("SELECT * FROM rollup_windows").collect()
    }
    w0 = rows[dt.datetime.fromisoformat("2024-01-01T00:00:00")]
    assert w0["n_samples"] == 2
    assert w0["first_value"] == 10.0 and w0["last_value"] == 30.0
    w1 = rows[dt.datetime.fromisoformat("2024-01-01T00:05:00")]
    assert w1["n_samples"] == 1 and w1["max_value"] == 70.0


def test_streaming_rollup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming==batch equivalence on real testdata: the SAME
    windowed_rollup over the events table, executed once through
    Structured Streaming (availableNow over the parquet files) and once
    as a batch plan, must produce identical window rows — the
    correctness statement that makes the two paths interchangeable."""
    from iot_database_spark.streaming.windowed import windowed_rollup

    import os

    path = f"{sf_dir}/events.parquet"
    # the streaming parquet source requires a directory
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    os.symlink(path, stream_dir / "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    convert = lambda df: df.select(  # noqa: E731
        F.col("user_id").cast("string").alias("guid"),
        # watermarks require TIMESTAMP (LTZ); exact under the UTC session tz
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )

    stream = convert(spark.readStream.schema(raw_schema).parquet(str(stream_dir)))
    q = (
        windowed_rollup(stream, window="1 hour", watermark="1 minute")
        .writeStream.format("memory")
        .queryName("events_rollup_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    batch = windowed_rollup(
        convert(spark.read.parquet(path)),
        window="1 hour",
        watermark="1 minute",
    )

    key = lambda r: (r["guid"], r["bucket_start"])  # noqa: E731
    got = {key(r): r for r in spark.table("events_rollup_stream").collect()}
    want = {key(r): r for r in batch.collect()}
    assert set(got) == set(want) and len(got) > 10
    for k, w in want.items():
        g = got[k]
        for c in ("n_samples", "min_value", "max_value", "first_value", "last_value"):
            assert g[c] == w[c], (k, c, g[c], w[c])


def test_windowed_rollup_to_table_equals_batch(spark, sf_dir, tmp_path):
    """foreachBatch-to-table variant: the stream merges each micro-batch
    into a commit-log table (update mode, deterministic window-row ids)
    instead of a driver memory sink; the final table contents must equal
    the batch rollup, and the merge must have gone through the versioned
    commit log (history has versions; time travel works)."""
    import os

    from iot_database_spark.database import IotDatabase
    from iot_database_spark.streaming.windowed import (
        windowed_rollup,
        windowed_rollup_to_table,
    )

    path = f"{sf_dir}/events.parquet"
    stream_dir = tmp_path / "events_stream_tbl"
    stream_dir.mkdir()
    os.symlink(path, stream_dir / "events.parquet")
    raw_schema = spark.read.parquet(path).schema
    convert = lambda df: df.select(  # noqa: E731
        F.col("user_id").cast("string").alias("guid"),
        F.col("ts").cast("timestamp").alias("ts"),
        F.col("value").cast("double").alias("value"),
    )

    db = IotDatabase("streamdb", str(tmp_path / "db"), spark)
    stream = convert(spark.readStream.schema(raw_schema).parquet(str(stream_dir)))
    q = windowed_rollup_to_table(
        stream,
        db,
        "hourly_rollup",
        window="1 hour",
        watermark="1 minute",
        checkpoint=str(tmp_path / "ckpt_tbl"),
    )
    q.awaitTermination(180)

    batch = windowed_rollup(
        convert(spark.read.parquet(path)), window="1 hour", watermark="1 minute"
    )
    table = db.table("hourly_rollup")
    key = lambda r: (r["guid"], r["bucket_start"])  # noqa: E731
    got = {key(r): r for r in table.df.collect()}
    want = {key(r): r for r in batch.collect()}
    assert set(got) == set(want) and len(got) > 10
    for k, w in want.items():
        g = got[k]
        for c in ("n_samples", "min_value", "max_value", "first_value", "last_value"):
            assert g[c] == w[c], (k, c, g[c], w[c])
    # deterministic ids: re-upserting the same windows replaces, not adds
    assert len({r["id"] for r in table.df.select("id").collect()}) == len(got)
    assert len(table.history()) >= 1


def test_windowed_rollup_to_table_merges_across_batches(spark, tmp_path):
    """Cross-micro-batch merge semantics: a later batch that updates an
    already-written window must REPLACE its table row (deterministic
    window-row id + upsert), not append a duplicate — and the final
    table must equal the batch rollup over everything ingested."""
    import json

    from iot_database_spark.database import IotDatabase
    from iot_database_spark.streaming.windowed import (
        windowed_rollup,
        windowed_rollup_to_table,
    )

    src = tmp_path / "mb_src"
    src.mkdir()

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    b1 = [
        {"guid": "g", "ts": "2024-01-01T00:01:00", "value": 10.0},
        {"guid": "g", "ts": "2024-01-01T00:07:00", "value": 70.0},
    ]
    write_batch("b1.json", b1)
    db = IotDatabase("mbdb", str(tmp_path / "db"), spark)

    def run_pass():
        stream = spark.readStream.schema(
            "guid string, ts timestamp, value double"
        ).json(str(src))
        q = windowed_rollup_to_table(
            stream,
            db,
            "mb_rollup",
            window="5 minutes",
            watermark="10 minutes",
            checkpoint=str(tmp_path / "ckpt_mb"),
        )
        q.awaitTermination(120)

    run_pass()
    assert db.table("mb_rollup").df.count() == 2  # two 5-min windows

    # batch 2: one row lands in the EXISTING 00:00 window (updates it),
    # one opens a new window
    b2 = [
        {"guid": "g", "ts": "2024-01-01T00:03:00", "value": 30.0},
        {"guid": "g", "ts": "2024-01-01T00:11:00", "value": 110.0},
    ]
    write_batch("b2.json", b2)
    run_pass()  # same checkpoint: processes only b2

    table = db.table("mb_rollup")
    want = {
        (r["guid"], r["bucket_start"]): r
        for r in windowed_rollup(
            spark.createDataFrame(
                [(r["guid"], r["ts"], r["value"]) for r in b1 + b2],
                "guid string, ts string, value double",
            ).withColumn("ts", F.col("ts").cast("timestamp")),
            window="5 minutes",
            watermark="10 minutes",
        ).collect()
    }
    got = {(r["guid"], r["bucket_start"]): r for r in table.df.collect()}
    assert set(got) == set(want) and len(got) == 3
    for k, w in want.items():
        for c in ("n_samples", "min_value", "max_value"):
            assert got[k][c] == w[c], (k, c)
    # the updated 00:00 window was REPLACED in place: unique ids per window
    assert len({r["id"] for r in table.df.collect()}) == 3


def test_streaming_alerts_carry_state_across_batches(spark, tmp_path):
    """The clear in batch 2 is only detectable if batch 1's raised state
    survived in the state store — one int per series, two micro-batches
    (maxFilesPerTrigger=1)."""
    import json as _json

    from iot_database_spark.streaming.stateful import (
        streaming_threshold_alerts,
    )

    src = tmp_path / "alerts_src"
    src.mkdir()
    b1 = [
        {"guid": 1, "ts": "2024-01-01T00:00:00", "value": 10.0, "event_id": 1},
        {"guid": 1, "ts": "2024-01-01T00:01:00", "value": 250.0, "event_id": 2},
        {"guid": 1, "ts": "2024-01-01T00:02:00", "value": 150.0, "event_id": 3},
    ]
    b2 = [
        # dead-band first: must NOT clear; then a true clear
        {"guid": 1, "ts": "2024-01-01T00:03:00", "value": 120.0, "event_id": 4},
        {"guid": 1, "ts": "2024-01-01T00:04:00", "value": 50.0, "event_id": 5},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema(
            "guid bigint, ts timestamp, value double, event_id bigint"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_threshold_alerts(stream, high=200.0, low=100.0)
    (
        out.writeStream.format("memory")
        .queryName("alert_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "alert_ckpt"))
        .start()
        .awaitTermination(120)
    )
    rows = sorted(spark.table("alert_stream").collect(), key=lambda r: r.ts_us)
    assert [(r.value, r.alert) for r in rows] == [
        (250.0, "raise"),
        (50.0, "clear"),
    ]


def test_stream_sessionization_gap_boundary(spark, tmp_path):
    """Pin the session-split convention the oracle encodes: Spark
    MERGES an event landing exactly `gap` after the previous one (the
    windows [t, t+gap] touch), so a new session needs a STRICTLY
    GREATER gap — exactly-30-minutes merges, 30min+1us splits. Crafted
    single-file events table (the registered query reads a file named
    events.parquet, matching the driver layout)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from iot_database_spark.registry import queries

    base = 1_700_000_000_000_000  # us epoch
    gap = 1_800_000_000  # 30 min in us
    rows = {
        "event_id": [1, 2, 3, 4, 5],
        "ts": pa.array(
            [base,
             base + gap,                    # EXACTLY gap later: merges
             base + 2 * gap + 1,            # gap + 1us after e2: splits
             base + 10 * gap,               # far later: new session
             base + 10 * gap + 5],          # same session as e4
            type=pa.timestamp("us"),
        ),
        "user_id": [7, 7, 7, 7, 7],
        "event_type": ["a"] * 5,
        "value": [1.0] * 5,
        "props": ["{}"] * 5,
    }
    pq.write_table(pa.table(rows), str(tmp_path / "events.parquet"))

    out = queries()["stream_sessionization"](spark, str(tmp_path))
    got = sorted(
        (r.n_events, r.first_event, r.last_event) for r in out.collect()
    )
    # e2 exactly `gap` after e1 -> MERGED (strict-> convention);
    # e3 gap+1us after e2 -> new session
    assert got == [(1, 3, 3), (2, 1, 2), (2, 4, 5)]


def test_cleanup_stream_sinks_sweeps_landed_dirs(spark, smoke_dir):
    """Landed foreachBatch sinks accumulate under one warehouse
    namespace; cleanup_stream_sinks removes them all and reports the
    count (0 on a second sweep). The warehouse namespace is shared per
    cwd, so this test (like the suite) assumes a single pytest process
    — a concurrent run landing sinks between the sweeps would both
    lose its files and change the counts."""
    from iot_database_spark.operators.streaming_queries import (
        cleanup_stream_sinks,
        stream_exact_dedup,
    )

    cleanup_stream_sinks(spark)
    df = stream_exact_dedup(spark, smoke_dir)
    assert df.count() > 0
    assert cleanup_stream_sinks(spark) >= 1
    assert cleanup_stream_sinks(spark) == 0


def test_stream_stream_join_matches_across_batches(spark, tmp_path):
    """Stream-stream join state carry: a view arriving in micro-batch 1
    must join a purchase arriving in micro-batch 2 (the view waits in
    the join state store), and a purchase outside the 30-min window
    must not match. Two json files + maxFilesPerTrigger=1 force two
    real micro-batches."""
    import json as _json

    src = tmp_path / "ssj_src"
    src.mkdir()
    b1 = [
        {"user_id": 1, "event_id": 10, "event_type": "view",
         "ts": "2024-01-01T00:00:00"},
        {"user_id": 2, "event_id": 20, "event_type": "view",
         "ts": "2024-01-01T00:00:00"},
    ]
    b2 = [
        # joins the batch-1 view (12 min later, same user)
        {"user_id": 1, "event_id": 11, "event_type": "purchase",
         "ts": "2024-01-01T00:12:00"},
        # outside the 30-min window -> no match
        {"user_id": 2, "event_id": 21, "event_type": "purchase",
         "ts": "2024-01-01T00:45:00"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))

    from pyspark.sql import functions as F

    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp"

    def side(et, id_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .filter(F.col("event_type") == et)
            .select(
                "user_id",
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    joined = side("view", "view_id", "view_ts").join(
        side("purchase", "purchase_id", "p_ts").withColumnRenamed(
            "user_id", "p_user_id"
        ),
        F.expr(
            "user_id = p_user_id AND "
            "p_ts >= view_ts AND p_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "inner",
    ).select("user_id", "view_id", "purchase_id")
    (
        joined.writeStream.format("memory")
        .queryName("ssj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .start()
        .awaitTermination(120)
    )
    rows = [tuple(r) for r in spark.table("ssj_stream").collect()]
    assert rows == [(1, 10, 11)]


def test_stream_stream_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    """LEFT OUTER stream-stream join semantics pinned: a view with no
    purchase emits its NULL-padded row only once the watermark passes
    the end of its join window — so with a late second batch advancing
    event time far enough, batch 1's unmatched view flushes, while a
    view near the stream's end stays held (its window could still
    match a future purchase). This is the part of outer-join semantics
    a batch SQL twin cannot express, which is why it is pinned HERE
    and not registered as a driver oracle row."""
    import json as _json

    src = tmp_path / "ssoj_src"
    src.mkdir()
    b1 = [
        # unmatched view, early: its 30-min window ends 00:30
        {"user_id": 1, "event_id": 10, "event_type": "view",
         "ts": "2024-01-01T00:00:00"},
    ]
    b2 = [
        # advances the watermark to 10:00 - 1h = 09:00 >> 00:30 on BOTH
        # sides (each side's filter keeps one of these)
        {"user_id": 9, "event_id": 90, "event_type": "view",
         "ts": "2024-01-01T10:00:00"},
        {"user_id": 9, "event_id": 91, "event_type": "purchase",
         "ts": "2024-01-01T10:00:00"},
    ]
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))

    from pyspark.sql import functions as F

    schema = "user_id bigint, event_id bigint, event_type string, ts timestamp"

    def side(et, id_alias, ts_alias):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
            .filter(F.col("event_type") == et)
            .select(
                "user_id",
                F.col("event_id").alias(id_alias),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    joined = side("view", "view_id", "view_ts").join(
        side("purchase", "purchase_id", "p_ts").withColumnRenamed(
            "user_id", "p_user_id"
        ),
        F.expr(
            "user_id = p_user_id AND "
            "p_ts >= view_ts AND p_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "leftOuter",
    ).select("user_id", "view_id", "purchase_id")
    (
        joined.writeStream.format("memory")
        .queryName("ssoj_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ssoj_ckpt"))
        .start()
        .awaitTermination(120)
    )
    rows = {tuple(r) for r in spark.table("ssoj_stream").collect()}
    # the early unmatched view HAS flushed with a NULL purchase;
    # user 9's matched pair is present; user 9's view is matched so no
    # NULL row for it
    assert (1, 10, None) in rows
    assert (9, 90, 91) in rows
    assert (9, 90, None) not in rows


def test_stream_queries_leave_parent_session_conf_untouched(spark, sf_dir):
    """r9 verdict #5: streaming queries must pin their state-store
    partition count on a conf-isolated session CLONE, never by mutating
    the caller's session — a batch query planned concurrently in the
    parent while a stream runs must keep the parent's partitioning."""
    from iot_database_spark.operators.streaming_queries import (
        _STREAM_STATE_PARTITIONS,
        _stream_session,
        stream_windowed_rollup,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    out = stream_windowed_rollup(spark, sf_dir)
    assert out.count() > 0
    assert spark.conf.get(key) == before  # parent untouched
    clone = _stream_session(spark)
    assert clone is not spark
    assert clone.conf.get(key) == str(_STREAM_STATE_PARTITIONS)
    assert clone.sparkContext is spark.sparkContext
    # cached: every streaming query of this parent shares one clone
    assert _stream_session(spark) is clone


def test_stream_state_config_routing(tmp_path, monkeypatch):
    """The stream-state crossover routing (SCALE_r11.md): env pins win,
    big sources pick RocksDB at the measured partition count, small
    sources keep the HDFS-map/8 optimum, and a missing source falls
    back to small-state."""
    from iot_database_spark.operators import streaming_queries as sq

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PROVIDER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", raising=False)
    small = tmp_path / "events.parquet"
    small.write_bytes(b"x" * 1024)
    assert sq._stream_state_config(str(tmp_path), "events.parquet") == (
        "",
        sq._STREAM_STATE_PARTITIONS,
    )
    big = tmp_path / "big" / "events.parquet"
    big.mkdir(parents=True)
    (big / "part-0.parquet").write_bytes(b"x" * (sq._BIG_STATE_SOURCE_BYTES))
    assert sq._stream_state_config(str(tmp_path / "big"), "events.parquet") == (
        "rocksdb",
        sq._BIG_STATE_PARTITIONS,
    )
    # the r12 two-tier route: past the huge threshold the partition
    # count scales to compute parallelism (sf1 vs sf10 A/B, SCALE_r12)
    huge = tmp_path / "huge" / "events.parquet"
    huge.mkdir(parents=True)
    (huge / "part-0.parquet").write_bytes(b"x" * (sq._HUGE_STATE_SOURCE_BYTES))
    assert sq._stream_state_config(str(tmp_path / "huge"), "events.parquet") == (
        "rocksdb",
        sq._HUGE_STATE_PARTITIONS,
    )
    # the huge tier tracks the session's compute parallelism (r12
    # advice: a literal 32 pinned this host's core count), but never
    # drops below the big tier's measured count
    assert sq._stream_state_config(
        str(tmp_path / "huge"), "events.parquet", parallelism=64
    ) == ("rocksdb", 64)
    assert sq._stream_state_config(
        str(tmp_path / "huge"), "events.parquet", parallelism=4
    ) == ("rocksdb", sq._BIG_STATE_PARTITIONS)
    # parallelism never changes the small/big tiers
    assert sq._stream_state_config(
        str(tmp_path / "big"), "events.parquet", parallelism=64
    ) == ("rocksdb", sq._BIG_STATE_PARTITIONS)
    # absent source -> small-state default, never an exception
    assert sq._stream_state_config(str(tmp_path / "nope"), "events.parquet") == (
        "",
        sq._STREAM_STATE_PARTITIONS,
    )
    # env pins override the size routing entirely
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PROVIDER", "rocksdb")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "19")
    assert sq._stream_state_config(str(tmp_path), "events.parquet") == (
        "rocksdb",
        19,
    )
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS")
    assert sq._stream_state_config(str(tmp_path / "big"), "events.parquet") == (
        "rocksdb",
        sq._STREAM_STATE_PARTITIONS,
    )


def test_alert_updater_chunked_equivalence():
    """r12 verdict task #3: the vectorized dead-band-filtering updater
    must equal a naive ordered replay EXACTLY — across multiple Arrow
    chunks (including all-dead-band chunks), out-of-order chunk
    arrival, timestamp ties broken by event_id, overlapping bands
    (raise wins), and carried-in state — while never materializing the
    dead-band majority."""
    import numpy as np
    import pandas as pd

    from iot_database_spark.streaming.stateful import make_alert_updater

    class FakeState:
        def __init__(self, cur=None):
            self.exists = cur is not None
            self._v = (cur,) if cur is not None else None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    rng = np.random.RandomState(7)
    n = 5000
    ts = pd.to_datetime(1_700_000_000_000_000 + rng.permutation(n) * 1_000_000, unit="us")
    # duplicate some timestamps so the event_id tiebreak matters
    ts = ts.where(pd.Series(rng.rand(n) > 0.2), ts[0])
    vals = rng.choice([250.0, 150.0, 50.0, 199.999, 200.0, 100.0], size=n)
    eid = rng.permutation(n).astype("int64")
    pdf = pd.DataFrame({"ts": ts, "event_id": eid, "value": vals})

    def naive(pdf, cur, high=200.0, low=100.0):
        b = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        out = []
        for t, v in zip(
            b["ts"].astype("datetime64[us]").astype("int64"), b["value"]
        ):
            nxt = 1 if v >= high else (0 if v <= low else cur)
            if nxt != cur:
                out.append((int(t), float(v), "raise" if nxt else "clear"))
            cur = nxt
        return out, cur

    update = make_alert_updater(200.0, 100.0)
    for start_state in (None, 0, 1):
        # chunk the batch unevenly, with one all-dead-band chunk
        dead = pd.DataFrame(
            {
                "ts": ts[:7],
                "event_id": eid[:7] + 10_000,
                "value": [150.0] * 7,
            }
        )
        chunks = [pdf.iloc[:13], dead, pdf.iloc[13:700], pdf.iloc[700:]]
        state = FakeState(start_state)
        (got,) = list(update((42,), iter(chunks), state))
        full = pd.concat([pdf, dead], ignore_index=True)
        want, want_state = naive(full, start_state or 0)
        assert state.get == (want_state,)
        got_rows = list(
            zip(got["ts_us"], got["value"], got["alert"])
        )
        assert [(int(t), float(v), a) for t, v, a in got_rows] == want
        assert (got["guid"] == 42).all()


def test_table_insert_from_foreachbatch_frame_completes(spark, sf_dir, tmp_path):
    """Regression pin for the r13 insert/upsert census Observation: a
    batch frame handed to foreachBatch is bound to a per-micro-batch
    session CLONE, and an Observation attached there never completes
    (the write executes under a different session's listener), hanging
    the stream. Table.insert/upsert must detect the cross-session batch
    (tables._same_session) and take the separate census action instead —
    this test simply has to TERMINATE with the right rows to prove it."""
    import os

    from iot_database_spark.database import IotDatabase

    path = f"{sf_dir}/events.parquet"
    stream_dir = tmp_path / "events_stream_ins"
    stream_dir.mkdir()
    os.symlink(path, stream_dir / "events.parquet")
    raw_schema = spark.read.parquet(path).schema

    db = IotDatabase("fbinsdb", str(tmp_path / "db"), spark)
    table = db.tables("landed", "id bigint, user_id bigint")
    counts = []

    def land(batch_df, _batch_id):
        counts.append(
            table.insert(
                batch_df.select(
                    F.col("event_id").cast("bigint").alias("id"),
                    F.col("user_id").cast("bigint").alias("user_id"),
                ).filter(F.col("id") < 100)
            )
        )

    (
        spark.readStream.schema(raw_schema)
        .parquet(str(stream_dir))
        .writeStream.foreachBatch(land)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    assert sum(counts) == 100
    assert table.df.count() == 100
