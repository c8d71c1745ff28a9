"""Routing guards for two size- and master-dependent plan choices: the
streaming state-store configuration and the shingle-stream
materialization strategy of the document dedup operators."""

from __future__ import annotations

from iot_database_spark.operators import dedup as dd


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


def test_materialize_mode_routing(monkeypatch, spark):
    """The shingle-stream materialization strategy follows the master:
    localCheckpoint only where executor loss already means job loss
    (local[*]), replicated persist anywhere else. Both strategies
    materialize the same rows, and persist2 really replicates to
    disk-able storage."""
    assert dd._materialize_mode("local[32]") == "local"
    assert dd._materialize_mode("local") == "local"
    assert dd._materialize_mode("spark://host:7077") == "persist2"
    assert dd._materialize_mode("yarn") == "persist2"
    assert dd._materialize_mode("k8s://https://host") == "persist2"
    assert dd._materialize_mode(None) == "persist2"

    src = spark.range(0, 100).selectExpr("id", "id % 7 AS k")
    want = sorted((r["id"], r["k"]) for r in src.collect())
    for mode in ("local", "persist2"):
        monkeypatch.setattr(dd, "_materialize_mode", lambda master, m=mode: m)
        out = dd._materialize_once(src)
        assert sorted((r["id"], r["k"]) for r in out.collect()) == want
        if mode == "persist2":
            assert out.storageLevel.replication == 2
            assert out.storageLevel.useDisk
            out.unpersist(blocking=False)
