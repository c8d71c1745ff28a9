"""py4j budget of the interactive paths: the driver-side plan building
of a SQL lookup, a state lookup, a series build, a FIND and a vector
search, and a small chained write, counted as py4j commands sent to the
JVM. Unlike the CPU figures of the `serve` benchmark, these counts do
not depend on the host, so a regression in plan building shows here as
a hard number.

Each count is the minimum over three repeats after a warm-up, counts
only the calling thread's commands, and pauses the cyclic garbage
collector so a sweep of unrelated JVM handles does not land in the
window."""

from __future__ import annotations

import gc
import threading
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from iot_database_spark.database import IotDatabase
from iot_database_spark.operators import vector
from iot_database_spark.points import PointStore
from iot_database_spark.query import litesql, nl
from iot_database_spark.tables import ForeignKey


@pytest.fixture()
def store(spark, tmp_path):
    db = IotDatabase("budget", str(tmp_path), spark)
    store = PointStore(db)
    guids = [f"dev-{i:02d}" for i in range(20)]
    store.register_points([{"guid": g, "flags": 2 | 4} for g in guids])
    t0 = datetime(2024, 1, 1)
    store.write_batch(
        spark.createDataFrame(
            [
                (g, t0 + timedelta(minutes=k), k % 16 + 1, str(k))
                for g in guids
                for k in range(10)
            ],
            "guid string, ts timestamp, priority int, value string",
        )
    )
    db.tables("sites", "id bigint, name string").insert(
        [{"id": i, "name": f"s{i}"} for i in range(1, 4)]
    )
    db.tables(
        "sensors",
        "id bigint, guid string, site_id bigint",
        foreign_keys=[ForeignKey("site_id", "sites")],
    ).insert([{"id": i, "guid": f"sensor-{i}", "site_id": i % 3 + 1} for i in range(1, 11)])
    db.tables("vectors", "id bigint, embedding array<float>, label int").insert(
        [
            {"id": i, "embedding": [float((i * k) % 7) for k in range(8)], "label": i % 2}
            for i in range(1, 21)
        ]
    )
    return store


def _py4j_calls(spark, monkeypatch, fn) -> int:
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    n = [0]

    def counting(*args, **kwargs):
        # only this thread's commands: a streaming query or timer left
        # running by another test sends its own
        n[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    fn()  # warm-up: first-use class loading and memo fills
    monkeypatch.setattr(client, "send_command", counting)
    counts = []
    try:
        for _ in range(3):
            gc.collect()
            gc.disable()
            n[0] = 0
            try:
                fn()
            finally:
                gc.enable()
            counts.append(n[0])
    finally:
        monkeypatch.setattr(client, "send_command", send)
    return min(counts)


def test_read_paths_stay_within_py4j_budget(store, spark, monkeypatch):
    db = store.db
    start, end = F.lit(datetime(2024, 1, 1)), F.lit(datetime(2024, 1, 1, 1))
    find = nl.parse_find("FIND sites, sensors WHERE name = 's2' AND id > 3 SELECT name, guid")
    qvec = F.array(*[F.lit(float(k)) for k in range(8)])
    budgets = {
        "sql one-table lookup": (
            40,
            lambda: litesql.execute(
                db, "SELECT * FROM sensors WHERE guid = @g", {"g": "sensor-3"}
            ).collect(),
        ),
        "LOCF series build": (60, lambda: store.get_series(start, end)),
        "resample build": (110, lambda: store.get_series(start, end, "1 minute")),
        "repeated state lookup": (
            20,
            lambda: store.current_state().filter(F.col("guid") == "dev-03").collect(),
        ),
        "FIND build": (150, lambda: nl.execute_find(find, db)),
        "vector search build": (
            60,
            lambda: vector.search_cosine(
                db.table("vectors").df, qvec, min_score=-1.0, limit=5, id_col="id"
            ),
        ),
    }
    got = {
        name: _py4j_calls(spark, monkeypatch, fn) for name, (_b, fn) in budgets.items()
    }
    assert all(got[name] <= b for name, (b, _fn) in budgets.items()), got


def test_chained_write_stays_within_py4j_budget(store, spark, monkeypatch):
    # 50 TimeSeries + BlockChain + PasswordValue points, 4 readings each;
    # every call writes later readings, so each one appends to the chain
    guids = [f"chain-{i:02d}" for i in range(50)]
    store.register_points([{"guid": g, "flags": 2 | 4 | 8} for g in guids])
    t0 = datetime(2024, 2, 1)
    batches = [
        spark.createDataFrame(
            [
                (g, t0 + timedelta(minutes=4 * call + k), 16, str(k))
                for g in guids
                for k in range(4)
            ],
            "guid string, ts timestamp, priority int, value string",
        )
        for call in range(4)  # warm-up + three counted repeats
    ]
    n = _py4j_calls(spark, monkeypatch, lambda: store.write_batch(batches.pop(0)))
    assert n <= 1400, n
