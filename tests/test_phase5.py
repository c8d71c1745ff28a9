"""Tests: continuous query service, sources/sinks, file manager, users,
unit conversion."""

from __future__ import annotations

import os
import subprocess
import sys
import warnings
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from iot_database_spark.database import IotDatabase
from iot_database_spark.files import FileManager, FileManagerError
from iot_database_spark.functions.units import (
    RuleError,
    compile_rule,
    convert,
    convert_slots,
)
from iot_database_spark.sources import files as src
from iot_database_spark.streaming.continuous import (
    ContinuousQueryService,
    QueryConfiguration,
    as_point_writes,
    write_behind_batches,
)
from iot_database_spark.users import ACTION_READ, ACTION_WRITE, UserManager


# -- continuous queries (QueryExecutionService.cs) --------------------------

def test_tick_respects_intervals(spark):
    svc = ContinuousQueryService(spark)
    runs: list[str] = []

    def make(name):
        def q(s):
            runs.append(name)
            return s.range(3).toDF("v")
        return q

    svc.add_query(QueryConfiguration("fast", make("fast"), interval_ms=1000))
    svc.add_query(QueryConfiguration("slow", make("slow"), interval_ms=60_000))
    svc.add_query(QueryConfiguration("lazy", make("lazy"), interval_ms=0))

    t0 = 1000.0
    assert svc.tick(now=t0) == ["fast", "slow"]  # first tick: both due
    assert svc.tick(now=t0 + 2) == ["fast"]      # 2s later: only fast
    assert svc.tick(now=t0 + 2.5) == []          # 0.5s later: nothing
    assert "lazy" not in runs                    # lazy never ticks

    assert svc.read("lazy").count() == 3         # lazy runs on read
    assert runs.count("lazy") == 1
    svc.read("lazy")
    assert runs.count("lazy") == 2               # interval 0 -> always re-runs


def test_concurrent_tick_inherits_session_tags_without_warning(spark):
    # a tick with two due queries runs them on worker threads; each must
    # carry the session's tags (so interruptTag reaches its jobs) and
    # the wrapping must not warn on every tick
    svc = ContinuousQueryService(spark)
    seen: dict[str, set[str]] = {}

    def make(name):
        def q(s):
            seen[name] = set(s.getTags())
            return s.range(3).toDF("v")
        return q

    svc.add_query(QueryConfiguration("a", make("a"), interval_ms=1000))
    svc.add_query(QueryConfiguration("b", make("b"), interval_ms=1000))
    spark.addTag("cq-tick")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            assert svc.tick(now=1000.0) == ["a", "b"]
    finally:
        spark.removeTag("cq-tick")
    assert seen == {"a": {"cq-tick"}, "b": {"cq-tick"}}


def test_concurrent_tick_with_pinned_threads_off():
    # PYSPARK_PIN_THREAD=false makes inheritable_thread_target(session)
    # return the session itself, not a wrapper; the tick must still run
    script = (
        "from iot_database_spark.session import get_spark\n"
        "from iot_database_spark.streaming.continuous import "
        "ContinuousQueryService, QueryConfiguration\n"
        "svc = ContinuousQueryService(get_spark('pin_off'))\n"
        "for n in 'ab':\n"
        "    svc.add_query(QueryConfiguration(n, lambda s: s.range(3).toDF('v'), 1000))\n"
        "print(svc.tick(now=1000.0))\n"
    )
    env = {**os.environ, "PYSPARK_PIN_THREAD": "false", "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "['a', 'b']"


def test_callbacks_and_failures(spark):
    svc = ContinuousQueryService(spark)
    events = []
    svc.add_query(
        QueryConfiguration(
            "ok",
            lambda s: s.range(1).toDF("v"),
            on_success=lambda n, df, ts: events.append(("ok", n)),
        )
    )

    def boom(s):
        raise RuntimeError("query exploded")

    svc.add_query(
        QueryConfiguration(
            "bad", boom,
            on_failure=lambda n, exc, ts: events.append(("fail", n, str(exc))),
        )
    )
    svc.execute("ok")
    with pytest.raises(RuntimeError):
        svc.execute("bad")
    assert ("ok", "ok") in events
    assert ("fail", "bad", "query exploded") in events


def test_result_to_slot14_point_writes(spark):
    result = spark.createDataFrame([(42.5,)], ["mean_value"])
    writes = as_point_writes(result, guid="point-1").collect()
    assert writes[0]["priority"] == 14
    assert writes[0]["value"] == "42.5"
    assert writes[0]["guid"] == "point-1"


def test_streaming_tick_via_rate_source(spark, tmp_path):
    svc = ContinuousQueryService(spark)
    ran = []
    svc.add_query(
        QueryConfiguration("s", lambda s: (ran.append(1), s.range(1).toDF("v"))[1])
    )
    source = spark.readStream.format("rate").option("rowsPerSecond", 10).load()
    q = svc.stream(source, checkpoint=str(tmp_path / "ckpt"), available_now=True)
    q.awaitTermination(60)
    assert ran  # at least one micro-batch ticked the registry


def test_write_behind_batches(spark):
    queue = spark.range(2500).select(F.col("id").alias("ts"))
    batches = write_behind_batches(queue, batch_size=1000)
    sizes = {r["batch_id"]: r["n"] for r in batches.groupBy("batch_id").agg(F.count("*").alias("n")).collect()}
    assert sizes == {0: 1000, 1: 1000, 2: 500}


# -- sources / sinks --------------------------------------------------------

def test_csv_json_roundtrip_and_into(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, name string")
    src.write_csv(df, str(tmp_path / "c"))
    back = src.read_csv(spark, str(tmp_path / "c"), schema="id int, name string")
    assert sorted(r["name"] for r in back.collect()) == ["a", "b"]

    src.write_json(df, str(tmp_path / "j"))
    back_j = src.read_json(spark, str(tmp_path / "j"), schema="id int, name string")
    assert back_j.count() == 2

    src.select_into(df.filter("id = 1"), str(tmp_path / "t"))
    assert spark.read.parquet(str(tmp_path / "t")).count() == 1

    src.register_source(spark, "my_source", lambda: df)
    assert spark.sql("SELECT count(*) AS n FROM my_source").collect()[0]["n"] == 2


# -- file manager (FileCollection.cs) ---------------------------------------

def test_file_manager_lifecycle(spark, tmp_path):
    db = IotDatabase("fmdb", str(tmp_path), spark)
    fm = FileManager(db)
    blob = tmp_path / "doc.txt"
    blob.write_text("v1 content")

    fm.add("doc.txt", str(blob), actor="alice")
    with pytest.raises(FileManagerError, match="already exists"):
        fm.add("doc.txt", str(blob), actor="alice")

    with pytest.raises(FileManagerError, match="not checked out"):
        fm.checkin("doc.txt", str(blob), actor="bob")

    fm.checkout("doc.txt", actor="bob")
    with pytest.raises(FileManagerError, match="already checked out"):
        fm.checkout("doc.txt", actor="carol")

    blob.write_text("v2 content, longer")
    assert fm.checkin("doc.txt", str(blob), actor="bob") == 2

    hist = fm.history("doc.txt").collect()
    assert [r["version"] for r in hist] == [1, 2]
    assert hist[0]["sha256"] != hist[1]["sha256"]
    with open(fm.open_path("doc.txt", version=1)) as f:
        assert f.read() == "v1 content"
    with open(fm.open_path("doc.txt")) as f:
        assert f.read() == "v2 content, longer"

    actions = [r["action"] for r in fm.log("doc.txt").collect()]
    assert actions == ["add", "checkout", "checkin"]

    fm.rename("doc.txt", "doc2.txt", actor="alice")
    assert fm.history("doc2.txt").count() == 2


# -- users / permissions ----------------------------------------------------

def test_users_and_permissions(spark, tmp_path):
    db = IotDatabase("userdb", str(tmp_path), spark)
    um = UserManager(db)
    uid = um.add_user("alice", "s3cret")
    admin = um.add_user("root", "pw", is_admin=True)

    assert um.authenticate("alice", "s3cret")
    assert not um.authenticate("alice", "wrong")

    um.grant(uid, "sensors", ACTION_READ)
    assert um.can(uid, "sensors", ACTION_READ)
    assert not um.can(uid, "sensors", ACTION_WRITE)
    assert not um.can(uid, "other", ACTION_READ)
    assert um.can(admin, "anything", ACTION_WRITE)  # admin bypass


# -- unit conversion (IotUnit.cs) -------------------------------------------

def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_rule_compiler_and_conversions(spark):
    c = F.lit(100.0)
    assert _one(spark, convert(c, "degC", "degF")) == pytest.approx(212.0)
    assert _one(spark, convert(F.lit(32.0), "degF", "degC")) == pytest.approx(0.0)
    # Reference parity for Length/Power: the published rules in those
    # groups are inverted relative to their own comments (Units.cs:1322
    # kilometers["meters"] = "value * 1000", commented "Convert m to km");
    # IotUnit.Convert applies the rule string as-is, and so do we.
    assert _one(spark, convert(c, "m", "km")) == pytest.approx(100000.0)
    assert _one(spark, convert(c, "kW", "W")) == pytest.approx(0.1)
    assert _one(spark, convert(c, "m", "m")) is not None  # identity
    # name-based lookup straight from the generated 435-unit catalog
    assert _one(spark, convert(c, "degrees_rankine", "degrees_fahrenheit")) \
        == pytest.approx(559.67)
    assert _one(
        spark, convert(F.lit(180.0), "degrees_angular", "radians")
    ) == pytest.approx(3.14159265, rel=1e-6)

    fn = compile_rule("(value - 32) * 5 / 9")
    assert _one(spark, fn(F.lit(212.0))) == pytest.approx(100.0)

    with pytest.raises(RuleError):
        compile_rule("value ** 2")(F.lit(1.0))
    with pytest.raises(RuleError):
        compile_rule("__import__('os')")(F.lit(1.0))


def test_convert_slots_skips_priority17_and_non_numeric(spark):
    values = F.array(
        *[F.lit(x) for x in ["10"] + [None] * 13 + ["20", "30", "40"]]
    )  # priorities 1,15,16,17 set; priority 17 (idx 16) = '40'
    out = _one(spark, convert_slots(values, "degC", "degF"))
    assert out[0] == "50.0"       # priority 1 converted (10C -> 50F)
    assert out[14] == "68.0"      # priority 15 converted
    assert out[15] == "86.0"      # priority 16 converted
    # priority 17 = Values[16] = QueryConfiguration — IotUnit.cs:50
    # `if (i != 16 ...)` skips exactly this index
    assert out[16] == "40"
