"""The two workloads: `ingest` and `serve`.

Each is a closed loop with one client thread running a seeded op
sequence over whole units of work (a batch, a cycle). `Run` owns the loop mechanics:
per-op timing, Spark job groups, traced/untraced interleaving and the
correctness bookkeeping. Checks run after an op's timed region; any
mismatch or exception counts the op as failed.
"""

from __future__ import annotations

import math
import os
import time
import traceback
from dataclasses import dataclass

import numpy as np

import gen
from harness import CpuClock, JobCounter, OpJobs, Tracer


@dataclass
class OpRecord:
    cls: str
    latency_s: float
    cpu_s: float
    traced: bool
    jobs: OpJobs
    ok: bool
    warmup: bool


class Run:
    def __init__(self, spark, root: str, seed: int, seconds: float, trace: bool):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = Tracer()
        self.jobs = JobCounter(spark)
        self.cpu = CpuClock()
        self.records: list[OpRecord] = []
        self.errors: list[str] = []
        self.setup_times: list[float] = []
        self.setup_cpu: list[float] = []
        self.warmup_s = 0.0
        self.checks_attempted = 0
        self.checks_failed = 0
        self.extra: dict = {}  # workload-specific results for the report
        self.traced = False  # whether measured ops are traced right now
        self._n = 0

    # -- phases -------------------------------------------------------------

    def setup(self, build, times: int):
        """Run `build(k)` `times` times, each into fresh directories;
        time each and keep the last result. setup_s is the median. A
        traced run does not report setup_s, so it builds once."""
        out = None
        for k in range(1 if self.trace else times):
            c0, t0 = self.cpu.read(), time.perf_counter()
            out = build(k)
            self.setup_times.append(time.perf_counter() - t0)
            self.setup_cpu.append(self.cpu.read() - c0)
        return out

    def measure(self, unit, min_units: int) -> None:
        """Run whole units (a batch, a cycle) until at least
        `seconds` have passed and `min_units` have run. With tracing on,
        units alternate untraced and traced, as many of each; the
        untraced ones are the reference for trace.overhead_pct."""
        t_end = time.perf_counter() + self.seconds
        n = 0
        while n < min_units or time.perf_counter() < t_end or (self.trace and n % 2):
            self.traced = self.trace and n % 2 == 1
            unit()
            n += 1
        self.traced = False

    # -- ops ----------------------------------------------------------------

    def op(self, cls: str, fn, check=None, warmup: bool = False):
        """Time `fn()` as one op of class `cls`, then (untimed) read its
        Spark jobs and run `check(result)`. Returns the result, or None
        when the op failed."""
        i = self._n
        self._n += 1
        traced = self.traced and not warmup
        tr = self.tracer
        tr.begin_op(i, traced)
        self.jobs.begin(i)
        result, ok = None, True
        c0, t0 = self.cpu.read(), time.perf_counter()
        try:
            with tr.span(f"op.{cls}"):
                result = fn()
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            ok = False
            self.errors.append(f"op {i} {cls}: {traceback.format_exc(limit=4)}")
        latency = time.perf_counter() - t0
        cpu_s = self.cpu.read() - c0
        tr.enabled = False
        oj = self.jobs.end(i)
        if traced:
            for s, e in oj.intervals:
                tr.add("spark.job", s, e, None)
        if ok and check is not None:
            try:
                check(result)
            except Exception:  # noqa: BLE001
                ok = False
                self.errors.append(f"op {i} {cls} check: {traceback.format_exc(limit=4)}")
        self.records.append(OpRecord(cls, latency, cpu_s, traced, oj, ok, warmup))
        return result if ok else None

    def check(self, what: str, fn) -> None:
        """A correctness check outside any op (end-of-run verification)."""
        self.checks_attempted += 1
        try:
            fn()
        except Exception:  # noqa: BLE001
            self.checks_failed += 1
            self.errors.append(f"check {what}: {traceback.format_exc(limit=4)}")

    # -- traced helpers -----------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name)

    def plan_and_exec(self, df, action):
        """Force the physical plan (span spark.plan), then run the
        consuming action (span spark.exec). Untraced ops skip the
        separate plan step; the action plans as part of running."""
        if self.tracer.enabled:
            with self.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span("spark.exec"):
            return action(df)


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


WRITE_SCHEMA = "guid string, ts timestamp, priority int, value string"
POINT_SINKS = ("point_writes", "ts_writes", "chain_blocks", "chain_heads")


def _check_write(res: dict, exp: dict) -> None:
    _expect(res["writes"] == exp["writes"], f"writes {res['writes']} != {exp['writes']}")
    _expect(res["ts"] == exp["ts"], f"ts {res['ts']} != {exp['ts']}")
    _expect(res["chain_dropped_retro"] == 0, f"retro drops {res['chain_dropped_retro']}")
    chain = res["chain"] + res["chain_dropped_retro"] + res["chain_dropped_dup"]
    _expect(chain == exp["chain_src"], f"chain {chain} != {exp['chain_src']}")


def _heads_dirs(store) -> int:
    """Data dirs in chain_heads' current manifest, read from disk."""
    import json

    txn = os.path.join(store.chain_heads.path, "_txn")
    if not os.path.isdir(txn):
        return 0
    vs = [int(f[:-5]) for f in os.listdir(txn) if f.endswith(".json") and f[:-5].isdigit()]
    if not vs:
        return 0
    with open(os.path.join(txn, f"{max(vs)}.json")) as fh:
        return len(json.load(fh)["dirs"])


class _WriteTally:
    """Counts the point layer's outcomes over every write_batch of a run."""

    def __init__(self, store):
        self.store = store
        self.submitted = self.landed = self.measured_landed = 0
        self.chain_appended = self.chain_dropped = 0
        self.heads_compactions = 0
        self._heads = _heads_dirs(store)

    def write(self, run: Run, frame, exp: dict, warmup: bool = False):
        sdf = run.spark.createDataFrame(frame, WRITE_SCHEMA)

        def call():
            with run.span("points.write_batch"):
                return self.store.write_batch(sdf)

        res = run.op("write", call, lambda r: _check_write(r, exp), warmup=warmup)
        if res is not None:
            self.submitted += exp["rows"]
            self.landed += res["writes"]
            if not warmup:
                self.measured_landed += res["writes"]
            self.chain_appended += res["chain"]
            self.chain_dropped += res["chain_dropped_retro"] + res["chain_dropped_dup"]
        heads = _heads_dirs(self.store)
        if heads < self._heads:
            self.heads_compactions += 1
        self._heads = heads
        return res

    def report(self) -> dict:
        return {
            "points.accept_ratio": self.landed / self.submitted if self.submitted else None,
            "points.chain_appended": self.chain_appended,
            "points.chain_dropped": self.chain_dropped,
            "points.heads_compactions": self.heads_compactions,
        }


def _verify_chains(store, expected_blocks: int) -> None:
    from pyspark.sql import functions as F

    row = store.verify_chains().agg(
        F.sum("n_blocks").alias("n"),
        F.count(F.when(~F.col("valid"), 1)).alias("broken"),
    ).collect()[0]
    _expect(row["broken"] == 0, f"{row['broken']} broken chains")
    _expect((row["n"] or 0) == expected_blocks, f"{row['n']} blocks != {expected_blocks}")


# -- ingest -------------------------------------------------------------------

INGEST_DEVICES = 2000
INGEST_READINGS = (20, 30)  # per device per batch: ~50k rows a batch
INGEST_WARMUP_BATCHES = 2  # the cold one and the next, still warming
INGEST_MIN_BATCHES = 3  # measured batches per run, however long they take
# a registration is small and its cost falls over the first few while
# the JVM warms, so setup_s is the median of many
INGEST_SETUPS = 5


def ingest(run: Run) -> dict:
    """Bulk write_batch calls of ~50k rows over a 2,000-device fleet with
    the full flag mix: the per-row throughput regime."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.points import PointStore

    fleet = gen.Fleet(run.seed, INGEST_DEVICES)
    guids = [d["guid"] for d in fleet.devices]

    def build(k):
        db = IotDatabase("ingest", os.path.join(run.root, f"wh{k}"), run.spark)
        store = PointStore(db)
        store.register_points(fleet.registry_rows())
        return db, store

    db, store = run.setup(build, INGEST_SETUPS)
    tally = _WriteTally(store)

    def one_batch(warmup: bool = False):
        frame, exp = fleet.batch(guids, INGEST_READINGS)
        if not warmup:
            with_df_probe(run, store)
        tally.write(run, frame, exp, warmup=warmup)

    t0 = time.perf_counter()
    for _ in range(INGEST_WARMUP_BATCHES):
        one_batch(warmup=True)
    run.warmup_s = time.perf_counter() - t0
    run.measure(one_batch, INGEST_MIN_BATCHES)

    run.check("verify_chains", lambda: _verify_chains(store, tally.chain_appended))
    run.extra.update(tally.report())
    return {"db_root": db.root, "sinks": POINT_SINKS, "user_rows": tally.landed, "tally": tally}


def with_df_probe(run: Run, store) -> None:
    """tables.df_ms: resolve point_writes' DataFrame once per traced op,
    outside the op's timed region."""
    if run.traced:
        run.tracer.begin_op(None, True)
        with run.span("tables.df"):
            store.writes.df
        run.tracer.enabled = False


# -- serve --------------------------------------------------------------------

SERVE_DEVICES = 2000
SERVE_HISTORY = (1, (20, 30))  # bulk batches x readings per device (~50k rows)
SERVE_SITES = 40
SERVE_SENSORS = 400
SERVE_VECTORS, VECTOR_DIM = 2000, 64
TICK_DEVICES, TICK_READINGS = 50, (3, 5)  # ~200-row tick writes
# One cycle is 20 ops, sql/find/state/series/vector/write/cq weighted
# 30/15/15/15/10/10/5 and interleaved. The measured window runs whole
# cycles, so every run sees the same class mix whatever its seed (the
# seed picks devices, sites, vectors and values).
SERVE_MIN_CYCLES = 1
# each set-up writes a 50k-row history batch and three tables: two fit
# the time budget, so setup_s is the mean of a cold and a warm build
SERVE_SETUPS = 2
SERIES_WINDOW_US, RESAMPLE_STEP_US = 3_600_000_000, 60_000_000
SERVE_CYCLE = (
    "sql", "state", "find", "sql", "series", "vector", "sql", "write", "state", "find",
    "sql", "series", "cq", "sql", "state", "vector", "find", "sql", "series", "write",
)


class ServeModel:
    """What the serve store holds, for the checks."""

    def __init__(self, fleet: gen.Fleet, sites: list[dict]):
        self.fleet = fleet
        self.sites = sites
        self.sensors: list[dict] = []

    def expected_find(self, region: str, kind: str) -> int:
        ok_sites = {s["id"] for s in self.sites if s["region"] == region}
        return sum(1 for s in self.sensors if s["site_id"] in ok_sites and s["kind"] == kind)

    def expected_site_writes(self) -> int:
        return sum(self.fleet.accepted.get(s["point_guid"], 0) for s in self.sensors)


def serve(run: Run) -> dict:
    """Interactive op mix over a store built in set-up: the per-op
    overhead regime (job launch, planning, Table.df resolution, view
    registration), with tick writes growing the store as it is read."""
    import pandas as pd
    from pyspark.sql import functions as F

    from iot_database_spark.database import IotDatabase
    from iot_database_spark.operators import vector
    from iot_database_spark.points import PointStore
    from iot_database_spark.query import litesql, nl, remote
    from iot_database_spark.streaming.continuous import (
        ContinuousQueryService,
        QueryConfiguration,
    )
    from iot_database_spark.tables import ForeignKey

    spark = run.spark
    vecs = gen.embeddings(run.seed, SERVE_VECTORS, VECTOR_DIM)

    # inputs and the model are generated once, outside the timed
    # set-ups; every build loads the same history into a fresh store
    fleet = gen.Fleet(run.seed, SERVE_DEVICES)
    guids = [d["guid"] for d in fleet.devices]
    registry_rows = fleet.registry_rows()
    history = [fleet.batch(guids, SERVE_HISTORY[1]) for _ in range(SERVE_HISTORY[0])]
    model = ServeModel(fleet, gen.sites(SERVE_SITES))
    model.sensors = [
        {"id": i + 1, "guid": f"sensor-{i:05d}", "site_id": i % SERVE_SITES + 1,
         "point_guid": guids[(i * 5) % len(guids)],
         "kind": gen.SENSOR_KINDS[i % len(gen.SENSOR_KINDS)]}
        for i in range(SERVE_SENSORS)
    ]
    sensor_rows = [dict(s) for s in model.sensors]
    vector_frame = pd.DataFrame({
        "id": np.arange(1, SERVE_VECTORS + 1, dtype=np.int64),
        "embedding": list(vecs),
        "label": np.arange(SERVE_VECTORS, dtype=np.int32) % 10,
    })

    history_blocks = [0]
    cq_results: dict = {}  # query name -> its last pinned result

    def build(k):
        db = IotDatabase("serve", os.path.join(run.root, f"wh{k}"), spark)
        store = PointStore(db)
        store.register_points(registry_rows)
        history_blocks[0] = 0
        for frame, exp in history:
            res = store.write_batch(spark.createDataFrame(frame, WRITE_SCHEMA))
            _check_write(res, exp)
            history_blocks[0] += res["chain"]
        db.tables(
            "sites", "id bigint, site_guid string, site_name string, region string",
            unique=["site_guid"],
        ).insert(model.sites)
        db.tables(
            "sensors",
            "id bigint, guid string, site_id bigint, point_guid string, kind string",
            foreign_keys=[ForeignKey("site_id", "sites")],
            unique=["guid"],
        ).insert(sensor_rows)
        db.tables("vectors", "id bigint, embedding array<float>, label int").insert(
            spark.createDataFrame(vector_frame, "id bigint, embedding array<float>, label int")
        )
        def hot_points(_spark):
            with run.span("continuous.query"):
                return store.ts_writes.df.filter(F.col("value").cast("double") > 30.0).agg(
                    F.count(F.lit(1)).alias("n")
                )

        def sensor_count(_spark):
            with run.span("continuous.query"):
                return litesql.execute(db, "SELECT COUNT(*) AS n FROM sensors")

        def keep(name, df, _now):
            cq_results[name] = df

        svc = ContinuousQueryService(spark)
        svc.add_query(QueryConfiguration("hot_points", hot_points, on_success=keep))
        svc.add_query(QueryConfiguration("sensor_count", sensor_count, on_success=keep))
        return db, store, svc

    db, store, svc = run.setup(build, SERVE_SETUPS)
    sensors_t, vectors_t = db.table("sensors"), db.table("vectors")
    tally = _WriteTally(store)
    rng = np.random.default_rng(run.seed + 1)
    classes = sorted(set(SERVE_CYCLE))
    ts_devices = [d["guid"] for d in fleet.devices if d["flags"] & gen.TS]
    counters = {c: 0 for c in classes}
    vclock = [1_000_000.0]
    onboarded = [0]

    def collect(df):
        return run.plan_and_exec(df, lambda d: d.collect())

    def do(cls: str, warmup: bool = False) -> None:
        n = counters[cls]
        counters[cls] += 1
        if cls == "sql":
            if n % 2 == 0:
                s = model.sensors[int(rng.integers(len(model.sensors)))]
                sql, params = "SELECT * FROM sensors WHERE guid = @g", {"g": s["guid"]}

                def check(rows):
                    _expect(len(rows) == 1 and rows[0]["point_guid"] == s["point_guid"],
                            f"lookup {s['guid']}: {rows}")
            else:
                sql, params = (
                    "SELECT s.site_id AS site_id, COUNT(*) AS n FROM point_writes w "
                    "JOIN sensors s ON w.guid = s.point_guid GROUP BY s.site_id"
                ), None
                want = model.expected_site_writes()

                def check(rows):
                    got = sum(r["n"] for r in rows)
                    _expect(got == want, f"site writes {got} != {want}")

            def call():
                with run.span("query.litesql.translate"):
                    litesql.translate(sql, params)
                with run.span("query.litesql.execute"):
                    df = litesql.execute(db, sql, params)
                return collect(df)

            run.op("sql", call, check, warmup=warmup)
        elif cls == "find":
            region = gen.REGIONS[int(rng.integers(len(gen.REGIONS)))]
            kind = gen.SENSOR_KINDS[int(rng.integers(len(gen.SENSOR_KINDS)))]
            want = model.expected_find(region, kind)
            if n % 2 == 0:
                q = (f"FIND sites, sensors WHERE region = '{region}' AND kind = '{kind}' "
                     "SELECT site_name, guid")

                def call():
                    with run.span("query.nl.parse"):
                        spec = nl.parse_find(q)
                    with run.span("query.nl.execute_find"):
                        df = nl.execute_find(spec, db)
                    return collect(df)
            else:
                payload = remote.build_query(
                    "sites", where=f"region = '{region}'",
                    joins=[{"table": "sensors", "where": f"kind = '{kind}'",
                            "on": "sensors.site_id = sites.id"}],
                    select=[["site_name", "site_name"]],
                )

                def call():
                    with run.span("query.remote.execute_query"):
                        df = remote.execute_query(payload, db)
                    return collect(df)

            run.op("find", call, lambda rows: _expect(len(rows) == want, f"find {len(rows)} != {want}"),
                   warmup=warmup)
        elif cls == "state":
            g = ts_devices[int(rng.integers(len(ts_devices)))]
            slots = dict(fleet.slots.get(g, {}))

            def call():
                with run.span("points.current_state"):
                    df = store.current_state().filter(F.col("guid") == g)
                return collect(df)

            def check(rows):
                _expect(len(rows) == (1 if slots else 0), f"state rows {len(rows)}")
                if rows:
                    want = [slots[p][1] if p in slots else None for p in range(1, 18)]
                    _expect(list(rows[0]["values"]) == want, f"state {g} slots differ")

            run.op("state", call, check, warmup=warmup)
        elif cls == "series":
            g = ts_devices[int(rng.integers(len(ts_devices)))]
            end_us = fleet.last_ts[g]
            start_us = end_us - SERIES_WINDOW_US
            start, end = (F.lit(pd.Timestamp(t, unit="us", tz="UTC").to_pydatetime())
                          for t in (start_us, end_us))
            writes = fleet.series(g, start_us, end_us)
            locf = n % 2 == 0

            def call():
                with run.span("points.get_series"):
                    df = store.get_series(start, end, None if locf else "1 minute")
                    df = df.filter(F.col("guid") == g)
                return collect(df)

            if locf:
                def check(rows):
                    _expect(len(rows) == len(writes), f"series {g}: {len(rows)} != {len(writes)}")
                    if rows:
                        last = max(rows, key=lambda r: r["ts"])
                        got = {p: last[f"slot_{p}"] for p in range(1, 17)}
                        slots = gen.locf_last_slots(writes)
                        want = {p: slots.get(p) for p in range(1, 17)}
                        _expect(got == want, f"series {g}: last slots differ")
            else:
                want = gen.resample_values([(t, float(v)) for t, _p, v in writes],
                                           start_us, end_us, RESAMPLE_STEP_US)

                def check(rows):
                    got = [r["value"] for r in sorted(rows, key=lambda r: r["grid_ts"])]
                    _expect(len(got) == len(want), f"resample {g}: {len(got)} != {len(want)}")
                    _expect(all(math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
                                for a, b in zip(got, want)), f"resample {g}: values differ")

            run.op("series", call, check, warmup=warmup)
        elif cls == "vector":
            q = vecs[int(rng.integers(len(vecs)))] + 0.05 * rng.normal(size=VECTOR_DIM)
            want = set(gen.cosine_topk(vecs, q, 10))
            qcol = F.array(*[F.lit(float(x)) for x in q])

            def call():
                with run.span("tables.df_vectors"):
                    items = vectors_t.df
                with run.span("operators.vector.search_cosine"):
                    df = vector.search_cosine(items, qcol, min_score=-1.0, limit=10, id_col="id")
                return collect(df)

            run.op("vector", call,
                   lambda rows: _expect({r["id"] for r in rows} == want, "vector top-10 differs"),
                   warmup=warmup)
        elif cls == "write":
            if n % 2 == 1:
                k = onboarded[0]
                onboarded[0] += 1
                dev = fleet.add_device(f"new-{k:05d}", "ts")
                sensor = {"id": None, "guid": f"sensor-new-{k:05d}",
                          "site_id": int(rng.integers(SERVE_SITES)) + 1,
                          "point_guid": dev["guid"], "kind": gen.SENSOR_KINDS[k % 4]}

                def call():
                    with run.span("tables.insert"):
                        n_ins = sensors_t.insert([sensor])
                    with run.span("points.register_points"):
                        store.register_points(fleet.registry_rows([dev]))
                    return n_ins

                if run.op("write", call, lambda r: _expect(r == 1, f"insert {r}"),
                          warmup=warmup) is not None:
                    model.sensors.append(sensor)
                    ts_devices.append(dev["guid"])
            else:
                picks = rng.choice(len(fleet.devices), TICK_DEVICES, replace=False)
                frame, exp = fleet.batch([fleet.devices[i]["guid"] for i in sorted(picks)],
                                         TICK_READINGS)
                tally.write(run, frame, exp, warmup=warmup)
        elif cls == "cq":
            vclock[0] += 10.0
            now = vclock[0]

            def call():
                with run.span("continuous.tick"):
                    return svc.tick(now=now)

            def check(names):
                _expect(sorted(names) == svc.names(), f"cq ran {names}")
                hot = sum(1 for log in fleet.ts_log.values() for _t, _p, v in log if float(v) > 30.0)
                got = {k: df.collect()[0]["n"] for k, df in cq_results.items()}
                _expect(got == {"hot_points": hot, "sensor_count": len(model.sensors)},
                        f"cq results {got}")

            run.op("cq", call, check, warmup=warmup)

    # warm-up: every read op shape once (both alternations of each
    # class); the set-ups have already run the write paths
    t0 = time.perf_counter()
    for cls in ("sql", "sql", "find", "find", "state", "series", "series", "vector", "cq"):
        do(cls, warmup=True)
    for c in classes:
        counters[c] = 0
    run.warmup_s = time.perf_counter() - t0

    def cycle():
        for cls in SERVE_CYCLE:
            with_df_probe(run, store)
            do(cls)

    run.measure(cycle, SERVE_MIN_CYCLES)

    run.check("verify_chains",
              lambda: _verify_chains(store, history_blocks[0] + tally.chain_appended))
    run.extra.update(tally.report())
    run.extra["continuous.queries_run"] = len(svc.names()) * sum(
        1 for r in run.records if r.cls == "cq" and r.ok and not r.warmup
    )
    return {
        "db_root": db.root,
        "sinks": POINT_SINKS,
        "user_rows": sum(fleet.accepted.values()),
        "tally": tally,
    }


WORKLOADS = {"ingest": ingest, "serve": serve}
