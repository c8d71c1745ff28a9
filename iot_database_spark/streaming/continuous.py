"""Continuous query service — the reference's QueryExecutionService
(Iot.Database/Queries/QueryExecutionService.cs:12-128) re-expressed for
Spark.

Reference semantics:
- a singleton registry of named queries (`AddQuery(key, config)`),
  each with IntervalMilliseconds; a 1 s timer re-executes any query whose
  interval elapsed (:14-17, :60-85)
- OnSuccess/OnFailure callbacks receive (key, result, timestamp) (:88-95)
- manual ExecuteQuery(key) forces a run (:97-110)
- interval=0 queries execute lazily on read (IotValue.cs:1193-1252);
  results land in IotValue priority slot 14 (:299-317)

Here each named query is a callable returning a DataFrame. Two execution
modes, both preserving those semantics:

- tick(): scheduler mode — evaluate due queries once; call this from any
  driver loop/cron. Deterministic, no threads (the reference's timer
  loop without the wall-clock coupling).
- stream(): Structured Streaming mode — a rate/file/kafka-backed
  readStream with trigger(processingTime=...) + foreachBatch re-running
  the registered queries each micro-batch; the Spark-native form of the
  1 s timer.

Results can be materialized into a point-write log at priority 14 via
`as_point_writes` — the slot-14 convention of the reference.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

QUERY_RESULT_PRIORITY = 14  # IotValue.cs:299-317 — query results slot


@dataclass
class QueryConfiguration:
    """Mirror of Queries/QueryConfiguration.cs: name + interval +
    callbacks."""

    name: str
    query: Callable[[SparkSession], DataFrame]
    interval_ms: int = 1000  # 0 => lazy (execute only on demand)
    on_success: Callable[[str, DataFrame, float], None] | None = None
    on_failure: Callable[[str, Exception, float], None] | None = None
    last_run: float = field(default=0.0, repr=False)
    last_result: DataFrame | None = field(default=None, repr=False)


class ContinuousQueryService:
    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._queries: dict[str, QueryConfiguration] = {}

    # -- registry (AddQuery/RemoveQuery — QueryExecutionService.cs:23-50) --

    def add_query(self, config: QueryConfiguration) -> None:
        self._queries[config.name] = config

    def remove_query(self, name: str) -> None:
        self._queries.pop(name, None)

    def names(self) -> list[str]:
        return sorted(self._queries)

    # -- execution ---------------------------------------------------------

    def execute(self, name: str) -> DataFrame:
        """Manual run (ExecuteQuery — :97-110): runs regardless of
        interval, fires callbacks, records the result."""
        cfg = self._queries[name]
        now = time.time()
        try:
            result = cfg.query(self.spark)
            # Force execution AND pin the rows: failures surface here,
            # and last_result becomes a materialized snapshot of the run
            # — the reference hands callbacks a completed result set
            # (QueryExecutionService.cs:88-95), not a live query that
            # re-evaluates against later table states. Pinning also
            # means every downstream read of the result (slot-14
            # materialization, repeated reads between runs) is free
            # instead of re-running the query per consumer — the
            # count()-force it replaces paid one job to discard the
            # rows, then one more per consumer. Continuous-query results
            # are alert/dashboard-sized by construction; a query whose
            # result is too big to pin is not a 1 s-interval query.
            result = result.localCheckpoint(eager=True)
        except Exception as exc:  # noqa: BLE001 — reference reports all failures
            if cfg.on_failure:
                cfg.on_failure(name, exc, now)
            raise
        cfg.last_run = now
        cfg.last_result = result
        if cfg.on_success:
            cfg.on_success(name, result, now)
        return result

    def tick(self, now: float | None = None) -> list[str]:
        """One scheduler pass (the 1 s timer body — :60-85): execute every
        query whose interval has elapsed; returns the names run.
        interval_ms=0 queries never run on tick (lazy — IotValue.cs:1242).

        Due queries are INDEPENDENT (each snapshots its own result set),
        so they execute concurrently from a small driver thread pool —
        Spark's scheduler happily runs several jobs at once and each
        query's eager pin job back-fills the others' straggler tails
        (guide §2.6). Results, last_run stamps, and the returned name
        list are identical to the sequential form; only callback WALL
        ORDER may interleave across queries (per-query success ordering
        is unchanged — each query's callback still fires after its own
        result is pinned)."""
        now = time.time() if now is None else now
        due = [
            name
            for name, cfg in sorted(self._queries.items())
            if cfg.interval_ms > 0
            and (now - cfg.last_run) * 1000.0 >= cfg.interval_ms
        ]
        self._execute_concurrent(due)
        for name in due:
            self._queries[name].last_run = now
        return due

    def _execute_concurrent(self, names: list[str]) -> None:
        """Run execute() for every name, overlapping the per-query Spark
        jobs (2-4 in flight: enough to fill stage tails, not enough to
        fight for cores). A single name short-circuits to a plain call;
        failures propagate (first exception re-raised, matching the
        sequential form's fail-fast on the earliest-sorted name)."""
        if not names:
            return
        if len(names) == 1:
            self.execute(names[0])
            return
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # each worker thread inherits the driver thread's JVM-local
        # properties (job group / description) and the session's tags,
        # so its jobs stay attributable and interruptTag cancels them;
        # without the session PySpark skips the tags and warns on every
        # call. With pinned-thread mode off (PYSPARK_PIN_THREAD=false)
        # there are no per-thread JVM properties, and PySpark hands the
        # session back instead of a wrapper.
        wrap = inheritable_thread_target(self.spark)
        target = wrap(self.execute) if callable(wrap) else self.execute
        with ThreadPoolExecutor(max_workers=min(4, len(names))) as pool:
            futures = [pool.submit(target, n) for n in names]
            for f in futures:  # submission order == sorted-name order
                f.result()

    def read(self, name: str) -> DataFrame:
        """Read a query's last result; lazy queries (interval 0) execute
        on read — the slot-17-config / slot-14-result lazy path
        (IotValue.cs:1193-1252)."""
        cfg = self._queries[name]
        if cfg.last_result is None or cfg.interval_ms <= 0:
            return self.execute(name)
        return cfg.last_result

    def read_many(self, names: list[str]) -> dict[str, DataFrame]:
        """read() over several registered queries, overlapping the lazy
        executions (each lazy read is an independent snapshot job — the
        same §2.6 back-fill as tick). Returns {name: result} with every
        result identical to a sequential read() loop; already-pinned
        scheduled results are returned without re-execution."""
        fresh = [
            n
            for n in names
            if self._queries[n].last_result is None
            or self._queries[n].interval_ms <= 0
        ]
        self._execute_concurrent(fresh)
        # after _execute_concurrent every fresh name has a pinned
        # last_result; re-executing lazy queries via read() here would
        # pay the job again, so hand back the pins directly
        return {n: self._queries[n].last_result for n in names}

    # -- Structured Streaming form ----------------------------------------

    def stream(
        self,
        source: DataFrame,
        interval: str = "1 second",
        checkpoint: str | None = None,
        available_now: bool = False,
    ):
        """Drive the registered queries from a streaming source: each
        micro-batch triggers a tick() over all interval>0 queries — the
        Spark-native form of the reference's timer thread. `source` is any
        readStream DataFrame (rate source in tests, kafka/files in prod)."""

        def run_batch(_batch_df: DataFrame, _batch_id: int) -> None:
            self.tick()

        writer = source.writeStream.foreachBatch(run_batch)
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=interval)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()


def as_point_writes(
    result: DataFrame, guid: str, ts_col: str | None = None
) -> DataFrame:
    """Materialize a (single-column) query result as point writes at
    priority 14 — the reference stores the continuous query's result in
    IotValue slot 14 (IotValue.cs:1193-1252)."""
    first_col = result.columns[0]
    return result.select(
        F.lit(guid).alias("guid"),
        (F.col(ts_col) if ts_col else F.current_timestamp()).alias("ts"),
        F.lit(QUERY_RESULT_PRIORITY).alias("priority"),
        F.col(first_col).cast("string").alias("value"),
    )


def write_behind_batches(
    queue: DataFrame, batch_size: int = 1000, order_col: str = "ts"
) -> DataFrame:
    """Write-behind ingestion batching (TableCollection.cs:1372-1405:
    <=1000 entities per cycle): assign batch numbers by arrival order so a
    foreachBatch sink drains the queue in reference-sized chunks."""
    from pyspark.sql import Window as W

    w = W.orderBy(order_col)
    return queue.withColumn(
        "batch_id",
        ((F.row_number().over(w) - 1) / batch_size).cast("int"),
    )
