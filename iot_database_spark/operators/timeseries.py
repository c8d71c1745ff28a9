"""Time-series reads: LOCF priority-merge and grid resampling with linear
interpolation — the reference's delta-T store read path re-expressed as
window functions.

Reference semantics (Iot.Database/TimeSeries/TsCollection.cs):
- Storage: delta-encoded int milliseconds per 20-day group
  (BaseDeltaT/BaseValue.cs:16-31). We store raw (guid, ts, priority, value)
  rows in Parquet instead — Parquet's own delta/dictionary encodings make
  the hand-rolled compression unnecessary, and a long/narrow layout
  partitions by (date, guid-bucket) at 100 TB.
- Get(start, end) (:130-185): merge all priority slots into one event
  stream where each event carries every slot's last-observed value
  (LOCF across priorities), effective value = highest-priority non-null.
- Get(start, end, interval) (:188-233): walk a fixed grid; for each grid
  point take nearest-before/nearest-after samples; numeric values get
  linear interpolation (ValueInterpolated flag set), non-numeric or
  one-sided fill forward; grid points before the first sample are skipped.
  (The reference's AddMilliseconds accumulation bug at :217 is NOT
  replicated — we implement the documented intent: a regular grid.)

All operators below are pure DataFrame transformations: one shuffle on
guid (window partition), no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from iot_database_spark.functions.time import epoch_us, epoch_us_sql


def locf_merge(
    writes: DataFrame,
    guid: str = "guid",
    ts: str = "ts",
    priority: str = "priority",
    value: str = "value",
    priorities: tuple[int, ...] = tuple(range(1, 17)),
    tiebreak: str | None = None,
) -> DataFrame:
    """Priority-merged LOCF event stream (TsCollection.cs:163-181).

    For every write event, emit the full slot vector as-of that event:
    slot p = last value written at priority p up to and including this ts.
    `value` = effective (lowest-numbered non-null slot), `eff_priority`
    its slot number.
    """
    order = ", ".join(c for c in (ts, tiebreak) if c)
    w = (
        f"OVER (PARTITION BY {guid} ORDER BY {order} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    # SQL expression strings, one parse each: the same 16-slot tree built
    # from Column calls costs a py4j round trip per node
    slots = writes.selectExpr(
        guid,
        ts,
        priority,
        value,
        *[
            f"last(CASE WHEN {priority} = {p} THEN {value} END, true) {w} "
            f"AS slot_{p}"
            for p in priorities
        ],
    )
    eff = ", ".join(f"slot_{p}" for p in priorities)
    eff_p = ", ".join(
        f"CASE WHEN slot_{p} IS NOT NULL THEN {p} END" for p in priorities
    )
    return slots.selectExpr(
        "*", f"coalesce({eff}) AS eff_value", f"coalesce({eff_p}) AS eff_priority"
    )


def resample(
    samples: DataFrame,
    start: Column | str,
    end: Column | str,
    interval: str,
    guid: str = "guid",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Fixed-grid resample with linear interpolation (TsCollection.cs:188-233).

    Output one row per (guid, grid_ts) with:
      value         — sample value if one lands exactly on the grid point,
                      else linear interpolation between nearest before/after
                      numeric samples, else fill-forward
      interpolated  — true iff the value was linearly interpolated
                      (the ValueInterpolated flag, IotValueFlags.cs)
    Grid points before a series' first sample are skipped (reference
    skips until data exists).

    Plan shape: grid rows are unioned with samples and resolved with two
    windows (last-before / first-after) — a single shuffle on guid; the
    grid explode is O(#guids x #points) rows, never driver-side.
    """
    # NTZ grid: the testdata's ts columns read as TIMESTAMP_NTZ, and an
    # LTZ grid would force a union-wide coercion of the sample side
    start_c = F.lit(start).cast("timestamp_ntz") if isinstance(start, str) else start
    end_c = F.lit(end).cast("timestamp_ntz") if isinstance(end, str) else end

    guids = samples.select(guid).distinct()
    grid = guids.select(
        guid,
        F.explode(
            F.sequence(start_c, end_c, F.expr(f"INTERVAL {interval}"))
        ).alias("grid_ts"),
    )

    s = samples.selectExpr(
        guid, f"{ts} AS grid_ts", f"CAST({value} AS DOUBLE) AS _v", "1 AS _is_sample"
    )
    g = grid.selectExpr(
        guid, "grid_ts", "CAST(NULL AS DOUBLE) AS _v", "0 AS _is_sample"
    )
    both = s.unionByName(g)

    # at equal ts, order samples before grid points so "last before or at"
    # sees a co-located sample.
    # "first non-null at-or-after" is computed as a RUNNING last over the
    # REVERSED sort, not a [currentRow, unboundedFollowing] frame: the
    # running frame keeps O(1) state per row, where Spark evaluates an
    # unbounded-following first(ignorenulls) by scanning forward from
    # every row — O(n^2) per partition on sparse series. Same single
    # exchange; the second sort happens within partitions.
    running = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    w_before = (
        f"OVER (PARTITION BY {guid} ORDER BY grid_ts, _is_sample DESC {running})"
    )
    w_after_rev = (
        f"OVER (PARTITION BY {guid} ORDER BY grid_ts DESC, _is_sample {running})"
    )
    sample_ts = "CASE WHEN _is_sample = 1 THEN grid_ts END"
    resolved = both.selectExpr(
        "*",
        f"last(_v, true) {w_before} AS prev_v",
        f"last({sample_ts}, true) {w_before} AS prev_ts",
        f"last(_v, true) {w_after_rev} AS next_v",
        f"last({sample_ts}, true) {w_after_rev} AS next_ts",
    ).filter("_is_sample = 0 AND prev_ts IS NOT NULL")  # skip before first sample

    exact = "prev_ts = grid_ts"
    interpolable = (
        "next_ts IS NOT NULL AND next_ts != prev_ts "
        "AND prev_v IS NOT NULL AND next_v IS NOT NULL"
    )
    frac = (
        f"CAST({epoch_us_sql('grid_ts')} - {epoch_us_sql('prev_ts')} AS DOUBLE) "
        f"/ CAST({epoch_us_sql('next_ts')} - {epoch_us_sql('prev_ts')} AS DOUBLE)"
    )
    interp = f"prev_v + (next_v - prev_v) * ({frac})"
    return resolved.selectExpr(
        guid,
        "grid_ts",
        f"CASE WHEN {exact} THEN prev_v WHEN {interpolable} THEN {interp} "
        "ELSE prev_v END AS value",
        f"(NOT ({exact}) AND ({interpolable})) AS interpolated",
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: tuple[str, ...] = ("value",),
) -> DataFrame:
    """As-of join: for each left row, the most recent right row with
    right_ts <= left_ts within the same key (the nearest-before semantics
    of the reference's TS reads, TsCollection.cs:197-198, promoted to a
    first-class relational operator).

    Plan: union both sides tagged, one window per key ordered by
    (ts, side) carrying the right side's values forward — a single
    shuffle on the key, no range-condition join explosion. This is the
    shape that survives 100 TB (an inequality join would not).
    """
    lcols = left.columns
    l = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_lrow"),
        *[F.lit(None).cast(dict(right.dtypes)[c]).alias(f"_r_{c}") for c in right_cols],
        # match the right side's ts type exactly (NTZ for parquet-read
        # columns) — a hardcoded LTZ cast forces a union-wide coercion
        F.lit(None).cast(dict(right.dtypes)[right_ts]).alias("_r_ts"),
    )
    r = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l.schema["_lrow"].dataType).alias("_lrow"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
        F.col(right_ts).alias("_r_ts"),
    )
    w = (
        W.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side"))  # right sorts before left at ties
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    merged = l.unionByName(r)
    carried = merged.select(
        "_side",
        "_lrow",
        *[
            F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"asof_{c}")
            for c in right_cols
        ],
        F.last("_r_ts", ignorenulls=True).over(w).alias("asof_ts"),
    ).filter(F.col("_side") == 1)
    return carried.select(
        *[F.col(f"_lrow.{c}").alias(c) for c in lcols],
        *[F.col(f"asof_{c}") for c in right_cols],
        "asof_ts",
    )


def rollup_by_interval(
    samples: DataFrame,
    interval: str = "1 hour",
    guid: str = "guid",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Hypertable-style time-bucket rollup: per (guid, bucket) the
    standard continuous-aggregate columns. Partial+final hash aggregation
    — one shuffle; at storage level the bucket is the partition key, so
    incremental refresh only touches recent partitions."""
    v = F.col(value).cast("double")
    return (
        samples.groupBy(
            F.col(guid).alias(guid),
            F.window(F.col(ts), interval).start.alias("bucket_start"),
        )
        .agg(
            F.count("*").alias("n_samples"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.min_by(v, F.col(ts)).alias("first_value"),
            F.max_by(v, F.col(ts)).alias("last_value"),
        )
    )


def detect_gaps(
    samples: DataFrame,
    max_gap_seconds: float = 3600.0,
    guid: str = "guid",
    ts: str = "ts",
) -> DataFrame:
    """Report gaps longer than max_gap_seconds within each series (the
    monitoring primitive the reference's continuous queries serve)."""
    w = W.partitionBy(guid).orderBy(ts)
    return (
        samples.withColumn("prev_ts", F.lag(ts).over(w))
        .withColumn(
            "gap_seconds",
            (epoch_us(ts) - epoch_us("prev_ts")) / 1_000_000.0,
        )
        .filter(F.col("prev_ts").isNotNull())
        .filter(F.col("gap_seconds") > max_gap_seconds)
        .select(
            guid,
            F.col("prev_ts").alias("gap_start"),
            F.col(ts).alias("gap_end"),
            "gap_seconds",
        )
    )


def rate_of_change(
    samples: DataFrame,
    guid: str = "guid",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """Per-sample delta and rate (counter derivative): (v - lag(v)) /
    seconds-elapsed within each series."""
    w = W.partitionBy(guid).orderBy(ts)
    v = F.col(value).cast("double")
    dt_s = (epoch_us(ts) - epoch_us(F.lag(ts).over(w))) / F.lit(1_000_000.0)
    delta = v - F.lag(v).over(w)
    return (
        samples.select(
            guid,
            F.col(ts),
            v.alias("value"),
            delta.alias("delta"),
            (delta / dt_s).alias("rate_per_sec"),
        )
        .filter(F.col("delta").isNotNull())
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str = "ts",
    start: str = "start_ts",
    end: str = "end_ts",
    bucket_s: int = 1800,
) -> DataFrame:
    """Interval (range) join: each left row paired with every interval
    whose half-open window [start, end) contains left_ts — WITHOUT the
    BroadcastNestedLoopJoin a naive `ON ts >= start AND ts < end` gets
    from Spark (a non-equi join has no hashable key, so Spark falls back
    to an O(|left| x |intervals|) nested loop: the classic 100-TB killer).

    Plan: bin the time axis into `bucket_s`-second buckets. Each left
    row lands in exactly ONE bucket (its own); each interval EXPLODES
    across the buckets its span covers (ceil(span/bucket) rows, so size
    `bucket_s` near the median interval span to bound the blow-up at
    ~2x). The join becomes a plain equi-join on the bucket key — one
    hash shuffle, AQE-skewable — with the exact window predicate applied
    as a residual filter. Because the left bucket is unique per row, no
    pair can match twice: no distinct pass needed.

    Returns left columns + interval columns (callers project/aggregate).
    """
    bucket_us = F.lit(int(bucket_s) * 1_000_000)
    l = left.withColumn("_rjb", F.floor(epoch_us(left_ts) / bucket_us))
    # an empty or inverted window matches nothing; dropping it here also
    # keeps sequence() from exploding a DESCENDING bucket run (Spark
    # auto-steps -1 when start > stop) that the residual would discard
    intervals = intervals.filter(F.col(end) > F.col(start))
    iv = intervals.withColumn(
        "_rjb",
        F.explode(
            F.sequence(
                F.floor(epoch_us(start) / bucket_us),
                # end is exclusive: a window ending exactly on a bucket
                # boundary contributes nothing to that bucket
                F.floor((epoch_us(end) - 1) / bucket_us),
            )
        ),
    )
    joined = l.join(iv, on="_rjb", how="inner").filter(
        (F.col(left_ts) >= F.col(start)) & (F.col(left_ts) < F.col(end))
    )
    return joined.drop("_rjb")


def ewma(
    samples: DataFrame,
    alpha: str = "0.3",
    window_rows: int = 20,
    guid: str = "guid",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Truncated exponentially-weighted moving average per series.

    Classic IoT smoothing the reference leaves to callers (its
    TsCollection.Get returns raw/interpolated samples only) — here a
    first-class operator. s_i = alpha*x_i + (1-alpha)*s_{i-1}, seeded at
    the window's first sample. The recursion is TRUNCATED to the last
    `window_rows` samples so each row's state is a bounded array (the
    untruncated tail's weight is (1-alpha)^window_rows ~ 8e-4 at the
    defaults — below double-visible noise for typical sensor ranges, and
    the bound is what keeps per-row memory O(window) at 100 TB instead
    of a per-key unbounded fold).

    Plan shape: one shuffle on guid (window partition), then a pure
    column fold (collect_list over a ROWS frame + `aggregate` HOF) —
    no Python, no second exchange. `alpha` is passed as a DECIMAL
    LITERAL STRING so an oracle in another engine parses the identical
    double (a Python float formatted via repr may round differently
    from the SQL literal the oracle uses).
    """
    a = float(alpha)
    assert 0.0 < a < 1.0, "alpha must be in (0, 1)"
    beta = repr(1.0 - a)  # exact repr of the double Spark will compute with
    w = (
        W.partitionBy(guid)
        .orderBy(ts, tiebreak)
        .rowsBetween(-(window_rows - 1), W.currentRow)
    )
    vals = F.collect_list(F.col(value).cast("double")).over(w)
    fold = (
        f"aggregate(slice(_ewma_vals, 2, size(_ewma_vals) - 1), "
        f"element_at(_ewma_vals, 1), "
        f"(acc, x) -> CAST({alpha} AS DOUBLE) * x + CAST({beta} AS DOUBLE) * acc)"
    )
    return samples.withColumn("_ewma_vals", vals).withColumn(
        "ewma", F.expr(fold)
    ).drop("_ewma_vals")


def threshold_alerts(
    samples: DataFrame,
    high: str = "200.0",
    low: str = "100.0",
    guid: str = "guid",
    ts: str = "ts",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Hysteresis threshold alerting — the monitoring rule every SCADA /
    IoT deployment runs on its point values (the reference's
    QueryExecutionService re-evaluates full queries on a timer for
    this; here it is an incremental stream-shaped operator): an alert
    RAISES when the value reaches `high`, CLEARS only when it falls to
    `low`, and values in the dead band (low, high) carry the previous
    state — the two-threshold band is what stops a noisy signal
    oscillating on one threshold from flapping the alarm.

    Emits ONLY transitions: (guid, ts, value, alert='raise'|'clear').
    The carried state is a LOCF window (last non-null decision), the
    transition filter a lag compare — one exchange on guid, no Python,
    and at 100 TB the output is tiny (state changes, not samples).
    `high`/`low` are literal strings so an oracle engine parses the
    identical doubles."""
    v = F.col(value).cast("double")
    decision = (
        F.when(v >= F.expr(f"CAST({high} AS DOUBLE)"), F.lit(1))
        .when(v <= F.expr(f"CAST({low} AS DOUBLE)"), F.lit(0))
    )
    w_run = (
        W.partitionBy(guid)
        .orderBy(ts, tiebreak)
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    df = samples.withColumn(
        "_state",
        F.coalesce(F.last(decision, ignorenulls=True).over(w_run), F.lit(0)),
    )
    df = df.withColumn(
        "_prev",
        F.coalesce(
            F.lag("_state").over(W.partitionBy(guid).orderBy(ts, tiebreak)),
            F.lit(0),
        ),
    )
    return (
        df.filter(F.col("_state") != F.col("_prev"))
        .withColumn(
            "alert",
            F.when(F.col("_state") == 1, F.lit("raise")).otherwise(
                F.lit("clear")
            ),
        )
        .drop("_state", "_prev")
    )


def mad_anomalies(
    samples: DataFrame,
    k: str = "3.0",
    guid: str = "guid",
    value: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Robust per-series anomaly detection: flag samples whose absolute
    deviation from the series median exceeds k * 1.4826 * MAD (median
    absolute deviation; 1.4826 scales MAD to sigma under normality).

    Medians are DISCRETE (the rank-ceil(n/2) element under a
    deterministic (value, tiebreak) order), not interpolated — the same
    engine-exact convention as `exact_percentiles`: two engines agree
    bit-for-bit on an element they both select, where interpolation
    arithmetic could differ in the last ulp.

    Plan shape: both median passes are windows over the SAME guid
    partitioning — one exchange, two in-partition sorts, no join. At
    100 TB the per-key series must fit a partition's sort spill, which
    Spark's external sort handles; nothing is driver-side.
    """
    v = F.col(value).cast("double")
    w_part = W.partitionBy(guid)
    # ranks materialize as columns BEFORE the conditional max over the
    # partition — Spark rejects a window function nested inside another
    # window function's argument
    df = samples.withColumn(
        "_rn1", F.row_number().over(w_part.orderBy(value, tiebreak))
    ).withColumn(
        "_mr",
        F.ceil(F.count("*").over(w_part).cast("double") * F.lit(0.5)).cast(
            "bigint"
        ),
    )
    df = df.withColumn(
        "_med",
        F.max(F.when(F.col("_rn1") == F.col("_mr"), v)).over(w_part),
    ).withColumn("_absdev", F.abs(v - F.col("_med")))
    df = df.withColumn(
        "_rn2", F.row_number().over(w_part.orderBy("_absdev", tiebreak))
    )
    df = df.withColumn(
        "_mad",
        F.max(F.when(F.col("_rn2") == F.col("_mr"), F.col("_absdev"))).over(
            w_part
        ),
    ).drop("_rn1", "_rn2", "_mr")
    thresh = F.expr(f"CAST({k} AS DOUBLE) * 1.4826") * F.col("_mad")
    return (
        df.withColumn("is_anomaly", F.col("_absdev") > thresh)
        .withColumnRenamed("_med", "med")
        .withColumnRenamed("_absdev", "absdev")
        .withColumnRenamed("_mad", "mad")
    )
