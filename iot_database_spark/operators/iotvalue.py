"""IotValue — the reference's 17-slot priority-array point value, as
Spark struct/array columns + pure Column expressions.

Reference semantics (Iot.Database/IotValue.cs):
- 17 string value slots + 17 nullable timestamps (:17-19).
- Effective value = first non-null slot scanning priorities 1..16; slot 17
  is configuration-only (Value getter :299-327).
- Effective priority = 1-based index of that slot (:332-343); effective
  timestamp likewise (:348-358).
- Flags bitmask (IotValueFlags.cs:4-14): AllowManualOperator=1,
  TimeSeries=2, BlockChain=4, PasswordValue=8, LogChange=16,
  ValueInterpolated=32, Priority9Only=64.
- Priority9Only restricts writes to slots 9/16 (IotValue.cs:1098-1110);
  manual slots 1/8 blocked unless AllowManualOperator (:127-132).
- Passwords stored as SHA-256 hex (ToPasswordHash :1117-1145).
- StrictDataType pins the runtime type (:159-162, validation :1104-1109).

Representation here: a long/narrow writes table (guid, ts, priority, value)
— the shape that scales (partition by guid/date, no 17-wide sparse rows) —
plus expressions that materialize the slot view or the effective value.
All expressions are built-in Catalyst functions; nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_SLOTS = 17  # slot 17 (index 16) = configuration, excluded from Value

# IotValueFlags.cs:4-14
FLAG_ALLOW_MANUAL_OPERATOR = 1
FLAG_TIME_SERIES = 2
FLAG_BLOCK_CHAIN = 4
FLAG_PASSWORD_VALUE = 8
FLAG_LOG_CHANGE = 16
FLAG_VALUE_INTERPOLATED = 32
FLAG_PRIORITY9_ONLY = 64


def has_flag(flags: Column, flag: int) -> Column:
    """Bitmask test, e.g. has_flag(F.col('flags'), FLAG_TIME_SERIES)."""
    return (flags.bitwiseAND(F.lit(flag)) != 0)


# The slot builders below are SQL expression strings, parsed once each
# (one py4j call) by F.expr / selectExpr: a tree of Column calls costs a
# py4j round trip per node, and a 17-slot tree has hundreds of nodes.


def _effective_priority_sql(values: str) -> str:
    """1-based priority of the first non-null slot 1..16
    (IotValue.cs:332-343); null when no slot is set."""
    idx = (
        f"array_position(transform(slice({values}, 1, {NUM_SLOTS - 1}), "
        "v -> v IS NOT NULL), true)"
    )
    return f"CASE WHEN {idx} > 0 THEN CAST({idx} AS INT) END"


def _effective_value_sql(values: str) -> str:
    return (
        f"try_element_at(filter(slice({values}, 1, {NUM_SLOTS - 1}), "
        "v -> v IS NOT NULL), 1)"
    )


def _effective_timestamp_sql(values: str, timestamps: str) -> str:
    """Timestamp of the effective slot (IotValue.cs:348-358)."""
    return f"try_element_at({timestamps}, {_effective_priority_sql(values)})"


def effective_value(values: str) -> Column:
    """First non-null slot 1..16 of the 17-element array column named
    `values` (IotValue.Value getter :299-327; slot 17 never
    participates). try_element_at: an all-null point must yield NULL,
    not an ANSI out-of-bounds error."""
    return F.expr(_effective_value_sql(values))


def write_allowed(priority: Column, flags: Column) -> Column:
    """Write gating per reference rules:
    - Priority9Only points accept only slots 9 and 16 (IotValue.cs:1098-1110)
    - manual slots 1/8 require AllowManualOperator (IotValue.cs:127-132)
    - slot range 1..17
    """
    in_range = (priority >= 1) & (priority <= NUM_SLOTS)
    p9 = has_flag(flags, FLAG_PRIORITY9_ONLY)
    manual_ok = ~priority.isin(1, 8) | has_flag(flags, FLAG_ALLOW_MANUAL_OPERATOR)
    p9_ok = ~p9 | priority.isin(9, 16)
    return in_range & manual_ok & p9_ok


def password_hash(value: Column) -> Column:
    """SHA-256 hex of the value — the PasswordValue storage form
    (IotValue.SetPassword :708-715, ToPasswordHash :1117-1145)."""
    return F.sha2(value.cast("string"), 256)


def replay_slots(
    writes: DataFrame,
    guid: str = "guid",
    ts: str = "ts",
    priority: str = "priority",
    value: str = "value",
    tiebreak: str | None = None,
) -> DataFrame:
    """Replay a write log into the current slot state per point.

    For each (guid, priority) the surviving write is the latest by ts
    (the in-place slot overwrite semantics of IotValue.SetValue). Output:
    one row per guid with `values` / `timestamps` 17-element arrays plus
    the effective value/priority/timestamp columns.

    Scale shape: a shuffle on (guid, priority) for the per-slot latest
    write (a row_number window), then a partial-aggregatable
    groupBy(guid); no per-row Python.
    """
    order = ", ".join(f"{c} DESC" for c in (ts, tiebreak) if c)
    latest = (
        writes.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {guid}, {priority} "
            f"ORDER BY {order}) AS _rn",
        )
        .filter("_rn = 1")
        .drop("_rn")
    )
    slots = latest.groupBy(guid).agg(
        F.expr(f"map_from_entries(collect_list(struct({priority}, {value}))) AS _vmap"),
        F.expr(f"map_from_entries(collect_list(struct({priority}, {ts}))) AS _tmap"),
    )
    idx = f"sequence(1, {NUM_SLOTS})"
    return slots.selectExpr(
        guid,
        f"transform({idx}, i -> element_at(_vmap, i)) AS values",
        f"transform({idx}, i -> element_at(_tmap, i)) AS timestamps",
    ).selectExpr(
        guid,
        "values",
        "timestamps",
        f"{_effective_value_sql('values')} AS value",
        f"{_effective_priority_sql('values')} AS priority",
        f"{_effective_timestamp_sql('values', 'timestamps')} AS timestamp",
    )


def convert_point(
    state: DataFrame,
    from_unit: str,
    to_unit: str,
    values_col: str = "values",
) -> DataFrame:
    """IotUnit.Convert<T> over a slot-state DataFrame (IotUnit.cs:27-63):
    every numeric slot except priority 17 (the QueryConfiguration slot)
    is rewritten by the published conversion rule; non-numeric slots and
    nulls pass through. Cross-group or unknown conversions raise at plan
    build (the reference throws InvalidCastException /
    NotSupportedException). The effective value is recomputed when the
    frame carries one — slot nullness is conversion-invariant, so the
    effective priority/timestamp never change."""
    from iot_database_spark.functions.units import convert_slots

    out = state.withColumn(
        values_col, convert_slots(F.col(values_col), from_unit, to_unit)
    )
    if "value" in out.columns:
        out = out.withColumn("value", effective_value(values_col))
    return out
