"""SQL-function surface: the IotValue/priority-array helpers registered
as Spark SQL UDFs (pure SQL-expression functions — still fully
Catalyst-optimized, zero Python), so `spark.sql` users get the
reference's accessors by name.

Reference: IotValue.Value/Priority/Timestamp getters
(Iot.Database/IotValue.cs:299-358), IsNumeric/AsDouble accessors
(:410-520, :900-1048), password hashes (:1117-1145).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

_FUNCTIONS: dict[str, str] = {
    # effective value = first non-null slot 1..16 (slot 17 config-only)
    "priority_value": """
        CREATE OR REPLACE TEMPORARY FUNCTION priority_value(vals ARRAY<STRING>)
        RETURNS STRING
        RETURN try_element_at(filter(slice(vals, 1, 16), v -> v IS NOT NULL), 1)
    """,
    # 1-based priority of the effective slot, NULL when unset
    "priority_of": """
        CREATE OR REPLACE TEMPORARY FUNCTION priority_of(vals ARRAY<STRING>)
        RETURNS INT
        RETURN CASE
            WHEN array_position(transform(slice(vals, 1, 16), v -> v IS NOT NULL), true) > 0
            THEN CAST(array_position(transform(slice(vals, 1, 16), v -> v IS NOT NULL), true) AS INT)
        END
    """,
    # dynamic-slot accessors (AsDouble/IsNumeric model)
    "slot_as_double": """
        CREATE OR REPLACE TEMPORARY FUNCTION slot_as_double(v STRING)
        RETURNS DOUBLE RETURN try_cast(v AS DOUBLE)
    """,
    "slot_is_numeric": """
        CREATE OR REPLACE TEMPORARY FUNCTION slot_is_numeric(v STRING)
        RETURNS BOOLEAN RETURN try_cast(v AS DOUBLE) IS NOT NULL
    """,
    # PasswordValue storage form
    "password_hash": """
        CREATE OR REPLACE TEMPORARY FUNCTION password_hash(v STRING)
        RETURNS STRING RETURN sha2(v, 256)
    """,
    # write gating (Priority9Only=64, AllowManualOperator=1 —
    # IotValueFlags.cs; IotValue.cs:1098-1110, :127-132)
    "write_allowed": """
        CREATE OR REPLACE TEMPORARY FUNCTION write_allowed(priority INT, flags INT)
        RETURNS BOOLEAN
        RETURN priority BETWEEN 1 AND 17
           AND (priority NOT IN (1, 8) OR (flags & 1) <> 0)
           AND ((flags & 64) = 0 OR priority IN (9, 16))
    """,
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register the IotValue SQL functions on the session; returns the
    registered names."""
    for ddl in _FUNCTIONS.values():
        spark.sql(ddl)
    return sorted(_FUNCTIONS)
