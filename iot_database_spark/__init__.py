"""iot_database_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of d42y/Iot.Database, re-designed Spark-first.

The reference (an embedded C# IoT document database built on a LiteDB fork)
is a row-oriented, single-node engine; this package re-expresses its entire
query surface — relational operators, the BsonExpression scalar dialect, the
IotValue priority-array point model, delta-T time series reads (LOCF +
interpolation), blockchain integrity logs, vector similarity search, the
natural-language FIND grammar, and the continuous query service — as
declarative DataFrame / Spark SQL plans that Catalyst can optimize and that
scale horizontally (partition pruning, broadcast joins, AQE) to 100 TB class
datasets.

Layout:
    session.py        SparkSession factory with scale-appropriate defaults
    database.py       IotDatabase: warehouse of tables (catalog layer)
    tables.py         TableCollection-like typed table API (FK, unique, CRUD)
    query/            fluent query builder + natural-language FIND parser
    functions/        BsonExpression scalar dialect -> Column registry,
                      IotValue priority-array expressions, unit conversion
    operators/        timeseries (LOCF/resample), blockchain, vector search
                      (brute force, IVF, int8), continuous aggregates,
                      the reference's RTSP frame-store codec
    sources/          csv/json/parquet sources & sinks, system collections
    streaming/        continuous query service (Structured Streaming)
    plans/            explain/plan-audit helpers
"""

from iot_database_spark.session import get_spark, load_tables


def __getattr__(name):
    # lazy re-exports of the user-facing entry points (importing them
    # eagerly would pull pyspark sql modules before a session exists)
    if name == "IotDatabase":
        from iot_database_spark.database import IotDatabase

        return IotDatabase
    if name == "execute":
        from iot_database_spark.query.litesql import execute

        return execute
    if name == "natural_query":
        from iot_database_spark.query.nl import natural_query

        return natural_query
    raise AttributeError(name)


__all__ = ["get_spark", "load_tables", "IotDatabase", "execute", "natural_query"]

__version__ = "0.1.0"
