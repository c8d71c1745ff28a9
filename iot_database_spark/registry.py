"""Central registry of driver-visible queries and their DuckDB oracles.

Every operator this engine claims from SURVEY.md §2 registers a named
query here: a callable (spark, sf_dir) -> DataFrame plus an equivalent
DuckDB SQL string.
The driver hash-compares both at sf0.01; `tests/test_oracle_parity.py`
runs the same comparison locally.

Column-name discipline: the driver sorts columns by name before it
hashes the rows, so the Spark DataFrame and the oracle SQL must produce
identical column names — alias everything on both sides.
"""

from __future__ import annotations

import weakref
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def register(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a driver-visible query and its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        _QUERIES[name] = fn
        _ORACLES[name] = oracle
        return fn

    return deco


# The driver evaluates registered queries in dict-iteration order and
# caps evaluation at the first 50, so this explicit priority list decides
# which queries get a driver row each round. Remaining queries follow in
# registration order. `python scripts/plan_rotation.py` derives the next
# round's ordering from the recorded CORRECTNESS_r*.json artifacts
# (reds first, then never-graded, then oldest-green-first).
#
# The tuple below is the planner's output verbatim. With 103
# registered queries, a 50-slot window and the 3-round evidence-age
# limit, every query's newest green driver row stays within that limit
# while the registry holds at most 150 queries (scripts/plan_rotation.py).
_PRIORITY: tuple[str, ...] = (
    "remote_serialized_find",  # r11 green
    "scan_filter_project",  # r12 green
    "filter_in",  # r12 green
    "ts_cusum_drift",  # r12 green
    "event_path_topk",  # r12 green
    "conditional_cast",  # r12 green
    "array_higher_order",  # r12 green
    "try_cast_predicates",  # r12 green
    "sha256_hash",  # r12 green
    "map_functions",  # r12 green
    "iot_password_hash",  # r12 green
    "unit_convert_bulk",  # r12 green
    "cagg_incremental_refresh",  # r12 green
    "ts_range_join",  # r12 green
    "ts_ewma_smooth",  # r12 green
    "ts_anomaly_mad",  # r12 green
    "ts_threshold_alerts",  # r12 green
    "chain_verify",  # r12 green
    "vector_l2_radius",  # r12 green
    "vector_filtered_topk",  # r12 green
    "vector_multi_query_topk",  # r12 green
    "zorder_key_events",  # r12 green
    "stream_rollup_to_table",  # r12 green
    "stream_exact_dedup",  # r12 green
    "stream_threshold_alerts",  # r12 green
    "stream_sessionization",  # r12 green
    "stream_stream_time_join",  # r12 green
    "timetravel_asof_digest",  # r12 green
    "evolution_nullfill_digest",  # r12 green
    "txn_atomicity_digest",  # r12 green
    "fk_cascade_digest",  # r12 green
    "continuous_slot14_digest",  # r12 green
    "filter_like",  # r13 green
    "filter_between_not",  # r13 green
    "sort_limit_offset",  # r13 green
    "take_last",  # r13 green
    "multi_key_sort",  # r13 green
    "q01_pricing_summary",  # r13 green
    "global_agg",  # r13 green
    "groupby_having",  # r13 green
    "distinct_op",  # r13 green
    "count_exists_minmax",  # r13 green
    "rollup_agg",  # r13 green
    "join2_orders_customer",  # r13 green
    "join3_customer_nation_region",  # r13 green
    "join4_revenue_by_nation",  # r13 green
    "join6_local_supplier_revenue",  # r13 green
    "include_children_agg",  # r13 green
    "semi_join_exists",  # r13 green
    "anti_join_not_exists",  # r13 green
)


def _ordered(src: dict[str, Any]) -> dict[str, Any]:
    out = {name: src[name] for name in _PRIORITY if name in src}
    out.update((name, v) for name, v in src.items() if name not in out)
    return out


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return _ordered(_QUERIES)


def oracles() -> dict[str, str]:
    _ensure_loaded()
    return _ordered(_ORACLES)


_LOADED = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent). An import
    failure propagates: skipping the module would drop all its queries
    from queries() without a trace."""
    global _LOADED
    if _LOADED:
        return
    import importlib

    for mod in (
        "iot_database_spark.operators.relational",
        "iot_database_spark.operators.scalar_dialect",
        "iot_database_spark.operators.iotvalue_queries",
        "iot_database_spark.operators.timeseries_queries",
        "iot_database_spark.operators.blockchain_queries",
        "iot_database_spark.operators.vector_queries",
        "iot_database_spark.operators.quantize_queries",
        "iot_database_spark.operators.nl_queries",
        "iot_database_spark.operators.streaming_queries",
        "iot_database_spark.operators.storage_queries",
    ):
        importlib.import_module(mod)
    _LOADED = True


# Weakly keyed by the session object so a stopped-and-recreated session
# can never collide with a dead one's id() (round-1 review finding); the
# value holds {"dirs": {sf_dir -> loaded tables}, "active": sf_dir}.
_VIEW_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, Any]]" = (
    weakref.WeakKeyDictionary()
)


def load_views(spark: SparkSession, sf_dir: str) -> dict[str, Any]:
    """Register the testdata tables as temp views (memoized per session+dir:
    repeated query calls must not pay parquet-footer/schema reads again).

    View names are GLOBAL per session while the memo is per sf_dir, so a
    session that alternates between dirs (the test suite does; a driver
    grading two SFs would too) must RE-REGISTER the views whenever the
    active dir changes — otherwise a spark.sql()-built query silently
    reads the previous dir's tables while the returned DataFrame dict
    reads the right ones (a round-8 full-suite failure caught exactly
    that split). The per-session 'active' slot tracks which dir owns
    the view names; switching back re-registers (cheap:
    createOrReplaceTempView over already-built frames) without
    re-reading parquet footers."""
    # the active dir is tracked in its own slot, NOT as a magic key in
    # the dirs dict (r9 advice: an sf_dir literally named like the old
    # '_active' sentinel would have been read back as a table dict)
    per_session = _VIEW_CACHE.setdefault(spark, {"dirs": {}, "active": None})
    cached = per_session["dirs"].get(sf_dir)
    if cached is not None:
        if per_session["active"] != sf_dir:
            for name, df in cached.items():
                df.createOrReplaceTempView(name)
            _drop_absent_views(spark, cached)
            per_session["active"] = sf_dir
        return cached
    from iot_database_spark.session import load_tables

    out = load_tables(spark, sf_dir)
    _drop_absent_views(spark, out)
    per_session["dirs"][sf_dir] = out
    per_session["active"] = sf_dir
    return out


def _drop_absent_views(spark: SparkSession, present: dict[str, Any]) -> None:
    """Dirs can hold a SUBSET of the testdata tables (load_tables skips
    missing files silently — crafted test fixtures do this on purpose).
    Activating such a dir must also UNREGISTER the other tables' views:
    leaving them pointed at the previously active dir turns a missing
    table into a silent wrong-dir read for any spark.sql()-built query,
    where the correct outcome is TABLE_OR_VIEW_NOT_FOUND (r8 review
    finding — the dir-switch fix alone only re-pointed tables the new
    dir HAS)."""
    from iot_database_spark.session import TESTDATA_TABLES

    for name in TESTDATA_TABLES:
        if name not in present:
            spark.catalog.dropTempView(name)
