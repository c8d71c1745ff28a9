"""Plan-quality tests: every headline operator must produce the physical
plan we'd want at 100 TB — pushed filters, pruned columns, broadcast
dims, codegen, top-k without full sort."""

from __future__ import annotations

import pytest

from iot_database_spark import registry
from iot_database_spark.plans import audit

_Q = registry.queries()


@pytest.fixture(scope="module")
def sf(smoke_dir):
    return smoke_dir


def test_filter_pushdown_reaches_scan(spark, sf):
    df = _Q["scan_filter_project"](spark, sf)
    pushed = " ".join(audit.pushed_filters(df))
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    # column pruning: lineitem scan must NOT read all 11 columns
    schemas = audit.read_schemas(df)
    assert all("l_returnflag" not in s or "l_comment" not in s for s in schemas)
    assert any(s.count(",") <= 6 for s in schemas)


def test_small_dims_broadcast(spark, sf):
    df = _Q["join4_revenue_by_nation"](spark, sf)
    assert audit.uses_broadcast_join(df)
    assert not audit.uses_shuffle_join(df)
    # one shuffle total: the final aggregation
    assert audit.count_exchanges(df) <= 2


def test_semi_anti_join_broadcast(spark, sf):
    assert audit.uses_broadcast_join(_Q["semi_join_exists"](spark, sf))
    assert audit.uses_broadcast_join(_Q["anti_join_not_exists"](spark, sf))


def test_topk_avoids_full_sort(spark, sf):
    assert audit.uses_take_ordered(_Q["sort_limit_offset"](spark, sf))
    assert audit.uses_take_ordered(_Q["vector_l2_topk"](spark, sf))


def test_filtered_vector_search_prefilters_scan(spark, sf):
    """vector_filtered_topk: the metadata predicate must reach the
    parquet scan (so label-organized storage can skip files) and top-k
    must stay TakeOrderedAndProject — score-then-filter would read and
    fold every vector."""
    df = _Q["vector_filtered_topk"](spark, sf)
    assert any("label" in p for p in audit.pushed_filters(df))
    assert audit.uses_take_ordered(df)
    assert not audit.uses_python_udf(df)


def test_multi_query_search_single_scan_broadcast_queries(spark, sf):
    """vector_multi_query_topk: the query batch broadcasts (the cross
    join plans as BroadcastNestedLoopJoin BuildRight over the 8-row
    batch — the corpus side streams in place); the only shuffle is the
    per-qid grouped-top-k exchange, and Spark compiles the row_number
    cut to WindowGroupLimit Partial->Final, i.e. per-input-partition
    top-5 BEFORE the exchange — only ~5 rows per (partition, query)
    ever shuffle."""
    df = _Q["vector_multi_query_topk"](spark, sf)
    text = audit.explain_str(df)
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text
    assert "WindowGroupLimit" in text  # partial top-k precedes the shuffle
    assert audit.count_exchanges(df) <= 1
    assert not audit.uses_python_udf(df)


def test_agg_single_shuffle_and_codegen(spark, sf):
    df = _Q["q01_pricing_summary"](spark, sf)
    assert audit.count_exchanges(df) <= 1  # partial+final agg, one shuffle
    assert audit.uses_whole_stage_codegen(df)


def test_vector_search_stays_jvm(spark, sf):
    df = _Q["vector_cosine_topk"](spark, sf)
    text = audit.explain_str(df)
    assert "PythonUDF" not in text and "BatchEvalPython" not in text
    assert "ArrowEvalPython" not in text
    # each row is scored once: the min-score filter applies after the
    # top-k, so it cannot be pushed below the Project that computes
    # relevance and inline the cosine (one zip_with fold) a second time
    from pyspark.sql import functions as F

    from iot_database_spark.operators import vector

    items = spark.createDataFrame(
        [(i, [float(i), 1.0, -2.0]) for i in range(8)],
        "vec_id bigint, embedding array<float>",
    )
    q = F.array(F.lit(1.0), F.lit(0.5), F.lit(0.0))
    frames = {
        "vector_cosine_topk": _Q["vector_cosine_topk"](spark, sf),
        "vector_filtered_topk": _Q["vector_filtered_topk"](spark, sf),
        "search_cosine": vector.search_cosine(items, q, min_score=0.5, limit=5),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("zip_with") == 1, (name, plan)


def test_locf_single_window_shuffle(spark, sf):
    df = _Q["ts_locf_merge"](spark, sf)
    assert audit.count_exchanges(df) <= 1  # one shuffle on guid


def test_report_shape(spark, sf):
    rep = audit.plan_report(_Q["q01_pricing_summary"](spark, sf))
    assert set(rep) == {
        "pushed_filters",
        "read_schemas",
        "broadcast_join",
        "shuffle_join",
        "whole_stage_codegen",
        "take_ordered",
        "shuffle_exchanges",
    }


def test_q5_q14_shapes_broadcast_dims(spark, sf):
    """The 6-table Q5 tree and the Q14 part join must broadcast every
    dimension side — the fact tables are the only shuffle participants."""
    for name in ("join6_local_supplier_revenue", "join_part_promo_monthly"):
        df = _Q[name](spark, sf)
        assert audit.uses_broadcast_join(df), name
        rep = audit.plan_report(df)
        assert rep["shuffle_exchanges"] <= 3, (name, rep["shuffle_exchanges"])


def test_round2_serialized_find_matches_nl_plan_quality(spark, sf):
    """The JSON wire surface compiles to the same broadcast-join shape
    as the NL dialect — no penalty for the serialized front door."""
    df = _Q["remote_serialized_find"](spark, sf)
    assert audit.uses_broadcast_join(df) or audit.count_exchanges(df) <= 2
    assert audit.uses_take_ordered(df)  # ORDER BY + LIMIT -> top-k


def test_include_hydration_broadcasts_parent(spark, sf):
    """SQL-dialect INCLUDE: the FK parent (a dim) must broadcast — the
    child side never reshuffles for the hydrate join."""
    df = _Q["sql_include_digest"](spark, sf)
    assert audit.uses_broadcast_join(df)
    assert not audit.uses_shuffle_join(df)


def test_unit_convert_stays_jvm(spark, sf):
    """Catalog rule arithmetic compiles to Column expressions — no
    Python UDF in the plan, whole-stage codegen covers the projection."""
    df = _Q["unit_convert_bulk"](spark, sf)
    assert not audit.uses_python_udf(df)
    assert audit.uses_whole_stage_codegen(df)
    # the rule constants fold: Math.PI/180 must appear pre-multiplied
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "0.017453292519943295" in plan


def test_range_join_is_equi_not_nested_loop(spark, sf):
    """ts_range_join must plan as a hash/merge EQUI-join on the bucket
    key — the whole point of the bucketize-and-explode rewrite is that a
    naive non-equi interval join falls back to BroadcastNestedLoopJoin,
    which is O(|events| x |intervals|) at scale."""
    df = _Q["ts_range_join"](spark, sf)
    plan = audit.explain_str(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_round5_new_ops_plan_shapes(spark, sf):
    # EWMA: exactly one exchange (the guid window partition), no Python
    ewma = _Q["ts_ewma_smooth"](spark, sf)
    assert audit.count_exchanges(ewma) == 1
    assert not audit.uses_python_udf(ewma)
    # MAD: three window passes share ONE guid exchange (re-sorts, no
    # re-shuffles), no join materializes
    mad = _Q["ts_anomaly_mad"](spark, sf)
    assert audit.count_exchanges(mad) == 1
    assert not audit.uses_python_udf(mad)
    # sketch accuracy: the exact-distinct leg joins the sketch leg by
    # BROADCAST (both are one-row-per-event_type), and the plan must NOT
    # contain the fused per-(type,user) sketch-state expand (one
    # aggregate per leg plus the distinct's two-level pair)
    sk = _Q["approx_sketch_accuracy"](spark, sf)
    assert audit.uses_broadcast_join(sk)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "ObjectHashAggregate" in line:
            keys = line.split("functions")[0]
            assert "user_id" not in keys, line


def test_round5_alerting_and_coverage_plan_shapes(spark, sf):
    # hysteresis alerts: two window passes over ONE guid exchange
    al = _Q["ts_threshold_alerts"](spark, sf)
    assert audit.count_exchanges(al) == 1
    assert not audit.uses_python_udf(al)
