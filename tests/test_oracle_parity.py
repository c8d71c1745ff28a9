"""Local replica of the driver's t2 correctness gate.

For every registered query that declares an oracle, run the Spark plan and
the DuckDB SQL side-by-side on the same parquet tables and require
EXACT (bit-level) value equality after column-name sort + row sort.
This is deliberately stricter than a tolerance compare: the engine's
output discipline (exact decimal sums cast to double) makes bit equality
achievable, and the driver hashes values.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb
import pytest

from iot_database_spark import registry
from iot_database_spark.session import TESTDATA_TABLES


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return out


_FORBIDDEN_DUCK = ("HUGEINT", "UHUGEINT", "UBIGINT", "UINTEGER",
                   "USMALLINT", "UTINYINT")
_SIGNED_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT"}


def _check_decl_types(name: str, spark_dtypes: dict, duck_decl: dict) -> None:
    """Fail if the oracle's *declared* DuckDB types could hash-diverge from
    Spark's even when the python cursor values coincide (HUGEINT -> int)."""
    for c, dt in duck_decl.items():
        base = dt.split("(")[0].strip().upper()
        assert base not in _FORBIDDEN_DUCK, (
            f"{name}.{c}: oracle declares {dt} — the driver's value-hash "
            f"distinguishes it from Spark's type; CAST it in the oracle SQL"
        )
        s_dt = spark_dtypes.get(c, "")
        if s_dt in ("int", "bigint", "smallint", "tinyint"):
            assert base in _SIGNED_INTS, f"{name}.{c}: spark {s_dt} vs oracle {dt}"
        elif s_dt == "double":
            assert base == "DOUBLE", f"{name}.{c}: spark double vs oracle {dt}"
        elif s_dt == "float":
            assert base in ("FLOAT", "REAL"), f"{name}.{c}: spark float vs oracle {dt}"
        elif s_dt.startswith("decimal"):
            assert base == "DECIMAL", f"{name}.{c}: spark {s_dt} vs oracle {dt}"


_ORACLES = registry.oracles()
_QUERIES = registry.queries()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(name, spark, sf_dir):
    _assert_parity(name, spark, sf_dir)


def _ulp_equal(a, b, ulps: int) -> bool:
    """True when two floats are within `ulps` units-in-last-place."""
    if a == b:
        return True
    return abs(a - b) <= ulps * math.ulp(max(abs(a), abs(b)))


def _rows_equal(s_norm, d_norm, float_ulps: int) -> bool:
    if float_ulps == 0:
        return s_norm == d_norm
    if len(s_norm) != len(d_norm):
        return False
    for sr, dr in zip(s_norm, d_norm):
        if len(sr) != len(dr):
            return False
        for sv, dv in zip(sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                if not _ulp_equal(sv, dv, float_ulps):
                    return False
            elif sv != dv:
                return False
    return True


def _assert_parity(name, spark, sf_dir, float_ulps: int = 0):
    sdf = _QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    rel = con.sql(_ORACLES[name])
    # raw DuckDB *declared* types: the cursor flattens HUGEINT to python
    # int, so value/py-type checks alone cannot catch the HUGEINT-vs-BIGINT
    # class that made event_sessionization the lone red driver row in r3
    duck_decl = dict(zip(rel.columns, [str(t) for t in rel.types]))
    res = con.execute(_ORACLES[name])
    res_description = res.description
    dcols = [d[0] for d in res_description]
    drows = res.fetchall()
    con.close()

    _check_decl_types(name, dict(sdf.dtypes), duck_decl)

    assert sorted(scols) == sorted(dcols), f"{name}: column names differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"

    # schema-category check: the driver compares schemas too — a Spark
    # double where the oracle yields BIGINT (or vice versa) must fail here
    # even though Python 5.0 == 5 would mask it in the value compare
    _CATEGORY = {
        "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
        "float": "float", "double": "float",
        "string": "str", "boolean": "bool",
        "timestamp": "ts", "timestamp_ntz": "ts", "date": "date",
    }
    _DUCK_CATEGORY = {
        "NUMBER": None,  # duckdb reports NUMBER for every numeric: skip
        "STRING": "str", "BOOL": "bool", "bool": "bool",
        "DATETIME": "ts", "TIMESTAMP": "ts", "Date": "date", "DATE": "date",
    }
    duck_types = dict(zip(dcols, [d[1] for d in res_description]))
    for c in scols:
        s_cat = _CATEGORY.get(dict(sdf.dtypes)[c])
        d_cat = _DUCK_CATEGORY.get(duck_types.get(c, ""), None)
        if s_cat and d_cat:
            assert s_cat == d_cat, f"{name}.{c}: spark {s_cat} vs duck {d_cat}"
    # numeric subtlety: DuckDB's cursor flattens int/float to NUMBER, so
    # use the raw python values to distinguish: no float on one side where
    # the other yields int
    for i, c in enumerate(scols):
        s_py = next((r[i] for r in srows if r[i] is not None), None)
        j = dcols.index(c)
        d_py = next((r[j] for r in drows if r[j] is not None), None)
        if s_py is None or d_py is None:
            continue
        import decimal

        # the driver hash-compares raw values, so EVERY numeric python-type
        # difference is a failure there: int vs float vs Decimal must match
        # exactly (round 2: Spark DECIMAL vs DuckDB DOUBLE slipped through
        # a float-vs-int-only check and cost 5 driver rows)
        def _numcat(v):
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, decimal.Decimal):
                return "decimal"
            if isinstance(v, float):
                return "float"
            if isinstance(v, int):
                return "int"
            return None

        s_cat, d_cat = _numcat(s_py), _numcat(d_py)
        if s_cat or d_cat:
            assert s_cat == d_cat, f"{name}.{c}: spark {s_cat} vs duck {d_cat}"

    s_norm = _normalize(srows, scols)
    d_norm = _normalize(drows, dcols)
    if not _rows_equal(s_norm, d_norm, float_ulps):
        mismatches = [
            (i, a, b) for i, (a, b) in enumerate(zip(s_norm, d_norm)) if a != b
        ]
        assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"


def test_hugeint_probe_fails_gate():
    """A deliberately-HUGEINT oracle must be rejected by the declared-type
    gate even though the python cursor would flatten it to int (the exact
    blind spot that let event_sessionization pass locally in round 3)."""
    con = duckdb.connect()
    rel = con.sql("SELECT SUM(x) AS session_no FROM (VALUES (1), (2)) t(x)")
    duck_decl = dict(zip(rel.columns, [str(t) for t in rel.types]))
    # duckdb's SUM(INTEGER) really is HUGEINT — if this ever changes the
    # guard below would vacuously pass, so pin the premise first
    assert duck_decl["session_no"] == "HUGEINT"
    flat = con.execute(
        "SELECT SUM(x) AS session_no FROM (VALUES (1), (2)) t(x)"
    ).fetchone()[0]
    con.close()
    assert isinstance(flat, int)  # the cursor flattening that hid the bug
    with pytest.raises(AssertionError, match="HUGEINT"):
        _check_decl_types("probe", {"session_no": "bigint"}, duck_decl)


# Scale-step parity: the driver grades at sf0.01; this re-proves a
# representative slice of the heaviest operator families at 100x that
# (the generated sf1 from scripts/gen_scale_data.py) — correctness that
# only holds at the graded scale factor is not correctness. Skipped when
# the gitignored sf1 directory hasn't been generated on this machine.
_SF1_DIR = "/root/repo/.scale/sf1"
_SF1_SUBSET = (
    "q01_pricing_summary",
    "join4_revenue_by_nation",
    "join6_local_supplier_revenue",
    "groupby_having",
    "window_topk_per_group",
    "event_sessionization",
    "ts_rollup_hourly",
    "rollup_agg",
    "semi_join_exists",
    "q03_shipping_priority",
    "q06_revenue_forecast",
    "event_funnel",
    "event_cohort_retention",
    "window_lag_delta",
    "set_union",
    "skew_salted_agg",
    "ts_asof_join",
    "vector_cosine_topk",
    "unit_convert_bulk",
    "string_format_regex",
    # round-5 additions with per-series window or broadcast-model shapes
    "ts_ewma_smooth",
    "ts_anomaly_mad",
    "ts_threshold_alerts",
    "approx_sketch_accuracy",
    # round-8 addition: session-window streaming
    "stream_sessionization",
    # round-9 additions: batched vector search, session paths
    "vector_multi_query_topk",
    "event_path_topk",
)


@pytest.mark.skipif(
    not __import__("os").path.exists(_SF1_DIR),
    reason="sf1 scale data not generated (scripts/gen_scale_data.py)",
)
@pytest.mark.parametrize("name", _SF1_SUBSET)
def test_oracle_parity_sf1(name, spark):
    # float_ulps=2: at sf1 a decimal-exact SUM can exceed 2^53 * 10^-scale,
    # where DuckDB's decimal->double conversion (int128 -> double, THEN
    # divide by 10^scale) double-rounds while Spark's BigDecimal.doubleValue
    # rounds once — verified on q01 sum_charge: both engines' DECIMAL sums
    # are bit-identical (…941590), only the final double differs by 1 ulp.
    # The graded scale factors (sf0.01 driver / sf0.1 local) stay below the
    # 2^53 threshold and keep the bit-exact gate.
    _assert_parity(name, spark, _SF1_DIR, float_ulps=2)


def test_every_query_has_entry():
    assert _QUERIES, "no queries registered"
    assert set(_QUERIES) == set(_ORACLES)


def test_load_views_drops_views_for_absent_tables(spark, smoke_dir, tmp_path):
    """Activating a partial dir must UNREGISTER the other tables' views
    (r8 review finding): a missing table must surface as
    TABLE_OR_VIEW_NOT_FOUND, not a silent read of the previous dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest
    from pyspark.sql.utils import AnalysisException

    from iot_database_spark.registry import load_views

    pq.write_table(
        pa.table({"doc_id": pa.array([1], pa.int64()), "text": pa.array(["x"]),
                  "lang": pa.array(["en"]), "source": pa.array(["s"]),
                  "n_chars": pa.array([1], pa.int64())}),
        tmp_path / "documents.parquet",
    )
    load_views(spark, smoke_dir)  # full table set active
    load_views(spark, str(tmp_path))  # documents-only dir
    with _pytest.raises(AnalysisException):
        spark.sql("SELECT COUNT(*) FROM events").collect()
    # and switching back restores the full set
    load_views(spark, smoke_dir)
    assert spark.sql("SELECT COUNT(*) FROM events").collect()[0][0] > 0


def test_registry_import_failure_propagates(monkeypatch):
    """A registering module that fails to import (e.g. a third-party
    package missing inside it) must make queries() raise, never drop
    that module's queries from the registry without a trace."""
    import importlib

    real = importlib.import_module

    def failing(name, *args, **kwargs):
        if name == "iot_database_spark.operators.vector_queries":
            raise ModuleNotFoundError("No module named 'missing_dep'")
        return real(name, *args, **kwargs)

    monkeypatch.setattr(importlib, "import_module", failing)
    monkeypatch.setattr(registry, "_LOADED", False)
    with pytest.raises(ModuleNotFoundError, match="missing_dep"):
        registry.queries()
