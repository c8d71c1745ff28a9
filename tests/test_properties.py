"""Property-based tests (hypothesis): the unit-rule compiler agrees with
direct Python arithmetic, and the NL condition compiler matches Python
evaluation on generated data."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from iot_database_spark.functions.units import compile_rule
from iot_database_spark.query.nl import compile_condition

# -- unit rules -------------------------------------------------------------

coef = st.floats(min_value=0.1, max_value=1000, allow_nan=False).map(
    lambda x: round(x, 3)
)


@st.composite
def rules(draw):
    a = draw(coef)
    b = draw(coef)
    form = draw(st.sampled_from([
        "value * {a}",
        "value / {a}",
        "value + {a}",
        "value - {a}",
        "value * {a} + {b}",
        "(value + {a}) * {b}",
        "(value - {a}) / {b}",
        "value * {a} / {b} + {a}",
    ]))
    return form.format(a=a, b=b)


@pytest.fixture(scope="module")
def _spark(spark):
    return spark


@settings(max_examples=25, deadline=None)
@given(rule=rules(), value=st.floats(min_value=-1e6, max_value=1e6,
                                     allow_nan=False).map(lambda x: round(x, 4)))
def test_rule_compiler_matches_python(rule, value, _spark):
    fn = compile_rule(rule)
    got = _spark.range(1).select(fn(F.lit(float(value))).alias("v")).collect()[0]["v"]
    expected = eval(rule.replace("value", repr(float(value))))  # noqa: S307 — same grammar, test-only
    assert got == pytest.approx(expected, rel=1e-12, abs=1e-12)


# -- full unit catalog ------------------------------------------------------


def _py_eval_rule(rule: str, x: float) -> float:
    import re

    expr = rule.replace("Math.PI", repr(math.pi)).replace("value", repr(x))
    assert re.fullmatch(r"[\d\s.+\-*/()eE]+", expr), rule
    return eval(expr)  # noqa: S307 — validated arithmetic-only, test-side oracle


def test_full_catalog_rules_match_python(_spark):
    """Every one of the 1232 generated conversion rules compiles and its
    Spark arithmetic matches direct Python evaluation — batched as wide
    selects so the whole catalog sweep is a handful of Spark jobs."""
    from iot_database_spark.functions.units import ALL_UNITS, compile_rule

    rules = [
        (t.name, src, rule)
        for t in ALL_UNITS
        for src, rule in t.conversions
    ]
    assert len(rules) >= 1200, "catalog regressed below the reference's 1232 rules"
    for x in (7.3, -2.5):
        for i in range(0, len(rules), 150):
            chunk = rules[i : i + 150]
            cols = [
                compile_rule(r)(F.lit(x)).alias(f"c{j}")
                for j, (_, _, r) in enumerate(chunk)
            ]
            row = _spark.range(1).select(*cols).collect()[0]
            for j, (tgt, src, r) in enumerate(chunk):
                assert row[j] == pytest.approx(
                    _py_eval_rule(r, x), rel=1e-12, abs=1e-12
                ), (src, tgt, r)


def test_temperature_absolute_scales_roundtrip(_spark):
    """a -> b -> a within float ulp for the four absolute temperature
    scales (the reference's Temperature rules are direction-consistent;
    some groups — Length, Power — publish inverted rules, reproduced
    as-is for parity and excluded here)."""
    from iot_database_spark.functions.units import convert

    scales = [
        "degrees_celsius",
        "degrees_fahrenheit",
        "degrees_kelvin",
        "degrees_rankine",
    ]
    cols, labels = [], []
    for a in scales:
        for b in scales:
            if a != b:
                cols.append(
                    convert(convert(F.lit(25.0), a, b), b, a).alias(
                        f"c{len(cols)}"
                    )
                )
                labels.append((a, b))
    row = _spark.range(1).select(*cols).collect()[0]
    for j, (a, b) in enumerate(labels):
        assert row[j] == pytest.approx(25.0, rel=1e-12), (a, b)


def test_unknown_unit_and_cross_group_raise():
    from iot_database_spark.functions.units import RuleError, conversion_rule

    with pytest.raises(RuleError):
        conversion_rule("degrees_celsius", "meters")  # cross-group
    with pytest.raises(RuleError):
        conversion_rule("no_such_unit", "meters")


def test_corrected_mode_inverts_length_power(_spark):
    """`corrected=True` applies the physically-correct direction for the
    two groups whose published rules are inverted (Length, Power), and
    is a no-op for direction-consistent groups (Temperature)."""
    from iot_database_spark.functions.units import convert

    row = (
        _spark.range(1)
        .select(
            convert(F.lit(1500.0), "meters", "kilometers").alias("published"),
            convert(F.lit(1500.0), "meters", "kilometers", corrected=True).alias(
                "physical"
            ),
            convert(F.lit(2000.0), "watts", "kilowatts", corrected=True).alias(
                "kw"
            ),
            convert(
                F.lit(25.0), "degrees_celsius", "degrees_fahrenheit", corrected=True
            ).alias("temp"),
        )
        .collect()[0]
    )
    assert row["published"] == pytest.approx(1500000.0)  # reference-faithful
    assert row["physical"] == pytest.approx(1.5)  # physics
    assert row["kw"] == pytest.approx(2.0)
    assert row["temp"] == pytest.approx(77.0)  # unchanged outside the two groups


def test_dual_group_names_resolve_into_matching_group():
    """Nine reference names exist in two groups (watts: Electrical AND
    Power; henrys: Electrical AND Inductance; ...). Conversion must
    resolve the ambiguous side into the counterpart's group instead of
    rejecting as cross-group."""
    from iot_database_spark.functions.units import conversion_rule

    # kilowatts is Power-only; watts must resolve as Power.watts (whose
    # rules the Power group publishes under the watts_power alias)
    assert conversion_rule("watts", "kilowatts")
    assert conversion_rule("kilowatts", "watts")
    # henrys/millihenrys exist in both Electrical and Inductance; the
    # rule-bearing definitions agree group-wise
    assert conversion_rule("millihenrys", "henrys")


# -- NL conditions ----------------------------------------------------------

names = st.sampled_from(["Widget", "gadget", "THING", "x y", ""])
ages = st.integers(min_value=0, max_value=99)


@settings(max_examples=15, deadline=None)
@given(rows=st.lists(st.tuples(names, ages), min_size=1, max_size=8),
       cutoff=ages, needle=st.sampled_from(["DGE", "widget", "Z", "x "]))
def test_nl_condition_matches_python(rows, cutoff, needle, _spark):
    df = _spark.createDataFrame(
        [(i, n, a) for i, (n, a) in enumerate(rows)], ["id", "name", "age"]
    )
    cond = f"age >= {cutoff} AND name contains '{needle}'"
    got = {r["id"] for r in df.filter(compile_condition(cond, df)).collect()}
    expected = {
        i for i, (n, a) in enumerate(rows)
        if a >= cutoff and needle.lower() in n.lower()
    }
    assert got == expected


def test_zorder_interleave_is_bijective(_spark):
    """layout.zorder_value on an exact 2^bits grid (where linear
    quantization is the identity) must produce a BIJECTIVE Morton key:
    de-interleaving every key recovers exactly its (x, y)."""
    from iot_database_spark.layout import zorder_value

    bits = 4
    n = 1 << bits
    grid = _spark.range(n * n).select(
        (F.col("id") % n).cast("bigint").alias("x"),
        F.floor(F.col("id") / n).cast("bigint").alias("y"),
    )
    keyed, key = zorder_value(grid, ["x", "y"], bits=bits)
    rows = keyed.collect()
    assert len({r[key] for r in rows}) == n * n  # injective
    for r in rows:
        z, qx, qy = r[key], 0, 0
        for b in range(bits):
            qx |= ((z >> (2 * b)) & 1) << b
            qy |= ((z >> (2 * b + 1)) & 1) << b
        assert (qx, qy) == (r["x"], r["y"]), (z, r["x"], r["y"])


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=40,
    ),
    window_rows=st.sampled_from([1, 3, 20]),
)
@settings(max_examples=10, deadline=None)
def test_ewma_is_convex_combination_of_window(spark, vals, window_rows):
    """EWMA is a convex combination of the window's values, so every
    output must lie within [min, max] of that row's window — for any
    data, any alpha in (0,1), any truncation length. Also: the fold is
    exactly reproducible in plain Python (left fold, same literals)."""
    import datetime as dt

    from iot_database_spark.operators.timeseries import ewma

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base + dt.timedelta(minutes=i), v, i) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "guid long, ts timestamp, value double, event_id long"
    )
    got = [
        r.ewma
        for r in ewma(df, alpha="0.3", window_rows=window_rows)
        .orderBy("event_id")
        .collect()
    ]
    for i, g in enumerate(got):
        window = vals[max(0, i - window_rows + 1) : i + 1]
        assert min(window) <= g <= max(window)
        acc = window[0]
        for x in window[1:]:
            acc = 0.3 * x + 0.7 * acc
        assert g == acc  # bit-identical to the reference left fold


# -- frame-store codec -------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    frames=st.lists(
        st.binary(min_size=0, max_size=120), min_size=0, max_size=30
    ),
    interval=st.integers(min_value=1, max_value=12),
)
def test_framestore_roundtrip_property(frames, interval):
    """encode->decode is the identity for ANY frame sequence (empty
    frames, size changes, duplicates, arbitrary bytes) at any full-
    frame interval, and the stream always starts with a full frame."""
    from iot_database_spark.operators import framestore as fs

    blob = fs.encode_frames(frames, full_interval=interval)
    assert list(fs.decode_frames(blob)) == [bytes(f) for f in frames]
    if frames:
        assert blob[0] == 1
        assert fs.sniff(blob)
        # no delta run longer than the interval
        run = 0
        for is_full, _ in fs.iter_records(blob):
            run = 0 if is_full else run + 1
            assert run <= interval


@settings(max_examples=25, deadline=None)
@given(
    vec=st.lists(
        st.floats(min_value=-10.0, max_value=10.0, allow_nan=False, width=64),
        min_size=1, max_size=8,
    ),
)
def test_int8_quantization_bounds_property(vec):
    """Self-quantization invariants via the DuckDB formula text (python
    reference alongside): codes live in [-127, 127], the max-|v| element
    hits exactly +-127 (unless the dim is all-zero), and reconstruction
    error per element is bounded by half a step (scale/254) plus one
    ulp-ish epsilon."""
    import math

    import duckdb

    scale = max(abs(v) for v in vec)
    q = duckdb.connect().execute(
        """
        SELECT list_transform(range(1, len(e)+1),
          i -> CASE WHEN s = 0 THEN 0
               ELSE GREATEST(-127, LEAST(127,
                 CAST(FLOOR(CAST(e[i] AS DOUBLE) / s * 127.0 + 0.5) AS INTEGER)))
               END)
        FROM (SELECT ? AS e, CAST(? AS DOUBLE) AS s)
        """,
        [vec, scale],
    ).fetchone()[0]
    ref = [
        0 if scale == 0 else max(-127, min(127, math.floor(v / scale * 127.0 + 0.5)))
        for v in vec
    ]
    assert q == ref
    assert all(-127 <= c <= 127 for c in q)
    if scale > 0:
        # the extreme element quantizes to +-127 exactly
        i = max(range(len(vec)), key=lambda j: abs(vec[j]))
        assert abs(q[i]) == 127
        half_step = scale / 254.0
        for v, c in zip(vec, q):
            assert abs(v - c * scale / 127.0) <= half_step + 1e-9


# -- incremental chain append ≡ full rebuild --------------------------------

@settings(max_examples=8, deadline=None)
@given(
    seq=st.lists(st.sampled_from("xxyz"), min_size=1, max_size=10),
    cuts=st.sets(st.integers(min_value=1, max_value=9), max_size=3),
)
def test_chain_incremental_equals_rebuild_property(seq, cuts, _spark):
    """For ANY block sequence (duplicate-heavy alphabet on purpose) and
    ANY contiguous batch split, folding batch-by-batch from the heads
    seed must equal the full append_chain(dedup_consecutive(all))
    rebuild — the r9 O(batch) write path's correctness contract."""
    import datetime as dt

    from iot_database_spark.operators import blockchain as bc

    t0 = dt.datetime(2024, 1, 1)
    rows = [("k", t0 + dt.timedelta(minutes=i), s) for i, s in enumerate(seq)]
    bounds = [0] + sorted(c for c in cuts if c < len(rows)) + [len(rows)]
    schema = "guid string, ts timestamp, data string"
    chain = _spark.createDataFrame(
        [], schema + ", prev_hash string, hash string"
    )
    for lo, hi in zip(bounds, bounds[1:]):
        if lo == hi:
            continue
        new = bc.append_chain_incremental(
            _spark.createDataFrame(rows[lo:hi], schema), bc.chain_heads(chain)
        )
        chain = chain.unionByName(new)
    full = bc.append_chain(
        bc.dedup_consecutive(_spark.createDataFrame(rows, schema))
    )
    got = sorted(map(tuple, chain.collect()))
    want = sorted(map(tuple, full.select(*chain.columns).collect()))
    assert got == want
