"""Round-8 curation additions: within-doc repetition trimming and
corpus Zipf statistics — hand-computed semantics + 100-TB plan shape."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from iot_database_spark import registry
from iot_database_spark.operators import curation as cu
from iot_database_spark.plans import audit

_Q = registry.queries()


def test_trim_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            # windows(n=2): ['a b','c d','a b','e'] -> kept ['a b','c d','e']
            (1, "a b c d a b e"),
            # no repeats
            (2, "x y z"),
            # all windows identical
            (3, "p q p q p q"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in cu.trim_repeated_windows(docs, n=2).collect()}
    assert (out[1]["n_windows"], out[1]["n_kept"]) == (4, 3)
    assert out[1]["trimmed_md5"] == hashlib.md5(b"a b c d e").hexdigest()
    assert (out[2]["n_windows"], out[2]["n_kept"]) == (2, 2)
    assert out[2]["trimmed_md5"] == hashlib.md5(b"x y z").hexdigest()
    assert (out[3]["n_windows"], out[3]["n_kept"]) == (3, 1)
    assert out[3]["trimmed_md5"] == hashlib.md5(b"p q").hexdigest()


def test_trim_is_shuffle_free_no_python(spark, smoke_dir):
    """The sort-based order-preserving distinct is per-row HOF work at
    any document length (O(w log w) — the r9 fix for the quadratic
    prefix scan): zero exchanges, zero Python."""
    df = _Q["text_repetition_trim"](spark, smoke_dir)
    assert audit.count_exchanges(df) == 0
    assert not audit.uses_python_udf(df)


def test_trim_matches_python_reference(spark):
    """The sorted first-occurrence form must equal the obvious Python
    order-preserving distinct — including a book-length doc (the input
    class that stalled the old quadratic form) and keep_cols
    passthrough."""
    import hashlib as hl

    rows = [
        (1, "a b c d a b e", "en"),
        (2, "x y z", "de"),
        (3, "p q p q p q", "fr"),
        (4, " ".join(["w1 w2"] * 5000), "en"),  # 10k words, one window
        (5, " ".join(f"u{i % 97} v{i % 89}" for i in range(5000)), "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {
        r["doc_id"]: r
        for r in cu.trim_repeated_windows(docs, n=2, keep_cols=("lang",)).collect()
    }
    for doc_id, text, lang in rows:
        ws = text.split(" ")
        wins = [" ".join(ws[i : i + 2]) for i in range(0, len(ws), 2)]
        kept = list(dict.fromkeys(wins))
        r = got[doc_id]
        assert (r["n_windows"], r["n_kept"], r["lang"]) == (
            len(wins), len(kept), lang,
        )
        assert r["trimmed_md5"] == hl.md5(" ".join(kept).encode()).hexdigest()


def test_zipf_hand_computed(spark):
    # corpus: 'a' x6, 'b' x3, 'c' x1 -> vocab 3, total 10
    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c"), (3, "a A b")],  # lowercased: 'A' -> 'a'
        "doc_id bigint, text string",
    )
    row = cu.zipf_stats(docs, fit_k=3, mass_k=2).collect()[0]
    assert row["vocab_size"] == 3 and row["total_tokens"] == 10
    assert row["top2_tokens"] == 9  # a(6) + b(3)
    assert row["fit_n"] == 3
    # integer-milli regression reproduced in python
    pts = [(1, 6), (2, 3), (3, 1)]
    lx = [math.floor(math.log(r) * 1000) for r, _ in pts]
    ly = [math.floor(math.log(c) * 1000) for _, c in pts]
    n = 3
    sx, sy = sum(lx), sum(ly)
    sxx = sum(x * x for x in lx)
    sxy = sum(x * y for x, y in zip(lx, ly))
    assert row["zipf_num"] == n * sxy - sx * sy
    assert row["zipf_den"] == n * sxx - sx * sx
    assert row["zipf_slope"] == (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert row["zipf_slope"] < 0  # frequency falls with rank


def test_zipf_corpus_sane_and_plan(spark, smoke_dir):
    df = _Q["corpus_zipf_stats"](spark, smoke_dir)
    # the vocabulary head must come from a top-k heap, not a full sort,
    # and nothing in the plan may drop to Python
    assert audit.uses_take_ordered(df)
    assert not audit.uses_python_udf(df)
    row = df.collect()[0]
    assert 0 < row["vocab_size"] <= row["total_tokens"]
    assert 0 < row["top100_tokens"] <= row["total_tokens"]
    assert row["zipf_slope"] < 0
    # independent vocab check
    from iot_database_spark.registry import load_views

    docs = load_views(spark, smoke_dir)["documents"]
    vocab = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("t"))
        .filter("t <> ''")
        .distinct()
        .count()
    )
    assert row["vocab_size"] == vocab


_URL_CASES = [
    # (raw, canonical)
    ("HTTP://WWW.Site.com:80/a//b/?utm_source=x&b=2&a=1#top",
     "http://site.com/a/b?a=1&b=2"),
    ("https://Example.ORG:443/", "https://example.org"),
    ("https://example.org", "https://example.org"),
    ("http://example.org:8080/x", "http://example.org:8080/x"),  # non-default port kept
    ("http://a.b/p?gclid=1&fbclid=2&ref=3&utm_medium=m", "http://a.b/p"),
    ("http://a.b/p?z=1&a=2", "http://a.b/p?a=2&z=1"),
    ("  http://a.b/p  ", "http://a.b/p"),
    ("http://a.b/p/?ref", "http://a.b/p"),  # bare tracking key, trailing slash
]


def test_canonicalize_url_cases(spark):
    df = spark.createDataFrame([(r,) for r, _ in _URL_CASES], "url string")
    got = [
        r["c"] for r in df.select(cu.canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [c for _, c in _URL_CASES]


def test_duck_canonicalizer_matches_spark_cases():
    import duckdb

    con = duckdb.connect()
    expr = cu.duck_canonicalize_url("url")
    for raw, want in _URL_CASES:
        got = con.execute(
            f"SELECT {expr} FROM (SELECT ? AS url)", [raw]
        ).fetchone()[0]
        assert got == want, (raw, got, want)


def test_url_dedup_single_exchange(spark, smoke_dir):
    df = _Q["dedup_url_canonical"](spark, smoke_dir)
    # the canonicalizer itself is map-side; COUNT(DISTINCT url) makes
    # the agg two-phase (expand on (key,url) then key), hence 2
    assert audit.count_exchanges(df) <= 2
    assert not audit.uses_python_udf(df)
    rows = df.collect()
    assert any(r["n_raw_variants"] > 1 for r in rows)  # the merge does work


def test_decontaminate_minhash_flags_copy(spark, tmp_path):
    """A training doc that IS an eval doc must flag with full 16/16
    signature agreement; an unrelated doc must not be flagged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    eval_text = "the quick brown fox jumps over the lazy dog again and again"
    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),  # 0 -> eval (id%50==0)
            "text": pa.array(
                [
                    eval_text,
                    eval_text,  # train copy of the eval doc
                    "completely unrelated words about spark shuffles and parquet",
                ]
            ),
            "lang": pa.array(["en"] * 3),
            "source": pa.array(["s"] * 3),
            "n_chars": pa.array([1, 1, 1], pa.int64()),
        }
    )
    pq.write_table(docs, tmp_path / "documents.parquet")
    out = {
        r["doc_id"]: r
        for r in _Q["decontaminate_minhash"](spark, str(tmp_path)).collect()
    }
    assert out[1]["max_agreement"] == 16 and out[1]["contaminated"]
    assert 2 not in out or not out[2]["contaminated"]


def test_decontaminate_minhash_plan_broadcasts_eval(spark, smoke_dir):
    df = _Q["decontaminate_minhash"](spark, smoke_dir)
    assert audit.uses_broadcast_join(df)  # eval side must broadcast
    assert not audit.uses_python_udf(df)


def test_web_ingest_pipeline_shape_and_accounting(spark, smoke_dir):
    df = _Q["pipeline_web_ingest"](spark, smoke_dir)
    assert not audit.uses_python_udf(df)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 0 < r["sum_kept"] <= r["sum_windows"]
        assert abs(r["keep_ratio"] - r["sum_kept"] / r["sum_windows"]) < 1e-12
    # the URL dedup stage must actually shrink the corpus: kept docs
    # <= total docs, and strictly fewer when canonical collisions exist
    from iot_database_spark.registry import load_views

    n_docs_total = load_views(spark, smoke_dir)["documents"].count()
    assert sum(r["n_docs"] for r in rows) < n_docs_total


def test_canonicalize_url_schemeless_passthrough(spark):
    """Scheme-less / non-hierarchical values must NOT collapse to one
    key (r8 review finding: '://' swallowed every such row — an
    over-merge that silently drops documents at the dedup stage). They
    pass through with only trim + de-fragment, in BOTH engines."""
    import duckdb

    cases = [
        ("example.com/a", "example.com/a"),
        ("//cdn.site.com/x", "//cdn.site.com/x"),
        ("mailto:a@b.c", "mailto:a@b.c"),
        ("www.other.org/p#frag", "www.other.org/p"),
        ("  bare-text  ", "bare-text"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [
        r["c"]
        for r in df.select(cu.canonicalize_url(F.col("url")).alias("c")).collect()
    ]
    assert got == [c for _, c in cases]
    con = duckdb.connect()
    expr = cu.duck_canonicalize_url("url")
    for raw, want in cases:
        assert con.execute(
            f"SELECT {expr} FROM (SELECT ? AS url)", [raw]
        ).fetchone()[0] == want


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
