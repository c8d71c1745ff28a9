"""Kept round-8 checks: MinHash decontamination against a planted
eval copy and its broadcast plan shape (dedup_queries), and
`registry.load_views` unregistering views for tables a partial dir
lacks."""

from __future__ import annotations

from iot_database_spark import registry
from iot_database_spark.plans import audit

_Q = registry.queries()


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
