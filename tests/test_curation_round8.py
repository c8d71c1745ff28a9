"""Kept round-8 check: `registry.load_views` unregistering views for
tables a partial dir lacks."""

from __future__ import annotations


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
