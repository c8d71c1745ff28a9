"""The engine's session runs with PySpark's DataFrame call-site capture
off. Analysis errors must still name their error class and the column at
fault: only the Python call-site block ("== DataFrame == ... was called
from") is gone."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from iot_database_spark.database import IotDatabase
from iot_database_spark.query import litesql


@pytest.fixture()
def db(spark, tmp_path):
    db = IotDatabase("session", str(tmp_path), spark)
    db.tables("sensors", "id bigint, guid string").insert(
        [{"id": i, "guid": f"sensor-{i}"} for i in range(1, 4)]
    )
    return db


def test_call_site_capture_is_off(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def _assert_unresolved(exc: AnalysisException, column: str) -> None:
    assert exc.getCondition().startswith("UNRESOLVED_COLUMN"), exc.getCondition()
    assert f"`{column}`" in str(exc)


def test_table_df_filter_names_unresolved_column(db):
    with pytest.raises(AnalysisException) as info:
        db.table("sensors").df.filter(F.col("no_such_col") > 1).collect()
    _assert_unresolved(info.value, "no_such_col")


def test_litesql_select_names_unresolved_column(db):
    with pytest.raises(AnalysisException) as info:
        litesql.execute(db, "SELECT no_such_col FROM sensors").collect()
    _assert_unresolved(info.value, "no_such_col")
