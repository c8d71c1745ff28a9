"""Tests for the LiteDB SQL dialect translation (query/litesql.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_database_spark.query.litesql import lite_sql, translate


def test_path_translation():
    assert translate("SELECT $.Name FROM c WHERE $.Age > 25") == (
        "SELECT Name FROM c WHERE Age > 25"
    )
    assert translate("SELECT $.a.b.c FROM t") == "SELECT a.b.c FROM t"
    assert translate("SELECT $.arr[2] FROM t") == "SELECT element_at(arr, 3) FROM t"
    assert translate("SELECT $.arr[*] FROM t") == "SELECT arr FROM t"
    assert (
        translate("SELECT $.items[@.x > 1] FROM t")
        == "SELECT filter(items, _it -> _it.x > 1) FROM t"
    )
    assert translate("SELECT IIF($.a = 1, 'y', 'n') FROM t") == (
        "SELECT IF(a = 1, 'y', 'n') FROM t"
    )


def test_param_substitution_quotes_safely():
    out = translate(
        "SELECT * FROM t WHERE name = @n AND age > @a",
        {"n": "O'Brien", "a": 30},
    )
    assert out == "SELECT * FROM t WHERE name = 'O''Brien' AND age > 30"
    with pytest.raises(KeyError, match="missing SQL parameter"):
        translate("SELECT @nope", {})


def test_execute_against_views(spark):
    df = spark.createDataFrame(
        [
            (1, "John", 30, [{"x": 1}, {"x": 5}]),
            (2, "Jane", 22, [{"x": 9}]),
        ],
        "id int, Name string, Age int, items array<struct<x:int>>",
    )
    df.createOrReplaceTempView("People")

    rows = lite_sql(
        spark,
        "SELECT $.Name, UPPER($.Name) AS U FROM People "
        "WHERE $.Age > @min ORDER BY $.Name LIMIT 5",
        {"min": 25},
    ).collect()
    assert [(r["Name"], r["U"]) for r in rows] == [("John", "JOHN")]

    filt = lite_sql(
        spark, "SELECT $.id, $.items[@.x > 2] AS big FROM People ORDER BY $.id"
    ).collect()
    assert [[x["x"] for x in r["big"]] for r in filt] == [[5], [9]]

    idx = lite_sql(spark, "SELECT $.items[0].x AS first_x FROM People WHERE $.id = 1")
    assert idx.collect()[0]["first_x"] == 1


def test_bare_expression_select(spark):
    # SELECT-without-FROM evaluates the expression (Select.cs:44-53)
    row = lite_sql(spark, "SELECT 1 + 2 AS v, UPPER('ab') AS u").collect()[0]
    assert row["v"] == 3 and row["u"] == "AB"


def test_select_into_temp_view(spark):
    spark.createDataFrame(
        [(1, "a", 5), (2, "b", 9)], "id bigint, k string, v int"
    ).createOrReplaceTempView("src_lsql")
    out = lite_sql(spark, "SELECT $.k, $.v INTO picked FROM src_lsql WHERE $.v > 6")
    assert out.count() == 1
    assert spark.table("picked").collect()[0]["k"] == "b"


def test_select_into_database_table(spark, tmp_path):
    from iot_database_spark.database import IotDatabase

    db = IotDatabase("litesqldb", str(tmp_path), spark)
    spark.createDataFrame(
        [(1, "x", 10.0), (2, "y", 20.0)], "id bigint, name string, score double"
    ).createOrReplaceTempView("src_lsql2")
    lite_sql(spark, "SELECT $.name, $.score INTO results FROM src_lsql2", db=db)
    t = db.table("results")
    assert t.count() == 2
    assert "id" in t.df.columns  # auto-id added
    # second INTO appends (engine insert-into-collection behavior)
    lite_sql(spark, "SELECT $.name, $.score INTO results FROM src_lsql2", db=db)
    assert t.count() == 4


def test_execute_full_command_surface(spark, tmp_path):
    """db.Execute over INSERT/UPDATE/DELETE/SELECT/RENAME/DROP
    (SqlParser.cs:24-49)."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("cmds", str(tmp_path), spark)
    db.tables("people", "id bigint, name string, age int")

    n = execute(
        db,
        'INSERT INTO people VALUES {"id": 1, "name": "Ann", "age": 30}, '
        '{"id": 2, "name": "Bob", "age": @bobage}',
        params={"bobage": 22},
    )
    assert n == 2

    n = execute(db, "UPDATE people SET $.name = UPPER($.name) WHERE $.age > 25")
    assert n == 1
    out = execute(db, "SELECT $.name FROM people ORDER BY $.name")
    assert [r["name"] for r in out.collect()] == ["ANN", "Bob"]

    n = execute(db, "DELETE people WHERE $.age < 25")
    assert n == 1 and db.table("people").count() == 1

    execute(db, "RENAME COLLECTION people TO folks")
    assert "folks" in db.list_tables() and "people" not in db.list_tables()
    execute(db, "DROP COLLECTION folks")
    assert db.list_tables() == []


def test_select_into_append_ids_stay_unique(spark, tmp_path):
    """Auto-ids must not collide across INTO append re-runs
    (monotonically_increasing_id restarts per query — the sink offsets
    past the target's sequence), and, like every other insert path,
    never hand out the id of a deleted row again."""
    from iot_database_spark.database import IotDatabase

    db = IotDatabase("intodb2", str(tmp_path), spark)
    # one partition keeps the auto-ids dense, so a reused id is visible
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id bigint, name string"
    ).coalesce(1).createOrReplaceTempView("src_ids")
    lite_sql(spark, "SELECT $.name INTO sink FROM src_ids", db=db)
    lite_sql(spark, "SELECT $.name INTO sink FROM src_ids", db=db)
    ids = sorted(r["id"] for r in db.table("sink").df.collect())
    assert ids == [1, 2, 3, 4]
    # delete the max-id row: the next INTO must not reuse its id
    assert db.table("sink").delete("id = 4") == 1
    lite_sql(spark, "SELECT $.name INTO sink FROM src_ids", db=db)
    ids = sorted(r["id"] for r in db.table("sink").df.collect())
    assert ids == [1, 2, 3, 5, 6]


def test_into_inside_string_literal_not_split(spark):
    spark.createDataFrame(
        [(1, "went INTO town"), (2, "stayed home")], "id bigint, txt string"
    ).createOrReplaceTempView("notes_lsql")
    out = lite_sql(spark, "SELECT $.id FROM notes_lsql WHERE $.txt = 'went INTO town'")
    assert [r["id"] for r in out.collect()] == [1]


def test_insert_param_at_sign_inside_json_string(spark, tmp_path):
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("emaildb", str(tmp_path), spark)
    db.tables("users", "id bigint, email string, age int")
    execute(
        db,
        'INSERT INTO users VALUES {"id": 1, "email": "ann@example.com", "age": @age}',
        params={"age": 30},
    )
    row = db.table("users").find_one("id = 1")
    assert row["email"] == "ann@example.com" and row["age"] == 30


def test_update_unknown_column_raises(spark, tmp_path):
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("updb", str(tmp_path), spark)
    db.tables("people2", "id bigint, name string")
    db.table("people2").insert([{"id": 1, "name": "a"}])
    import pytest

    with pytest.raises(KeyError, match="not"):
        execute(db, "UPDATE people2 SET $.nmae = 'x' WHERE $.id = 1")


# ---------------------------------------------------------------------------
# Round 2: literal masking, $file_csv/$file_json routing, PRAGMA,
# $system collections
# ---------------------------------------------------------------------------


def test_translate_never_rewrites_inside_string_literals():
    """ADVICE r1: '@' and '$.x' inside quoted literals are data."""
    out = translate(
        "SELECT * FROM t WHERE c = 'mail@host.com' AND d = @p", {"p": 1}
    )
    assert out == "SELECT * FROM t WHERE c = 'mail@host.com' AND d = 1"
    out = translate("SELECT * FROM t WHERE c = 'path is $.x.y'")
    assert out == "SELECT * FROM t WHERE c = 'path is $.x.y'"
    # escaped quote inside literal survives
    out = translate("SELECT * FROM t WHERE c = 'don''t @stop $.here'", {})
    assert out == "SELECT * FROM t WHERE c = 'don''t @stop $.here'"
    # IIF-style function names inside literals survive too
    assert translate("SELECT 'IIF(LEN(' AS s") == "SELECT 'IIF(LEN(' AS s"


def test_file_csv_roundtrip_through_dialect(spark, tmp_path):
    """SysFileCsv.cs:19-170 — INTO $file_csv sink + FROM $file_csv source."""
    spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "c", 3.5)],
        "id int, name string, score double",
    ).createOrReplaceTempView("csv_src_t")
    out_path = str(tmp_path / "export_csv")
    lite_sql(
        spark,
        f"SELECT $.id, $.name, $.score INTO $file_csv('{out_path}') "
        "FROM csv_src_t WHERE $.id > 1",
    )
    back = lite_sql(
        spark,
        f"SELECT $.name, $.score FROM $file_csv('{out_path}') "
        "WHERE $.score > 2 ORDER BY $.name",
    ).collect()
    assert [(r["name"], r["score"]) for r in back] == [("b", 2.5), ("c", 3.5)]


def test_file_json_roundtrip_through_dialect(spark, tmp_path):
    """SysFileJson.cs — same routing for JSON."""
    spark.createDataFrame(
        [(1, "x"), (2, "y")], "id int, tag string"
    ).createOrReplaceTempView("json_src_t")
    out_path = str(tmp_path / "export_json")
    lite_sql(spark, f"SELECT $.id, $.tag INTO $file_json('{out_path}') FROM json_src_t")
    back = lite_sql(
        spark,
        f"SELECT $.tag FROM $file_json('{out_path}') ORDER BY $.id",
    ).collect()
    assert [r["tag"] for r in back] == ["x", "y"]


def test_pragma_get_set_validate(spark, tmp_path):
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("pragdb", str(tmp_path), spark)
    assert execute(db, "PRAGMA USER_VERSION") == 0
    assert execute(db, "PRAGMA USER_VERSION = 7") == 7
    assert execute(db, "PRAGMA USER_VERSION") == 7
    # persists across a reopen (header-page persistence analog)
    db2 = IotDatabase("pragdb", str(tmp_path), spark)
    assert db2.pragma("USER_VERSION") == 7
    assert execute(db, "PRAGMA UTC_DATE") is True
    with pytest.raises(ValueError, match="read only"):
        execute(db, "PRAGMA COLLATION = 'x'")
    with pytest.raises(ValueError, match="greater than zero"):
        execute(db, "PRAGMA TIMEOUT = 0")
    with pytest.raises(KeyError, match="unknown pragma"):
        execute(db, "PRAGMA NOT_A_PRAGMA")


def test_system_collections(spark, tmp_path):
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("sysdb", str(tmp_path), spark)
    t = db.tables("items", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}, {"id": 5, "v": "b"}])
    t.ensure_index("v")

    cols = execute(db, "SELECT * FROM $cols WHERE $.table = 'items'").collect()
    assert {r["column"] for r in cols} == {"id", "v"}

    idx = execute(db, "SELECT * FROM $indexes").collect()
    assert [(r["collection"], r["expression"]) for r in idx] == [("items", "v")]

    seq = execute(db, "SELECT * FROM $sequences").collect()
    assert [(r["collection"], r["value"]) for r in seq] == [("items", 5)]

    dump = execute(db, "SELECT * FROM $dump WHERE $.collection = 'items'").collect()
    assert len(dump) >= 1 and all(r["n_files"] >= 1 for r in dump)

    dbrow = execute(db, "SELECT * FROM $database").collect()
    assert dbrow[0]["name"] == "sysdb" and dbrow[0]["n_tables"] == 1

    # no open transaction -> $transactions/$snapshots empty
    assert execute(db, "SELECT * FROM $transactions").count() == 0
    with db.transaction():
        t.insert([{"id": 9, "v": "c"}])
        txns = execute(db, "SELECT * FROM $transactions").collect()
        assert len(txns) == 1 and txns[0]["mode"] == "Write"
        snaps = execute(db, "SELECT * FROM $snapshots").collect()
        assert [(r["collection"], r["n_pending_dirs"] > 0) for r in snaps] == [
            ("items", True)
        ]
    assert execute(db, "SELECT * FROM $transactions").count() == 0
    assert execute(db, "SELECT * FROM $open_cursors").count() == 0

    # $units: the generated 435-unit catalog queryable through the dialect
    units = execute(
        db,
        "SELECT * FROM $units WHERE $.group = 'Temperature' "
        "AND $.name = 'degrees_fahrenheit'",
    ).collect()
    assert {r["converts_from"] for r in units} >= {
        "degrees_celsius",
        "degrees_kelvin",
        "degrees_rankine",
    }
    assert all(r["symbol"] == "°F" and "value" in r["rule"] for r in units)
    # 435 distinct (group, name) units; 9 names exist in two groups
    # (watts: Electrical AND Power, ...), so distinct names = 426
    n_units = execute(
        db,
        "SELECT COUNT(DISTINCT CONCAT($.group, '/', $.name)) AS n FROM $units",
    ).collect()[0]["n"]
    assert n_units == 435


def test_sys_query_subquery_and_page_list(spark, tmp_path):
    """$query('sql') sub-queries (SysQuery.cs:14-38) and $page_list
    physical-layout rows (SysPageList.cs:13-50)."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("sysq", str(tmp_path), spark)
    t = db.tables("nums", "id bigint, v int")
    t.insert([{"id": i, "v": i * 10} for i in range(1, 6)])

    out = execute(
        db,
        "SELECT COUNT(*) AS n FROM $query('SELECT * FROM nums WHERE $.v >= 30')",
    ).collect()
    assert out[0]["n"] == 3

    # a string literal containing '$query(' stays data
    lit = execute(db, "SELECT '$query(x)' AS s").collect()
    assert lit[0]["s"] == "$query(x)"

    with pytest.raises(ValueError, match="SELECT sub-query"):
        execute(db, "SELECT * FROM $query('DROP COLLECTION nums')")

    pages = execute(db, "SELECT * FROM $page_list WHERE $.collection = 'nums'").collect()
    assert len(pages) >= 1
    assert all(p["file"].endswith(".parquet") and p["bytes"] > 0 for p in pages)


def test_include_hydrates_parent_struct(spark, tmp_path):
    """SELECT ... FROM child INCLUDE parent (Select.cs:12-25): the FK
    field hydrates to a struct of the parent doc, `missing` flags broken
    refs (BasePipe.cs:46-133 sets $missing)."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute
    from iot_database_spark.tables import ForeignKey

    db = IotDatabase("incdb", str(tmp_path), spark)
    db.tables("dept", "id bigint, name string")
    db.tables(
        "emp",
        "id bigint, name string, dept_id bigint",
        foreign_keys=[ForeignKey("dept_id", "dept")],
    )
    db.table("dept").insert([{"id": 1, "name": "eng"}, {"id": 2, "name": "ops"}])
    db.table("emp").insert(
        [
            {"id": 10, "name": "Ann", "dept_id": 1},
            {"id": 11, "name": "Bob", "dept_id": 2},
        ]
    )
    # break one ref after insert-time FK checks: retarget Bob to dept 99
    db.table("emp").update_many({"dept_id": F.lit(99)}, "id = 11")

    out = execute(
        db,
        "SELECT $.name, $.dept.name AS dept_name, $.dept.missing AS broken "
        "FROM emp INCLUDE dept ORDER BY $.name",
    ).collect()
    assert [(r["name"], r["dept_name"], r["broken"]) for r in out] == [
        ("Ann", "eng", False),
        ("Bob", None, True),
    ]


def test_include_nested_shape_golden(spark):
    """$-path INCLUDE golden over plain views (conventional FK name):
    the hydrated column keeps the full nested struct shape."""
    from iot_database_spark.query.litesql import lite_sql

    spark.createDataFrame(
        [(1, "p1", 7), (2, "p2", None)],
        "id int, title string, author_id int",
    ).createOrReplaceTempView("posts")
    spark.createDataFrame(
        [(7, "Ann", "ann@x")], "id int, name string, email string"
    ).createOrReplaceTempView("author")

    out = lite_sql(
        spark,
        "SELECT $.id, $.author FROM posts INCLUDE $.author ORDER BY $.id",
    )
    assert out.schema["author"].dataType.simpleString() == (
        "struct<id:int,name:string,email:string,missing:boolean>"
    )
    rows = [(r["id"], r["author"].asDict()) for r in out.collect()]
    assert rows == [
        (1, {"id": 7, "name": "Ann", "email": "ann@x", "missing": False}),
        (2, {"id": None, "name": None, "email": None, "missing": True}),
    ]


def test_for_update_accepted_and_ignored(spark):
    """Trailing FOR UPDATE (Select.cs:12-25 grammar) parses and is a
    no-op: MVCC snapshot reads have nothing to lock."""
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id int, k string"
    ).createOrReplaceTempView("fu_t")
    rows = lite_sql(spark, "SELECT $.k FROM fu_t WHERE $.id = 2 FOR UPDATE").collect()
    assert [r["k"] for r in rows] == ["b"]
    # with a trailing semicolon, and combined with ORDER BY/LIMIT
    rows = lite_sql(
        spark, "SELECT $.id FROM fu_t ORDER BY $.id DESC LIMIT 1 FOR UPDATE;"
    ).collect()
    assert rows[0]["id"] == 2


def test_include_clause_anchored_to_grammar_position(spark):
    """r4 advice: the INCLUDE rewrite must bind to `FROM <name> INCLUDE`
    as one unit — a path named $.include is a field access, and a
    scalar-subquery FROM earlier in the text must not become the
    hydration target."""
    spark.createDataFrame(
        [(1, "yes"), (2, "no")], "id int, include string"
    ).createOrReplaceTempView("inc_col_t")
    # a column literally named `include` is data, not the keyword
    rows = lite_sql(spark, "SELECT $.include FROM inc_col_t ORDER BY $.id").collect()
    assert [r["include"] for r in rows] == ["yes", "no"]

    # scalar subquery whose FROM precedes the main FROM ... INCLUDE:
    # hydration must target `posts2`, not `author2`
    spark.createDataFrame(
        [(1, "p1", 7)], "id int, title string, author2_id int"
    ).createOrReplaceTempView("posts2")
    spark.createDataFrame(
        [(7, "Ann")], "id int, name string"
    ).createOrReplaceTempView("author2")
    out = lite_sql(
        spark,
        "SELECT $.id, (SELECT MAX(id) FROM author2) AS mx, $.author2.name AS an "
        "FROM posts2 INCLUDE $.author2",
    ).collect()
    assert [(r["id"], r["mx"], r["an"]) for r in out] == [(1, 7, "Ann")]


def test_collation_knob_ci_vs_binary(spark, tmp_path):
    """Collation.cs parity knob: collation='ci' makes SQL-dialect string
    compares (WHERE, GROUP BY, DISTINCT) case-insensitive; the default
    'binary' keeps Spark-native ordinal compares (documented
    divergence from the reference's culture/IgnoreCase default)."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    rows = [
        {"id": 1, "name": "Alice"},
        {"id": 2, "name": "ALICE"},
        {"id": 3, "name": "bob"},
    ]
    dbb = IotDatabase("coll_bin", str(tmp_path), spark)
    dbb.tables("people", "id bigint, name string").insert(rows)
    assert dbb.pragma("COLLATION") == "binary/Ordinal"
    got = execute(dbb, "SELECT $.id FROM people WHERE $.name = 'ALICE'").collect()
    assert [r["id"] for r in got] == [2]

    dbc = IotDatabase("coll_ci", str(tmp_path), spark, collation="ci")
    dbc.tables("people", "id bigint, name string").insert(rows)
    assert dbc.pragma("COLLATION") == "en-US/IgnoreCase"
    got = execute(
        dbc, "SELECT $.id FROM people WHERE $.name = 'ALICE' ORDER BY $.id"
    ).collect()
    assert [r["id"] for r in got] == [1, 2]
    grouped = execute(
        dbc, "SELECT COUNT(*) AS n FROM people GROUP BY $.name ORDER BY n DESC"
    ).collect()
    assert [r["n"] for r in grouped] == [2, 1]

    with pytest.raises(ValueError, match="binary' or 'ci"):
        IotDatabase("coll_bad", str(tmp_path), spark, collation="fr-FR")


def test_select_for_version_as_of(spark, tmp_path):
    """SQL time travel over the commit log: FOR VERSION AS OF n reads
    the committed manifest n (Delta syntax; superset command)."""
    from iot_database_spark.database import IotDatabase
    from iot_database_spark.query.litesql import execute

    db = IotDatabase("ttdb", str(tmp_path), spark)
    t = db.tables("m", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}])          # version 0
    t.insert([{"id": 2, "v": "b"}])          # version 1
    execute(db, "DELETE m WHERE id = 1")     # version 2

    now = execute(db, "SELECT $.id FROM m").collect()
    assert {r["id"] for r in now} == {2}
    v0 = execute(db, "SELECT $.id FROM m FOR VERSION AS OF 0").collect()
    assert {r["id"] for r in v0} == {1}
    v1 = execute(db, "SELECT id FROM m FOR VERSION AS OF 1 WHERE v = 'b'").collect()
    assert [r["id"] for r in v1] == [2]
    import pytest

    with pytest.raises(ValueError, match="no committed version"):
        execute(db, "SELECT $.id FROM m FOR VERSION AS OF 99")
