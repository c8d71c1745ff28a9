"""Tests for the IotDatabase/Table API: FK validation, cascades, unique
constraints, CRUD, query builder (FIXTURES.md F1-F4; reference
Table/TableCollection.cs semantics)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_database_spark.database import IotDatabase
from iot_database_spark.tables import ConstraintViolation, ForeignKey


@pytest.fixture()
def db(spark, tmp_path):
    db = IotDatabase("testdb", str(tmp_path), spark)
    customers = db.tables("customers", "id bigint, name string, age int")
    db.tables(
        "orders2",
        "id bigint, customers_id bigint, amount double",
        foreign_keys=[ForeignKey(column="customers_id", parent="customers", constraint="cascading")],
    )
    db.tables(
        "addresses",
        "id bigint, customers_id bigint, line1 string",
        foreign_keys=[ForeignKey(column="customers_id", parent="customers", constraint="setnull")],
    )
    customers.insert(
        [
            {"id": 1, "name": "John", "age": 30},
            {"id": 2, "name": "jane", "age": 22},
            {"id": 3, "name": "Bob", "age": 45},
        ]
    )
    db.table("orders2").insert(
        [
            {"id": 1, "customers_id": 1, "amount": 120.0},
            {"id": 2, "customers_id": 1, "amount": 80.0},
            {"id": 3, "customers_id": 2, "amount": 250.0},
        ]
    )
    db.table("addresses").insert([{"id": 1, "customers_id": 1, "line1": "1 Main St"}])
    return db


def test_fk_insert_validation(db):
    with pytest.raises(ConstraintViolation, match="missing customers.id"):
        db.table("orders2").insert([{"id": 99, "customers_id": 777, "amount": 1.0}])


def test_unique_constraint(db, spark):
    t = db.tables("badges", "id bigint, code string", unique=["code"])
    t.insert([{"id": 1, "code": "A"}])
    with pytest.raises(ConstraintViolation, match="unique"):
        t.insert([{"id": 2, "code": "A"}])


def test_one_to_one(db):
    t = db.tables(
        "profiles",
        "id bigint, customers_id bigint, bio string",
        foreign_keys=[
            ForeignKey(column="customers_id", parent="customers", one_to="one")
        ],
    )
    t.insert([{"id": 1, "customers_id": 1, "bio": "x"}])
    with pytest.raises(ConstraintViolation, match="1:1"):
        t.insert([{"id": 2, "customers_id": 1, "bio": "y"}])


def test_cascade_and_setnull_delete(db):
    # delete customer 1: orders cascade away, address FK nulls out
    n = db.table("customers").delete(F.col("id") == 1)
    assert n == 1
    assert db.table("orders2").count() == 1  # only customer 2's order left
    addr = db.table("addresses").find_one(F.col("id") == 1)
    assert addr["customers_id"] is None


def test_restrictive_delete(db):
    db.tables(
        "notes",
        "id bigint, customers_id bigint, body string",
        foreign_keys=[
            ForeignKey(column="customers_id", parent="customers", constraint="restrictive")
        ],
    ).insert([{"id": 1, "customers_id": 2, "body": "hi"}])
    with pytest.raises(ConstraintViolation, match="Restrictive"):
        db.table("customers").delete(F.col("id") == 2)


def test_auto_id_and_reads(db):
    t = db.table("customers")
    t.insert([{"id": None, "name": "New", "age": 50}])
    assert t.max("id") == 4  # max(3)+1
    assert t.count() == 4
    assert t.exists("age > 40")
    assert t.find_one("name = 'Bob'")["id"] == 3
    assert t.min("age") == 22
    last_two = t.find_all(take=2, order="last").collect()
    assert [r["id"] for r in last_two] == [4, 3]


def test_update_many_transform(db):
    # UpdateMany({Name: UPPER($.Name)} WHERE age > 25) — TableCollection.cs:1305-1328
    t = db.table("customers")
    n = t.update_many({"name": F.upper(F.col("name"))}, "age > 25")
    assert n == 2
    names = {r["name"] for r in t.df.collect()}
    assert "JOHN" in names and "BOB" in names and "jane" in names


def test_upsert(db):
    t = db.table("customers")
    t.upsert([{"id": 2, "name": "JANE2", "age": 23}])
    assert t.count() == 3
    assert t.find_one("id = 2")["name"] == "JANE2"


def test_query_builder(db):
    rows = (
        db.table("customers")
        .query()
        .where("age > 20")
        .order_by("age", ascending=False)
        .select("name", "age")
        .limit(2)
        .to_list()
    )
    assert [r["name"] for r in rows] == ["Bob", "John"]


def test_catalog_introspection(db):
    assert "customers" in db.list_tables()
    cols = {r["column"] for r in db.describe("customers").collect()}
    assert cols == {"id", "name", "age"}


def test_ddl_drop_rename_compact(db):
    db.tables("tmp_tbl", "id bigint, v string").insert(
        [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}]
    )
    db.table("tmp_tbl").insert([{"id": 3, "v": "c"}])  # second append -> more files

    db.compact_table("tmp_tbl")
    assert db.table("tmp_tbl").count() == 3

    db.rename_table("tmp_tbl", "tmp_tbl2")
    assert "tmp_tbl" not in db.list_tables()
    assert db.table("tmp_tbl2").count() == 3

    db.drop_table("tmp_tbl2")
    assert "tmp_tbl2" not in db.list_tables()
    with pytest.raises(KeyError):
        db.table("tmp_tbl2")


def test_rename_table_carries_foreign_keys(db, spark, tmp_path):
    """Renaming a parent moves every child FK with it: a restrictive
    delete still raises, and child inserts validate against the new
    name, in the same session and after reopening the database."""
    db.tables(
        "notes",
        "id bigint, customers_id bigint, body string",
        foreign_keys=[
            ForeignKey(column="customers_id", parent="customers", constraint="restrictive")
        ],
    ).insert([{"id": 1, "customers_id": 2, "body": "hi"}])
    db.rename_table("customers", "people")

    for new_id, d in ((2, db), (3, IotDatabase("testdb", str(tmp_path), spark))):
        assert [c for c, _ in d.children_of("people")] == ["orders2", "addresses", "notes"]
        with pytest.raises(ConstraintViolation, match="Restrictive"):
            d.table("people").delete(F.col("id") == 2)
        assert d.table("people").count() == 3
        with pytest.raises(ConstraintViolation, match="missing people.id"):
            d.table("notes").insert([{"id": 99, "customers_id": 777, "body": "x"}])
        d.table("notes").insert([{"id": new_id, "customers_id": 1, "body": "ok"}])
        assert sorted(r["id"] for r in d.table("notes").df.collect()) == list(
            range(1, new_id + 1)
        )


# -- versioned storage: commit log semantics (tables.py storage layer) ----


def test_insert_appends_without_rewrite(db):
    """An insert stages only the new batch: the previous version's data
    dirs are reused verbatim in the next manifest (O(batch) I/O)."""
    t = db.table("customers")
    v0 = t._current_version()
    dirs0 = t._manifest_dirs(v0)
    t.insert([{"id": 10, "name": "Zed", "age": 50}])
    v1 = t._current_version()
    assert v1 == v0 + 1
    dirs1 = t._manifest_dirs(v1)
    assert dirs1[: len(dirs0)] == dirs0 and len(dirs1) == len(dirs0) + 1
    assert t.count() == 4


def test_uncommitted_staged_dir_is_invisible(db):
    """Crash-safety: a staged data dir with no manifest entry (a write
    that died before commit) must not be readable."""
    t = db.table("customers")
    before = t.count()
    # simulate a crashed writer: stage a batch but never commit it
    ghost = db.spark.createDataFrame([(999, "Ghost", 1)], t.schema)
    t._stage(ghost)
    assert t.count() == before
    assert t.find("id = 999").count() == 0


def test_snapshot_isolation_across_rewrite(db):
    """A DataFrame resolved before an update still reads its own version's
    files afterwards — rewrites never delete or overwrite visible dirs."""
    t = db.table("customers")
    old = t.df
    t.update_many({"name": F.upper(F.col("name"))}, "id = 2")
    assert old.filter("id = 2").collect()[0]["name"] == "jane"  # old snapshot
    assert t.find_one("id = 2")["name"] == "JANE"  # new version


def test_vacuum_reclaims_old_versions(db):
    t = db.table("customers")
    for i in range(3):
        t.update_many({"age": F.col("age") + 1}, "id = 1")
    import os

    data_root = os.path.join(t.path, "data")
    n_dirs_before = len(os.listdir(data_root))
    removed = t.vacuum(keep_last=1)
    assert removed > 0
    assert len(os.listdir(data_root)) == n_dirs_before - removed
    # newest version still fully readable
    assert t.count() == 3
    assert t.find_one("id = 1")["age"] == 33


def test_delete_all_then_readable_and_insert_again(db):
    t = db.tables("scratch", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    t.delete("id > 0")
    assert t.count() == 0  # committed empty snapshot reads as empty
    t.insert([{"id": 5, "v": "c"}])
    assert [r["id"] for r in t.find_all().collect()] == [5]


def test_time_travel_as_of_and_history(db):
    t = db.table("customers")
    v0 = t._current_version()
    t.insert([{"id": 20, "name": "New", "age": 20}])
    t.delete("id = 1")
    # v0 snapshot: original 3 rows; head: 3 (one added, one deleted)
    assert t.as_of(v0).count() == 3
    assert {r["id"] for r in t.as_of(v0).collect()} == {1, 2, 3}
    assert {r["id"] for r in t.df.collect()} == {2, 3, 20}
    hist = t.history()
    assert hist[0]["version"] == t._current_version()
    assert [h["version"] for h in hist] == sorted(
        (h["version"] for h in hist), reverse=True
    )
    with pytest.raises(ValueError, match="no committed version"):
        t.as_of(999)


def test_transaction_commit_publishes_all(db):
    c, o = db.table("customers"), db.table("orders2")
    with db.transaction():
        c.insert([{"id": 50, "name": "Txn", "age": 40}])
        o.insert([{"id": 50, "customers_id": 1, "amount": 5.0}])
        # snapshot isolation: own writes invisible inside the scope
        assert c.find("id = 50").count() == 0
    assert c.find("id = 50").count() == 1
    assert o.find("id = 50").count() == 1


def test_transaction_rollback_discards_everything(db):
    import os

    c = db.table("customers")
    n0 = c.count()
    data_root = os.path.join(c.path, "data")
    with pytest.raises(RuntimeError, match="boom"):
        with db.transaction():
            c.insert([{"id": 60, "name": "Gone", "age": 1}])
            c.update_many({"age": F.lit(0)}, "id = 1")
            raise RuntimeError("boom")
    assert c.count() == n0
    assert c.find_one("id = 1")["age"] == 30  # update rolled back
    # staged dirs were GC'd, not orphaned
    live = set(c._manifest_dirs(c._current_version()))
    assert {os.path.join("data", d) for d in os.listdir(data_root)} == live


def test_transaction_sequential_inserts_chain_ids(db):
    c = db.table("customers")
    with db.transaction():
        c.insert([{"name": "A1", "age": 1}])
        c.insert([{"name": "A2", "age": 2}])
    ids = [r["id"] for r in c.find("name like 'A%'").collect()]
    assert len(ids) == len(set(ids)) == 2


def test_no_nested_transactions(db):
    with db.transaction():
        with pytest.raises(RuntimeError, match="already active"):
            db.transaction()


def test_transaction_insert_then_update_composes(db):
    """A rewrite later in the transaction must chain on the pending
    insert, not the committed snapshot — otherwise the insert is lost."""
    c = db.table("customers")
    with db.transaction():
        c.insert([{"id": 70, "name": "seventy", "age": 7}])
        c.update_many({"age": F.col("age") * 10}, "id = 70")
    row = c.find_one("id = 70")
    assert row is not None and row["age"] == 70


def test_ensure_index_sorted_layout_and_unique(db):
    """ensure_index rewrites range-partitioned+sorted (parquet row-group
    stats become the skip index) and records metadata; unique indexes
    validate existing data and gate future inserts."""
    import pyarrow.parquet as pq
    import glob as g
    import os

    t = db.table("customers")
    t.ensure_index("age")
    assert t.indexes() == [{"name": "idx_age", "column": "age", "unique": False}]
    # every committed file is sorted by age
    v = t._current_version()
    for d in t._manifest_dirs(v):
        for f in g.glob(os.path.join(t.path, d, "*.parquet")):
            ages = pq.read_table(f, columns=["age"])["age"].to_pylist()
            assert ages == sorted(ages)
    assert t.count() == 3  # data intact

    # phase 1: a unique index over duplicated existing values is refused
    t.insert([{"id": 90, "name": "John", "age": 1}])  # duplicates id-1's name
    with pytest.raises(ConstraintViolation, match="not unique"):
        t.ensure_index("name", unique=True)
    # phase 2: once values are unique the index takes, and gates inserts
    t.delete("id = 90")
    t.ensure_index("name", unique=True)
    with pytest.raises(ConstraintViolation, match="unique"):
        t.insert([{"id": 91, "name": "John", "age": 2}])
    # phase 3: drop by name or column; unknown ident raises
    t.drop_index("age")
    assert all(e["column"] != "age" for e in t.indexes())
    with pytest.raises(KeyError, match="no index"):
        t.drop_index("age")


def test_create_index_sql_command(db):
    from iot_database_spark.query.litesql import execute

    execute(db, "CREATE INDEX my_age_idx ON customers ($.age)")
    t = db.table("customers")
    assert t.indexes() == [
        {"name": "my_age_idx", "column": "age", "unique": False}
    ]
    execute(db, "DROP INDEX customers.my_age_idx")  # drops by NAME
    assert t.indexes() == []


def test_finished_transaction_cannot_be_reentered(db):
    t = db.transaction()
    with t:
        pass
    with pytest.raises(RuntimeError, match="already finished"):
        with t:
            pass
    # and the db is usable afterwards — writes publish normally
    c = db.table("customers")
    c.insert([{"id": 80, "name": "After", "age": 8}])
    assert c.find("id = 80").count() == 1


def test_vacuum_refused_inside_transaction(db):
    c = db.table("customers")
    with db.transaction():
        c.insert([{"id": 81, "name": "Stage", "age": 8}])
        with pytest.raises(RuntimeError, match="staged"):
            c.vacuum()
        with pytest.raises(RuntimeError, match="staged"):
            db.compact_table("customers")
    # txn still committed its insert despite the refused vacuums
    assert c.find("id = 81").count() == 1


def test_ensure_index_metadata_rolls_back_with_transaction(db):
    """ADVICE r1: an ensure_index inside a rolled-back transaction must
    not leave persisted index/unique metadata behind (a phantom unique
    constraint the stored data never validated)."""
    t = db.tables("idx_txn", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])

    class Boom(RuntimeError):
        pass

    try:
        with db.transaction():
            t.ensure_index("v", unique=True)
            raise Boom()
    except Boom:
        pass
    assert t.indexes() == []
    assert "v" not in db._meta["tables"]["idx_txn"]["unique"]
    # the un-committed unique constraint must not gate future inserts
    t.insert([{"id": 3, "v": "a"}])
    assert t.count() == 3

    # commit path persists metadata exactly once
    with db.transaction():
        t.ensure_index("id")
    assert [e["column"] for e in t.indexes()] == ["id"]


def test_write_paths_use_few_spark_jobs(db):
    """VERDICT r1 #8: insert must validate ALL constraints in one action
    and assign ids without a max(id) job; update_many must count affected
    rows as an observed metric of the write job, not a separate pass.
    Job counts via the status tracker (AQE may split one action into a
    few stage-jobs, so bounds are ceilings, not exact)."""
    sc = db.spark.sparkContext
    t = db.tables("jobs_plain", "id bigint, v string")
    t.insert([{"id": None, "v": "warm"}])

    # list insert, no constraints: the write job only — id assignment is
    # the persisted sequence, zero validation actions
    sc.setJobGroup("ins0", "plain insert")
    t.insert([{"id": None, "v": "a"}, {"id": None, "v": "b"}])
    assert len(sc.statusTracker().getJobIdsForGroup("ins0")) == 1

    # constrained insert: one validation action (union of all FK/unique
    # counts) + one write — AQE stage-jobs stay well under the old
    # 2 + 2|fk| + |unique| separate actions' job count
    parent = db.tables("jobs_p", "id bigint, v string")
    child = db.tables(
        "jobs_c",
        "id bigint, p_id bigint, u string",
        foreign_keys=[ForeignKey(column="p_id", parent="jobs_p")],
        unique=["u"],
    )
    parent.insert([{"id": 1, "v": "x"}])
    child.insert([{"id": None, "p_id": 1, "u": "w"}])
    sc.setJobGroup("ins1", "constrained insert")
    child.insert([{"id": None, "p_id": 1, "u": "a"}])
    assert len(sc.statusTracker().getJobIdsForGroup("ins1")) <= 7

    # update: exactly the write job (count observed on it)
    sc.setJobGroup("upd", "update")
    n = child.update_many({"u": F.concat(F.col("u"), F.lit("!"))}, "p_id = 1")
    assert n == 2
    assert len(sc.statusTracker().getJobIdsForGroup("upd")) == 1


def test_sequence_is_monotone_and_survives_delete(db):
    """LiteDB auto-id sequences never reuse ids, even after the max row
    is deleted."""
    t = db.tables("seq_t", "id bigint, v string")
    t.insert([{"id": None, "v": "a"}, {"id": None, "v": "b"}])
    assert [r["id"] for r in t.df.orderBy("id").collect()] == [1, 2]
    t.delete("id = 2")
    t.insert([{"id": None, "v": "c"}])
    assert [r["id"] for r in t.df.orderBy("id").collect()] == [1, 3]
    # explicit ids advance the sequence past themselves
    t.insert([{"id": 10, "v": "d"}])
    t.insert([{"id": None, "v": "e"}])
    assert t.max("id") == 11


def test_commit_conflict_detected_and_appends_retry(db, spark):
    """Optimistic concurrency: a writer that prepared a manifest for a
    version slot another writer has since claimed must get
    CommitConflict (os.replace would silently clobber the winner's
    commit); the public append path retries against the re-read base
    and loses nothing."""
    from iot_database_spark.tables import CommitConflict, Table

    t = db.tables("cc_t", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}])

    # writer A reads base + stages a batch, then writer B commits first
    base = t._base_dirs()
    sub = t._stage(spark.createDataFrame([(2, "b")], t.schema))
    tmp, final = t._prepare_publish(base + [sub])  # claims version N+1
    t.insert([{"id": 3, "v": "c"}])  # B wins the N+1 slot
    with pytest.raises(CommitConflict):
        Table._flip(tmp, final)
    # B's row is intact (no lost update), A's batch never became visible
    assert {r["id"] for r in t.df.collect()} == {1, 3}

    # the public path under the same interleaving: stage, lose the race,
    # retry re-chains on the NEW base — all rows survive
    t.insert([{"id": 2, "v": "b"}])
    assert {r["id"] for r in t.df.collect()} == {1, 2, 3}


def test_concurrent_append_threads_lose_no_rows(db, spark):
    """Two threads appending to the same table outside a transaction:
    every batch must survive (the lost-update class the conflict check
    exists for), and the manifest history must show one version per
    committed batch."""
    import threading

    t = db.tables("cc_threads", "id bigint, v string")
    n_threads, n_batches = 2, 4
    errors: list[Exception] = []

    def writer(tid: int) -> None:
        try:
            for b in range(n_batches):
                rows = [{"id": tid * 1000 + b * 10 + i, "v": f"t{tid}b{b}"} for i in range(3)]
                t.insert(rows)
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(tid,)) for tid in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.count() == n_threads * n_batches * 3
    assert len(t.history()) == n_threads * n_batches


def test_snapshot_write_conflict_raises(db, spark):
    """A snapshot rewrite (update/delete/upsert) whose base was
    invalidated by an interleaved commit surfaces CommitConflict
    instead of silently dropping the other writer's rows."""
    from iot_database_spark.tables import CommitConflict

    t = db.tables("cc_snap", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}])
    rv = t._read_version()
    snapshot = t._dirs_df(t._base_dirs()).withColumn("v", F.upper(F.col("v")))
    t.insert([{"id": 2, "v": "late"}])  # interleaved commit
    with pytest.raises(CommitConflict):
        t._write(snapshot, base_version=rv)
    # the interleaved row survived
    assert {r["id"] for r in t.df.collect()} == {1, 2}


def test_schema_evolution_add_and_drop_column(db, spark):
    """Additive evolution (the reference's schemaless analog): rows
    inserted before add_column read NULL for the new column; drop_column
    projects it away without rewriting data; protections hold."""
    t = db.tables("evo_t", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}])
    t.add_column("score", "double")
    t.insert([{"id": 2, "v": "b", "score": 0.5}])
    rows = {r["id"]: r for r in t.df.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 0.5
    # evolution survives a database reopen (metadata persisted)
    import os

    db2 = IotDatabase("testdb", os.path.dirname(db.root), db.spark)
    assert "score" in db2.table("evo_t").columns

    # missing dict keys on insert fill as NULL (BSON missing field)
    t.insert([{"id": 3, "v": "c"}])
    assert {r["id"] for r in t.df.filter("score IS NULL").collect()} == {1, 3}

    t.drop_column("score")
    assert "score" not in t.columns
    assert "score" not in t.df.columns
    with pytest.raises(ValueError):
        t.drop_column("id")
    with pytest.raises(KeyError):
        t.drop_column("nope")
    with pytest.raises(ValueError):
        t.add_column("v", "string")  # already exists

    # protected columns refuse to drop
    t.ensure_index("v")
    with pytest.raises(ValueError):
        t.drop_column("v")


def test_alter_table_sql_routing(db):
    from iot_database_spark.query.litesql import execute

    t = db.tables("evo_sql", "id bigint, v string")
    t.insert([{"id": 1, "v": "x"}])
    execute(db, "ALTER TABLE evo_sql ADD COLUMN note string")
    assert "note" in t.columns
    execute(db, "ALTER TABLE evo_sql DROP COLUMN note")
    assert "note" not in t.columns
    with pytest.raises(ValueError):
        execute(db, "ALTER TABLE evo_sql RENAME COLUMN v TO w")


def test_vacuum_age_guards_unreferenced_dirs(db, spark):
    """Never-referenced data dirs (a live writer's staged batch or a
    crashed writer's leftovers) survive vacuum until retention_s; dirs
    from superseded manifests delete immediately regardless of age.
    Orphaned .tmp manifests get the same age guard."""
    import os
    import time

    t = db.tables("vac_t", "id bigint, v string")
    t.insert([{"id": 1, "v": "a"}])
    t.update_many({"v": F.lit("b")}, "id = 1")  # supersedes version 0

    # a freshly staged, never-published dir (simulated live writer)
    sub = t._stage(spark.createDataFrame([(9, "z")], t.schema))
    staged_full = os.path.join(t.path, sub)
    # an orphaned prepared manifest (simulated crashed writer)
    tmp, _final = t._prepare_publish([sub])

    removed = t.vacuum(keep_last=1)
    assert removed >= 1  # the superseded version-0 dir went
    assert os.path.isdir(staged_full)  # young orphan survives
    assert os.path.exists(tmp)

    # age both past retention: now they are garbage
    old = time.time() - 7200
    os.utime(staged_full, (old, old))
    os.utime(tmp, (old, old))
    t.vacuum(keep_last=1)
    assert not os.path.isdir(staged_full)
    assert not os.path.exists(tmp)
    assert t.find_one("id = 1")["v"] == "b"  # table intact


def test_local_batch_df_routes_safe_rows_to_localrelation(db, spark):
    """r14: small all-scalar list batches must plan as a driver-JVM
    LocalRelation (zero Python-worker tasks, one staged file); rows
    whose pandas/Arrow round trip is not provably value-identical
    (datetime, NaN floats, bytes) must take the classic verified path.
    Both routes must produce value-identical tables."""
    import datetime as dt
    import math

    from iot_database_spark.tables import _local_batch_df

    schema = "id bigint, name string, score double, ok boolean"
    safe = [
        {"id": 1, "name": "a", "score": 1.5, "ok": True},
        {"id": 2, "name": None, "score": None, "ok": None},
    ]
    local = _local_batch_df(spark, safe, schema)
    plan = local._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan, plan

    classic = spark.createDataFrame(safe, schema)
    assert sorted(map(tuple, local.collect())) == sorted(
        map(tuple, classic.collect())
    )

    # NaN must NOT take the Arrow path (pandas folds NaN to null)
    nan_rows = [{"id": 1, "name": "x", "score": math.nan, "ok": True}]
    nan_df = _local_batch_df(spark, nan_rows, schema)
    assert "LocalRelation" not in nan_df._jdf.queryExecution().optimizedPlan().toString()
    [r] = nan_df.collect()
    assert math.isnan(r["score"])  # classic semantics preserved

    # datetime likewise routes classic
    ts_rows = [{"id": 1, "ts": dt.datetime(2024, 1, 1)}]
    ts_df = _local_batch_df(spark, ts_rows, "id bigint, ts timestamp")
    assert "LocalRelation" not in ts_df._jdf.queryExecution().optimizedPlan().toString()

    # and a real insert through the route stages ONE file, not 32
    import glob as _glob
    import os as _os

    t = db.tables("lr_probe", "id bigint, v string")
    t.insert([{"id": None, "v": "a"}, {"id": None, "v": "b"}])
    v = t._current_version()
    [d] = t._manifest_dirs(v)
    files = _glob.glob(_os.path.join(t.path, d, "*.parquet"))
    assert len(files) == 1, files


def test_leaf_cascade_census_rides_parent_count(db, monkeypatch):
    """r14: a cascading delete's recursion must hand each child the
    affected count the parent's census union already measured, so a
    LEAF child skips its census action entirely. Spies on _delete_ids
    (job-count ceilings are AQE-stage-job noisy here) and checks the
    delete still cascades exactly."""
    from iot_database_spark import tables as T

    calls = []
    orig = T.Table._delete_ids

    def spy(self, doomed_ids, rv=T.Table._RV_UNSET, known_count=None):
        calls.append((self.name, known_count))
        return orig(self, doomed_ids, rv=rv, known_count=known_count)

    monkeypatch.setattr(T.Table, "_delete_ids", spy)
    # fixture data: customer 2 has one orders2 row (cascading child)
    n = db.table("customers").delete("id = 2")
    assert n == 1
    assert ("customers", None) in calls  # root runs its own census
    assert ("orders2", 1) in calls  # leaf child receives the count
    assert db.table("orders2").count(F.col("customers_id") == 2) == 0
    assert db.table("customers").count() == 2


def test_local_batch_df_keeps_bigint_precision_and_strict_types(db, spark):
    """A bigint column holding both 2**53+1 and None must round-trip
    exactly through the local list-batch route (a float64 staging
    column rounds it to 2**53), and a value the classic path refuses
    for its column — a float in a bigint column, an int in a double
    one — must be refused the same way, not silently converted."""
    from iot_database_spark.tables import _local_batch_df

    schema = "id bigint, n bigint, v string"
    big = 2**53 + 1
    rows = [{"id": 1, "n": big, "v": "a"}, {"id": 2, "n": None, "v": "b"}]
    got = _local_batch_df(spark, [dict(r) for r in rows], schema)
    assert sorted(map(tuple, got.collect())) == [(1, big, "a"), (2, None, "b")]

    for bad, ddl in (
        ({"id": 1, "n": 1.0, "v": "a"}, schema),
        ({"id": 1, "d": 1}, "id bigint, d double"),
        ({"id": 1, "b": 1}, "id bigint, b boolean"),
    ):
        with pytest.raises(TypeError):
            spark.createDataFrame([dict(bad)], ddl).collect()
        with pytest.raises(TypeError):
            _local_batch_df(spark, [dict(bad)], ddl).collect()

    # end to end through Table.insert
    t = db.tables("bigints", schema)
    t.insert([{"id": None, "n": big, "v": "a"}, {"id": None, "n": None, "v": "b"}])
    assert sorted((r["v"], r["n"]) for r in t.df.collect()) == [
        ("a", big), ("b", None)
    ]


def test_save_meta_crash_mid_dump_keeps_old_meta(db, spark, tmp_path, monkeypatch):
    """_save_meta runs several times per write_batch (sequence bases,
    the heads stamp). A crash part-way through the dump must leave the
    previous _meta.json whole, so the store still opens with the meta
    it had before the interrupted save."""
    import json
    import os

    from iot_database_spark import database as D

    with open(db._meta_path) as f:
        before = json.load(f)

    def torn_dump(obj, f, **kw):
        f.write('{"tables": {"customers": {"sch')
        raise RuntimeError("crash mid-dump")

    monkeypatch.setattr(D.json, "dump", torn_dump)
    db._meta["tables"]["customers"]["seq"] = 999
    with pytest.raises(RuntimeError, match="crash mid-dump"):
        db._save_meta()
    monkeypatch.undo()

    reopened = IotDatabase("testdb", str(tmp_path), spark)
    assert reopened._meta == before
    assert reopened.table("customers").count() == 3
    # no torn temp file is left beside the meta
    assert not [f for f in os.listdir(db.root) if ".tmp-" in f]
