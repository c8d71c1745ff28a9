"""TableCollection equivalent: typed tables with FK / unique constraints,
validated inserts, cascading deletes, and a fluent query builder.

Reference: Iot.Database/Table/TableCollection.cs —
- insert validation (:922-978): parent-existence check per FK, 1:1
  duplicate check, [UniqueValue] uniqueness check.
- delete constraints (:316-460): Restrictive throws when children exist;
  Cascading recursively deletes children; SetNull/SetDefault rewrite the
  child FK column.
- reads (:666-891): Find/FindOne/FindAll/Count/Exists/Min/Max.
- UpdateMany(transform, predicate) (:1305-1328): column-transform
  expressions applied to matching rows.

Spark has no engine-level constraints, so validation runs as JOINS before
the write (anti-join for parent existence — scales as a broadcast of the
new batch against the parent's id column) and cascades run as recursive
anti-join rewrites.

Storage is a versioned Parquet dataset per table with an atomic commit
log — the same protocol Delta Lake's transaction log uses (and the Spark
analog of the reference's WAL + snapshot isolation, LiteDB/Engine/
Services/WalIndexService.cs):

    <table>/_txn/<N>.json   manifest N: the data dirs visible at version N
    <table>/data/<uuid>/    one write job's immutable parquet file set

Readers resolve max committed N and scan exactly its dirs. Writers stage
a NEW data dir (never touching files a reader may hold), then publish it
with an os.replace of the manifest — atomic on POSIX, so a crash mid-
write leaves only an invisible orphan dir and the previous version
intact. Inserts commit prev_dirs + [staged] (O(batch) I/O, no table
rewrite); update/delete/upsert commit [staged] (one write job — the old
double-write staging copy is gone, and self-referential writes are safe
because the staged dir is disjoint from every dir being read). vacuum()
garbage-collects dirs no longer referenced by the newest manifests. At
cluster scale the same layer maps 1:1 onto Delta (MERGE/OPTIMIZE/VACUUM).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ForeignKey:
    """[TableForeignKey] equivalent (Attributes/TableForeignKeyAttribute.cs).

    constraint: 'cascading' | 'restrictive' | 'setnull' | 'setdefault'
    one_to:     'one' | 'many'   (RelationshipOneTo.cs)
    """

    column: str
    parent: str
    constraint: str = "cascading"
    one_to: str = "many"
    default: object = None

    def to_dict(self) -> dict:
        return {
            "column": self.column,
            "parent": self.parent,
            "constraint": self.constraint,
            "one_to": self.one_to,
            "default": self.default,
        }

    @staticmethod
    def from_dict(d: dict) -> "ForeignKey":
        return ForeignKey(**d)


class ConstraintViolation(Exception):
    pass


# -- driver-local batch construction ------------------------------------
# createDataFrame(list) parallelizes the rows over defaultParallelism
# slices (pyspark _createFromLocal passes no numSlices), so an 8-row
# registry insert runs 32 Python-worker tasks for every action over the
# batch and stages 32 near-empty parquet files — pure scheduling+commit
# overhead that dominates digest-style lifecycles of many tiny list
# batches (guide §2.2 "fewer, larger map tasks"; §6 small-files). For
# small all-scalar batches we build the frame from an Arrow table
# instead: under Arrow + spark.sql.execution.arrow.localRelationThreshold
# (48 MB default) it becomes a driver-JVM LocalRelation — ZERO tasks to
# produce, one staged file on write, and every validation job over it
# folds to a local scan. Measured min-of-8 on the unique-constrained
# 8-row registry-insert shape: uniq-check job 0.71 -> 0.23 s, stage
# write 0.58 -> 0.19 s.
#
# The local path is taken only when every value's exact Python type is
# one the classic path accepts for its column unchanged (None fits any
# column): int in range for the integral types, a non-NaN float for
# float/double (Arrow's pandas semantics would fold NaN to null where
# the classic path keeps NaN), bool for boolean, str for string. The
# Arrow columns are then built with the schema's own types, so no value
# passes through a float64 column on its way in (a bigint column that
# also held None once lost 2**53+1 that way). Anything else — an int
# for a double column, a float for a bigint one, datetimes, bytes,
# Decimals, arrays — takes the classic path, which converts or refuses
# it exactly as before.
_LOCAL_MAX_ROWS = 100_000
_INT_RANGES = {
    "tinyint": 7, "smallint": 15, "int": 31, "bigint": 63,
}


def _local_accepts(dtype: str, v) -> bool:
    if v is None:
        return True
    t = type(v)
    if dtype in _INT_RANGES:
        bits = _INT_RANGES[dtype]
        return t is int and -(1 << bits) <= v < (1 << bits)
    if dtype in ("double", "float"):
        return t is float and v == v
    return (dtype == "boolean" and t is bool) or (dtype == "string" and t is str)


# DDL string -> StructType. A table's schema string changes only on
# add/drop_column, so each distinct string is parsed by the JVM once per
# process instead of on every Table.columns / _stage / list insert.
_DDL_CACHE: dict = {}


def _schema_struct(spark, ddl: str):
    st = _DDL_CACHE.get(ddl)
    if st is None:
        st = _DDL_CACHE[ddl] = spark.createDataFrame([], ddl).schema
    return st


def _local_batch_df(spark, rows: list[dict], schema: str) -> DataFrame:
    """A DataFrame over driver-local rows — as a LocalRelation when the
    values are provably round-trip-safe, else the classic RDD path."""
    fields = _schema_struct(spark, schema).fields
    kinds = [(f.name, f.dataType.simpleString()) for f in fields]
    if (
        rows
        and len(rows) <= _LOCAL_MAX_ROWS
        and all(_local_accepts(k, r.get(n)) for n, k in kinds for r in rows)
    ):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        table = pa.table({
            f.name: pa.array(
                [r.get(f.name) for r in rows], type=to_arrow_type(f.dataType)
            )
            for f in fields
        })
        # coalesce(1): a LocalTableScan otherwise parallelizes one task
        # PER ROW (capped at leaf-node parallelism), staging one file
        # per row; a JVM-local narrow coalesce makes every action over
        # the batch a single task and the staged write a single file —
        # which every later read of a digest-lifecycle table also wins
        # from (guide §6 small-files)
        return spark.createDataFrame(table, schema).coalesce(1)
    return spark.createDataFrame(rows, schema)


def _same_session(df: DataFrame, spark) -> bool:
    """True when `df` is bound to `spark` itself, so an Observation
    attached to it completes when a job over it runs. Observations are
    delivered via the owning session's execution listener; a frame built
    on a DIFFERENT session (the one real case: a foreachBatch micro-batch
    frame, which Spark binds to a per-batch session clone) executes under
    one session while the observation listens on the other — obs.get
    then blocks forever (measured: stream_rollup_to_table hung exactly
    this way when upsert observed its micro-batch frames). Callers take a
    separate census action for such frames instead."""
    try:
        return df.sparkSession is spark
    except Exception:
        return False


class CommitConflict(Exception):
    """Another writer published the manifest version this commit claimed
    (optimistic concurrency — the Delta-protocol conflict class).
    Appends retry automatically (they commute); snapshot rewrites
    surface it, since their content was computed against a stale base."""


class Table:
    def __init__(self, db, name: str, schema: str, foreign_keys, unique, path: str):
        self.db = db
        self.name = name
        self.schema = schema
        self.foreign_keys: list[ForeignKey] = foreign_keys
        self.unique: list[str] = unique
        self.path = path
        self._df_memo: tuple | None = None  # (key, frame) — see `df`

    # -- storage: versioned parquet + atomic commit log -----------------

    def _txn_dir(self) -> str:
        return os.path.join(self.path, "_txn")

    def _versions(self) -> list[int]:
        """Committed manifest versions, in listing order."""
        d = self._txn_dir()
        if not os.path.isdir(d):
            return []
        return [
            int(f[:-5])
            for f in os.listdir(d)
            if f.endswith(".json") and f[:-5].isdigit()
        ]

    def _current_version(self) -> int:
        """Max committed manifest version, -1 if the table is empty."""
        return max(self._versions(), default=-1)

    def _manifest_dirs(self, version: int) -> list[str]:
        with open(os.path.join(self._txn_dir(), f"{version}.json")) as f:
            return json.load(f)["dirs"]

    @property
    def columns(self) -> list[str]:
        return _schema_struct(self.db.spark, self.schema).names

    @property
    def df(self) -> DataFrame:
        """The committed rows of the current version, memoised.

        Validity rule: data dirs are uuid-named and immutable, and a
        manifest names its dirs exactly, so the frame resolved for one
        manifest stays valid until the manifest moves. The memo holds one
        frame per table, keyed on (session, schema string, the current
        manifest's dir list). Every write publishes a new dir list and
        add/drop_column a new schema string, so each misses without any
        invalidation path; keying on the dir list rather than the version
        number means a drop-and-recreate, which restarts at version 0,
        never hits an old entry. Each call still reads the manifest, so
        a commit from another process is seen at once. The empty-table
        and bare-parquet fallbacks are not memoised."""
        v = self._current_version()
        if v < 0:
            # legacy/plain layout fallback: a bare parquet dir at `path`
            if glob.glob(os.path.join(self.path, "*.parquet")):
                return self.db.spark.read.schema(self.schema).parquet(self.path)
            return self.db.spark.createDataFrame([], self.schema)
        dirs = self._manifest_dirs(v)
        key = (self.db.spark, self.schema, tuple(dirs))
        if self._df_memo is None or self._df_memo[0] != key:
            self._df_memo = (key, self._dirs_df(dirs))
        return self._df_memo[1]

    def _stage(self, df: DataFrame) -> str:
        """Write one immutable data dir; return its path relative to the
        table root. Not visible to readers until a manifest commits it.
        Row groups are bounded (layout.ROW_GROUP_BYTES) so even a
        single-partition snapshot rewrite stays byte-range-splittable
        for later scans."""
        from iot_database_spark.layout import ROW_GROUP_BYTES

        sub = os.path.join("data", uuid.uuid4().hex)
        df.select(*self.columns).write.mode("overwrite").option(
            "parquet.block.size", str(ROW_GROUP_BYTES)
        ).parquet(os.path.join(self.path, sub))
        return sub

    def _prepare_publish(
        self, dirs: list[str], version: int | None = None
    ) -> tuple[str, str]:
        """Phase 1 of a publish: write the tmp manifest for the next
        version (or an explicitly pinned one) and return (tmp_path,
        final_path). The caller flips it in with _flip — this split lets
        a multi-table transaction stage every manifest before making any
        of them visible, and the explicit `version` lets read-modify-
        write paths pin the slot right after the version their content
        was READ at, so any interleaved commit collides instead of
        being silently overwritten."""
        os.makedirs(self._txn_dir(), exist_ok=True)
        v = self._current_version() + 1 if version is None else version
        tmp = os.path.join(self._txn_dir(), f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as f:
            json.dump({"version": v, "dirs": dirs}, f)
        return tmp, os.path.join(self._txn_dir(), f"{v}.json")

    def _read_version(self) -> int | None:
        """The committed version a read-modify-write is based on — pin it
        BEFORE resolving base dirs. None inside a transaction (publish
        happens at txn commit, whose flip does the conflict check)."""
        txn = getattr(self.db, "_txn", None)
        if txn is not None and txn.base_dirs(self) is not None:
            return None
        return self._current_version()

    @staticmethod
    def _flip(tmp: str, final: str) -> None:
        """Make a prepared manifest live — atomically, and ONLY if its
        version slot is still free. os.link fails with FileExistsError
        when a concurrent writer already published this version (where
        os.replace would silently clobber their commit — a lost update);
        that loser raises CommitConflict and re-chains."""
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(final) from None
        os.unlink(tmp)

    def _publish(self, dirs: list[str]) -> None:
        """Atomically publish a manifest making `dirs` the new version."""
        tmp, final = self._prepare_publish(dirs)
        self._flip(tmp, final)

    def _base_dirs(self) -> list[str]:
        """The dirs the next write chains on: the active transaction's
        pending state for this table if any, else the committed manifest."""
        txn = getattr(self.db, "_txn", None)
        if txn is not None:
            pending = txn.base_dirs(self)
            if pending is not None:
                return pending
        v = self._current_version()
        return self._manifest_dirs(v) if v >= 0 else []

    def _dirs_df(self, dirs: list[str]) -> DataFrame:
        """Read the non-empty data dirs among `dirs`; an empty frame when
        none holds a parquet file (e.g. a committed delete-all)."""
        paths = [
            p
            for d in dirs
            if glob.glob(os.path.join(p := os.path.join(self.path, d), "*.parquet"))
        ]
        if not paths:
            return self.db.spark.createDataFrame([], self.schema)
        # explicit schema: per-file columns resolve by name, so dirs
        # written from differently-ordered batches read consistently
        return self.db.spark.read.schema(self.schema).parquet(*paths)

    def _write(self, df: DataFrame, base_version: int | None = None) -> None:
        """Full-snapshot rewrite (update/delete/upsert): one write job to
        a fresh dir, then publish at base_version+1 (the version the
        caller pinned when it READ the rows it is rewriting; defaults to
        entry-time current). A CommitConflict is a true write-write
        conflict — another writer committed between that read and this
        publish — and propagates: retrying would silently drop the other
        writer's rows."""
        sub = self._stage(df)
        txn = getattr(self.db, "_txn", None)
        if txn is not None:
            txn.record(self, [sub], sub)
            return
        v = self._current_version() if base_version is None else base_version
        tmp, final = self._prepare_publish([sub], version=v + 1)
        self._flip(tmp, final)

    def _append(self, df: DataFrame) -> None:
        """Insert path: stage only the new batch — O(batch) I/O.

        The base dirs and the version slot are read together, so an
        interleaved commit always collides at the flip. Appends commute:
        losing the race costs one manifest retry against the re-read
        base (the staged data dir is reused; no Spark job re-runs)."""
        sub = self._stage(df)
        txn = getattr(self.db, "_txn", None)
        if txn is not None:
            txn.record(self, self._base_dirs() + [sub], sub)
            return
        for _ in range(64):
            v = self._current_version()
            base = self._manifest_dirs(v) if v >= 0 else []
            tmp, final = self._prepare_publish(base + [sub], version=v + 1)
            try:
                self._flip(tmp, final)
                return
            except CommitConflict:
                continue
        raise CommitConflict(
            f"{self.name}: append lost the manifest race 64 times"
        )

    def ensure_index(
        self, column: str, unique: bool = False, name: str | None = None
    ) -> None:
        """EnsureIndex equivalent (TableCollection.cs:535-591; SQL
        `CREATE [UNIQUE] INDEX` — Commands/Create.cs:12).

        Spark has no secondary indexes; the idiomatic analog is LAYOUT:
        rewrite the table range-partitioned + sorted by the column, so
        every parquet row group carries tight min/max stats on it and a
        point/range filter skips whole row groups and files (the same
        role the reference's skip-list index plays, without a second
        structure to maintain). The index column is recorded in table
        metadata; `unique` validates now and on every future insert."""
        rv = self._read_version()
        current = self._dirs_df(self._base_dirs())  # txn-pending aware
        appended_unique = False
        if unique and column not in self.unique:
            dup = (
                current.filter(F.col(column).isNotNull())
                .groupBy(column)
                .count()
                .filter(F.col("count") > 1)
                .count()
            )
            if dup:
                raise ConstraintViolation(
                    f"{self.name}.{column}: existing values not unique"
                )
            self.unique.append(column)  # gates inserts from now on (in-txn too)
            appended_unique = True
        sorted_df = current.repartitionByRange(
            max(1, self.db.spark.sparkContext.defaultParallelism // 4),
            F.col(column),
        ).sortWithinPartitions(column)
        self._write(sorted_df, base_version=rv)

        def apply_meta() -> None:
            meta = self.db._meta["tables"][self.name]
            idx = meta.setdefault("indexes", [])
            entry = {
                "name": name or f"idx_{column}",
                "column": column,
                "unique": unique,
            }
            if entry not in idx:
                idx.append(entry)
            if unique and column not in meta["unique"]:
                meta["unique"].append(column)
            self.db._save_meta()

        txn = getattr(self.db, "_txn", None)
        if txn is None:
            apply_meta()
        else:
            # inside a transaction the layout rewrite above is deferred to
            # commit — the persisted metadata must defer with it, or a
            # rollback leaves _meta claiming an index (and a unique
            # constraint) the stored data never validated
            txn.on_commit(apply_meta)
            if appended_unique:
                txn.on_rollback(
                    lambda: self.unique.remove(column)
                    if column in self.unique
                    else None
                )

    def drop_index(self, ident: str) -> None:
        """DROP INDEX equivalent: forget the layout metadata (data stays
        sorted until the next rewrite). `ident` matches the index NAME
        (the reference drops by name — Commands/Drop.cs) or the column.
        Raises if nothing matches — a silent no-op would mask typos."""
        meta = self.db._meta["tables"][self.name]
        before = meta.get("indexes", [])
        after = [e for e in before if ident not in (e["name"], e["column"])]
        if len(after) == len(before):
            raise KeyError(f"{self.name}: no index named {ident!r}")
        meta["indexes"] = after
        self.db._save_meta()

    def indexes(self) -> list[dict]:
        """$indexes-style introspection."""
        return list(self.db._meta["tables"][self.name].get("indexes", []))

    # -- schema evolution --------------------------------------------------
    # The reference stores schemaless BSON documents: a document may gain
    # a field at any time and older documents read the field as null
    # (BsonDocument indexer semantics). This engine's fixed-schema
    # narrowing gets the additive half of that back as metadata-only
    # evolution: reads pass the EXPLICIT table schema, so parquet files
    # written before an add_column fill the new column with NULL, and
    # files written before a drop_column simply never project it — no
    # data rewrite, any `as_of` version still readable.

    def _set_schema(self, fields) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
        self.schema = ddl
        self.db._meta["tables"][self.name]["schema"] = ddl
        self.db._save_meta()

    def _no_txn(self, op: str) -> None:
        if getattr(self.db, "_txn", None) is not None:
            raise RuntimeError(
                f"{op} is metadata DDL and cannot run inside a transaction"
            )

    def add_column(self, column: str, dtype: str) -> None:
        """Additive evolution: rows inserted before this read NULL for
        the new column (the reference's missing-BSON-field semantics)."""
        self._no_txn("add_column")
        fields = list(_schema_struct(self.db.spark, self.schema).fields)
        if any(f.name == column for f in fields):
            raise ValueError(f"{self.name}.{column} already exists")
        new = _schema_struct(self.db.spark, f"{column} {dtype}").fields
        self._set_schema(fields + list(new))

    def drop_column(self, column: str) -> None:
        """Projection-only drop: the bytes stay in old data dirs, new
        reads and writes no longer carry the column (`as_of` also reads
        under the CURRENT schema, so history reads drop it too). id /
        FK / unique / indexed columns refuse."""
        self._no_txn("drop_column")
        if column == "id":
            raise ValueError("cannot drop the id column")
        protected = (
            {fk.column for fk in self.foreign_keys}
            | set(self.unique)
            | {e["column"] for e in self.indexes()}
        )
        if column in protected:
            raise ValueError(
                f"{self.name}.{column} is referenced by an FK/unique/index"
            )
        fields = list(_schema_struct(self.db.spark, self.schema).fields)
        if not any(f.name == column for f in fields):
            raise KeyError(f"{self.name}: no column {column!r}")
        self._set_schema([f for f in fields if f.name != column])

    def as_of(self, version: int) -> DataFrame:
        """Time-travel read of a committed version (Delta `versionAsOf`;
        the storage analog of the reference's per-file version chains,
        FileManager/FileVersionNode.cs). Raises if the version was
        vacuumed or never committed."""
        path = os.path.join(self._txn_dir(), f"{version}.json")
        if not os.path.exists(path):
            raise ValueError(f"{self.name}: no committed version {version}")
        return self._dirs_df(self._manifest_dirs(version))

    def history(self) -> list[dict]:
        """Commit log listing: [{'version': N, 'n_dirs': k}, ...] newest
        first ($transactions-style introspection)."""
        return [
            {"version": v, "n_dirs": len(self._manifest_dirs(v))}
            for v in sorted(self._versions(), reverse=True)
        ]

    def vacuum(self, keep_last: int = 2, retention_s: float = 3600.0) -> int:
        """Remove data dirs unreferenced by the newest `keep_last`
        manifests (and the superseded manifests). Old snapshots stay
        readable until vacuumed — Delta VACUUM semantics. Refused inside
        a transaction: staged-but-unpublished dirs are not in any
        committed manifest and would be swept as garbage.

        Two garbage classes, treated differently (Delta's retention
        model): dirs referenced by a SUPERSEDED manifest were committed
        and can never be re-published — deleted immediately; dirs
        referenced by NO manifest are either a crashed writer's leftovers
        or a LIVE concurrent writer's staged-but-not-yet-flipped batch —
        deleted only when older than `retention_s`, so vacuum can run
        beside active writers without yanking their commit out from
        under them. Orphaned `.tmp-*.json` manifests get the same age
        guard."""
        import time

        if getattr(self.db, "_txn", None) is not None:
            raise RuntimeError(
                "vacuum inside a transaction would delete its staged dirs"
            )
        v = self._current_version()
        if v < 0:
            return 0
        floor = max(0, v - keep_last + 1)
        live: set[str] = set()
        referenced: set[str] = set()
        for x in self._versions():
            dirs = set(self._manifest_dirs(x))
            referenced |= dirs
            if x >= floor:
                live |= dirs
        now = time.time()
        removed = 0
        data_root = os.path.join(self.path, "data")
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                rel = os.path.join("data", d)
                if rel in live:
                    continue
                full = os.path.join(data_root, d)
                if rel not in referenced:
                    try:
                        if now - os.path.getmtime(full) < retention_s:
                            continue  # possibly a live writer's staged batch
                    except OSError:
                        continue
                shutil.rmtree(full, ignore_errors=True)
                removed += 1
        for f in os.listdir(self._txn_dir()):
            p = os.path.join(self._txn_dir(), f)
            if f.endswith(".json") and f[:-5].isdigit() and int(f[:-5]) < floor:
                os.remove(p)
            elif f.startswith(".tmp-"):
                try:
                    if now - os.path.getmtime(p) >= retention_s:
                        os.remove(p)  # crashed writer's prepared manifest
                except OSError:
                    pass
        return removed

    # -- insert (TableCollection.cs:922-1070) -----------------------------

    def insert(self, rows: list[dict] | DataFrame) -> int:
        """Validated batch insert; raises ConstraintViolation on any FK /
        unique / 1:1 breach (the reference throws per-row; batch-first
        here). Auto-assigns ids from the table's persisted sequence.

        Scale note: ALL validation counts (every FK orphan check, 1:1
        check, unique check — plus the batch count/max-id when the input
        is a DataFrame) are computed in ONE Spark action over a union of
        single-row aggregates. Round 1 ran 2 + 2·|fk| + |unique| separate
        jobs per insert, each rescanning the batch and the table."""
        import dataclasses as _dc

        if isinstance(rows, list) and rows and _dc.is_dataclass(rows[0]):
            from iot_database_spark.mapper import to_row

            rows = [to_row(r) for r in rows]
        from_list = not isinstance(rows, DataFrame)
        batch = (
            _local_batch_df(self.db.spark, self._with_ids(rows), self.schema)
            if from_list
            else rows
        )

        current = self._dirs_df(self._base_dirs())
        # (label, count-DataFrame, exception-builder) per constraint, in
        # the order violations must be reported
        checks: list[tuple[str, DataFrame, object]] = []
        for fk in self.foreign_keys:
            pt = self.db.table(fk.parent)
            parent = pt._dirs_df(pt._base_dirs()).select(F.col("id").alias("_pid"))
            orphans = (
                batch.filter(F.col(fk.column).isNotNull())
                .join(parent, batch[fk.column] == F.col("_pid"), "left_anti")
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            checks.append(
                (
                    f"fk:{fk.column}",
                    orphans,
                    lambda n, fk=fk: ConstraintViolation(
                        f"{self.name}.{fk.column}: {n} row(s) reference "
                        f"missing {fk.parent}.id"
                    ),
                )
            )
            if fk.one_to == "one":
                # 1:1 — no parent may gain a second child
                # (TableCollection.cs:941-966)
                dup = (
                    batch.select(F.col(fk.column).alias("_fk"))
                    .unionByName(current.select(F.col(fk.column).alias("_fk")))
                    .filter(F.col("_fk").isNotNull())
                    .groupBy("_fk")
                    .count()
                    .filter(F.col("count") > 1)
                    .agg(F.count(F.lit(1)).alias("_n"))
                )
                checks.append(
                    (
                        f"1to1:{fk.column}",
                        dup,
                        lambda n, fk=fk: ConstraintViolation(
                            f"{self.name}.{fk.column}: 1:1 relationship to "
                            f"{fk.parent} violated"
                        ),
                    )
                )
        # unique columns (TableCollection.cs:967-977)
        for col in self.unique:
            dup = (
                batch.select(F.col(col).alias("_u"))
                .unionByName(current.select(F.col(col).alias("_u")))
                .filter(F.col("_u").isNotNull())
                .groupBy("_u")
                .count()
                .filter(F.col("count") > 1)
                .agg(F.count(F.lit(1)).alias("_n"))
            )
            checks.append(
                (
                    f"uniq:{col}",
                    dup,
                    lambda n, col=col: ConstraintViolation(
                        f"{self.name}.{col}: unique violated"
                    ),
                )
            )

        n = len(rows) if from_list else None
        batch_max_id = None
        if not checks and not from_list and _same_session(batch, self.db.spark):
            # no constraints to validate: the batch census (count + max
            # id for the sequence) rides the append's WRITE job as an
            # observed metric instead of a separate aggregation action —
            # one Spark job per unconstrained DataFrame insert, not two
            # (r13; same pattern as update_many's affected-row count).
            # _stage() runs the write eagerly even inside a transaction
            # (only the manifest publish is deferred), so the metrics
            # are always available right after _append returns.
            from pyspark.sql import Observation

            obs = Observation()
            self._append(
                batch.observe(
                    obs,
                    F.count(F.lit(1)).alias("_n"),
                    F.max("id").alias("_m"),
                )
            )
            row = obs.get
            n = row["_n"]
            if row["_m"] is not None:
                self._advance_seq(int(row["_m"]))
            return n
        if checks or not from_list:
            if not from_list and len(checks) > 1:
                batch = batch.persist()
            stats = [
                c.select(F.lit(label).alias("_c"), F.col("_n"))
                for label, c, _ in checks
            ]
            if not from_list:
                stats.append(
                    batch.agg(
                        F.count(F.lit(1)).alias("_n"),
                        F.max("id").alias("_m"),
                    ).select(F.lit("_batch").alias("_c"), F.col("_n"), F.col("_m"))
                )
            import functools

            def pad(df: DataFrame) -> DataFrame:
                return (
                    df
                    if "_m" in df.columns
                    else df.select("_c", "_n", F.lit(None).cast("bigint").alias("_m"))
                )

            unioned = functools.reduce(
                lambda a, b: a.unionAll(b), (pad(s) for s in stats)
            )
            counts = {r["_c"]: (r["_n"], r["_m"]) for r in unioned.collect()}
            for label, _, exc in checks:
                bad = counts[label][0]
                if bad:
                    if not from_list and len(checks) > 1:
                        batch.unpersist()
                    raise exc(bad)
            if not from_list:
                n, batch_max_id = counts["_batch"]
        self._append(batch)
        if not from_list and len(checks) > 1:
            batch.unpersist()
        if batch_max_id is not None:
            self._advance_seq(int(batch_max_id))
        return n

    def _seq_base(self) -> int:
        """Last id handed out by this table's sequence ($sequences analog
        — LiteDB auto-id; SysSequences.cs). Persisted in table metadata so
        id assignment costs zero Spark jobs; tables created before the
        sequence existed migrate via a one-time max(id) read."""
        meta = self.db._meta["tables"][self.name]
        seq = meta.get("seq")
        if seq is None:
            cur = self._dirs_df(self._base_dirs())
            seq = cur.agg(F.max("id")).collect()[0][0] or 0
        return int(seq)

    def _advance_seq(self, value: int) -> None:
        """Monotone: never reuse ids, even after deleting the max row
        (matching LiteDB sequence behavior)."""
        meta = self.db._meta["tables"][self.name]
        if value > int(meta.get("seq") or 0):
            meta["seq"] = int(value)
            self.db._save_meta()

    def _with_ids(self, rows: list[dict]) -> list[dict]:
        need = [r for r in rows if r.get("id") is None]
        explicit_max = max(
            (r["id"] for r in rows if r.get("id") is not None), default=0
        )
        base = self._seq_base()
        for i, r in enumerate(need, start=1):
            r["id"] = base + i
        self._advance_seq(max(base + len(need), explicit_max))
        return rows

    # -- delete with FK behavior (TableCollection.cs:316-460) -------------

    def delete(self, predicate: Column | str) -> int:
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        rv = self._read_version()
        doomed_ids = (
            self._dirs_df(self._base_dirs())
            .filter(pred)
            .select(F.col("id").alias("_did"))
        )
        return self._delete_ids(doomed_ids, rv=rv)

    _RV_UNSET = object()

    def _delete_ids(
        self, doomed_ids: DataFrame, rv=_RV_UNSET, known_count: int | None = None
    ) -> int:
        """Delete by an id set (a DataFrame, so cascades stay distributed —
        the recursion never collects ids to the driver).

        The doomed count and every child's affected count come from ONE
        Spark action (union of single-row aggregates), mirroring insert's
        single validation pass — control flow (early exit, restrictive
        raise, which children to touch) needs the counts before any
        mutation, but not one job per count. A cascading recursion passes
        the affected count it already measured as ``known_count``, so a
        LEAF child runs NO census at all (r14: the recursive call was
        re-counting the exact rows the parent's census union had just
        counted — one whole Spark action per leaf child cut)."""
        if rv is Table._RV_UNSET:
            rv = self._read_version()
        children = list(self.db.children_of(self.name))
        if known_count is not None and not children:
            if known_count == 0:
                return 0
            current = self._dirs_df(self._base_dirs())
            self._write(
                current.join(
                    doomed_ids, current["id"] == F.col("_did"), "left_anti"
                ),
                base_version=rv,
            )
            return known_count
        if children:
            doomed_ids = doomed_ids.persist()
        stats = []
        if known_count is None:
            stats.append(
                doomed_ids.agg(F.count(F.lit(1)).alias("_n")).select(
                    F.lit("_doomed").alias("_c"), "_n"
                )
            )
        for child_name, fk in children:
            child = self.db.table(child_name)
            cdf = child._dirs_df(child._base_dirs())
            stats.append(
                cdf.join(doomed_ids, cdf[fk.column] == F.col("_did"), "left_semi")
                .agg(F.count(F.lit(1)).alias("_n"))
                .select(F.lit(child_name).alias("_c"), "_n")
            )
        import functools

        counts = {
            r["_c"]: r["_n"]
            for r in functools.reduce(
                lambda a, b: a.unionAll(b), stats
            ).collect()
        }
        n = known_count if known_count is not None else counts["_doomed"]
        if n == 0:
            if children:
                doomed_ids.unpersist()
            return 0
        for child_name, fk in children:
            child = self.db.table(child_name)
            child_rv = child._read_version()
            cdf = child._dirs_df(child._base_dirs())
            affected_ids = cdf.join(
                doomed_ids, cdf[fk.column] == F.col("_did"), "left_semi"
            ).select(F.col("id").alias("_did"))
            n_affected = counts[child_name]
            if n_affected == 0:
                continue
            if fk.constraint == "restrictive":
                raise ConstraintViolation(
                    f"cannot delete from {self.name}: {n_affected} row(s) in "
                    f"{child_name} reference it (Restrictive)"
                )
            if fk.constraint == "cascading":
                child._delete_ids(
                    affected_ids, rv=child_rv, known_count=n_affected
                )
            elif fk.constraint in ("setnull", "setdefault"):
                fill = (
                    F.lit(None) if fk.constraint == "setnull" else F.lit(fk.default)
                )
                new_cdf = cdf.join(
                    doomed_ids, cdf[fk.column] == F.col("_did"), "left"
                ).select(
                    *[
                        F.when(F.col("_did").isNotNull(), fill)
                        .otherwise(F.col(c))
                        .alias(c)
                        if c == fk.column
                        else F.col(c)
                        for c in cdf.columns
                    ]
                )
                child._write(new_cdf, base_version=child_rv)

        current = self._dirs_df(self._base_dirs())
        self._write(
            current.join(doomed_ids, current["id"] == F.col("_did"), "left_anti"),
            base_version=rv,
        )
        if children:
            doomed_ids.unpersist()
        return n

    # -- updates (TableCollection.cs:1246-1328) ---------------------------

    def update_many(self, transforms: dict[str, Column | str], predicate: Column | str) -> int:
        """UpdateMany(transform, predicate): apply column expressions to
        matching rows, e.g. {'name': F.upper(F.col('name'))}."""
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        rv = self._read_version()
        current = self._dirs_df(self._base_dirs())
        unknown = set(transforms) - set(current.columns)
        if unknown:
            raise KeyError(
                f"{self.name}: update targets {sorted(unknown)} are not "
                f"columns (nested-path SET is not supported)"
            )
        cols = []
        for c in current.columns:
            if c in transforms:
                t = transforms[c]
                t = F.expr(t) if isinstance(t, str) else t
                cols.append(F.when(pred, t).otherwise(F.col(c)).alias(c))
            else:
                cols.append(F.col(c))
        # the affected-row count rides the write job as an observed metric
        # — no separate count() pass over the table
        from pyspark.sql import Observation

        obs = Observation()
        observed = current.observe(
            obs, F.sum(F.when(pred, 1).otherwise(0)).alias("n")
        ).select(*cols)
        self._write(observed, base_version=rv)
        return int(obs.get["n"] or 0)

    def upsert(self, rows: list[dict] | DataFrame) -> int:
        """Insert-or-replace by id (TableCollection.cs:1195-1240). At
        cluster scale this is a Delta MERGE; here: anti-join + union."""
        from_list = not isinstance(rows, DataFrame)
        batch = (
            _local_batch_df(self.db.spark, self._with_ids(rows), self.schema)
            if from_list
            else rows
        )
        observable = not from_list and _same_session(batch, self.db.spark)
        if from_list:
            n = len(rows)
        else:
            batch = batch.persist()
            if not observable:
                # cross-session batch (e.g. a foreachBatch micro-batch
                # frame — see _same_session): census as its own action
                row = batch.agg(
                    F.count(F.lit(1)).alias("n"), F.max("id").alias("m")
                ).collect()[0]
                n = row["n"]
        rv = self._read_version()
        current = self._dirs_df(self._base_dirs())
        keep = current.join(batch.select("id"), "id", "left_anti")
        if not observable:
            self._write(keep.unionByName(batch), base_version=rv)
            if not from_list:
                batch.unpersist()
                if row["m"] is not None:
                    self._advance_seq(int(row["m"]))
            return n
        # same-session DataFrame upsert: the batch census (count + max
        # id) rides the rewrite job as an observed metric on the UNION
        # branch only — one Spark job instead of two (r13). persist()
        # still guards the double evaluation (anti-join probe side +
        # union side).
        from pyspark.sql import Observation

        obs = Observation()
        self._write(
            keep.unionByName(
                batch.observe(
                    obs, F.count(F.lit(1)).alias("n"), F.max("id").alias("m")
                )
            ),
            base_version=rv,
        )
        row = obs.get
        batch.unpersist()
        if row["m"] is not None:
            self._advance_seq(int(row["m"]))
        return row["n"]

    # -- reads (TableCollection.cs:666-891) --------------------------------

    def find(self, predicate: Column | str) -> DataFrame:
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self.df.filter(pred)

    def find_one(self, predicate: Column | str):
        rows = self.find(predicate).limit(1).collect()
        return rows[0] if rows else None

    def find_all(self, take: int | None = None, order: str = "first") -> DataFrame:
        df = self.df
        if take is None:
            return df
        if order == "last":  # FindAll(take, TakeOrder.Last) :849-891
            return df.orderBy(F.col("id").desc()).limit(take)
        return df.orderBy(F.col("id").asc()).limit(take)

    def count(self, predicate: Column | str | None = None) -> int:
        df = self.df
        if predicate is not None:
            pred = F.expr(predicate) if isinstance(predicate, str) else predicate
            df = df.filter(pred)
        return df.count()

    def exists(self, predicate: Column | str) -> bool:
        return bool(self.find(predicate).limit(1).count())

    def min(self, column: str = "id"):
        return self.df.agg(F.min(column)).collect()[0][0]

    def max(self, column: str = "id"):
        return self.df.agg(F.max(column)).collect()[0][0]

    def query(self) -> "QueryBuilder":
        return QueryBuilder(self)


class QueryBuilder:
    """Fluent builder (LiteQueryable — LiteDB/Client/Database/
    LiteQueryable.cs:15-227): where/order_by/select/offset/limit chaining
    compiled lazily to one DataFrame plan. Multi-key order_by is a
    superset (the reference allows a single key)."""

    def __init__(self, table: Table):
        self._df = table.df

    def where(self, predicate: Column | str) -> "QueryBuilder":
        pred = F.expr(predicate) if isinstance(predicate, str) else predicate
        self._df = self._df.filter(pred)
        return self

    def order_by(self, *cols, ascending: bool = True) -> "QueryBuilder":
        ordered = [
            (F.col(c) if isinstance(c, str) else c) for c in cols
        ]
        self._df = self._df.orderBy(
            *[c.asc() if ascending else c.desc() for c in ordered]
        )
        return self

    def select(self, *cols) -> "QueryBuilder":
        self._df = self._df.select(*cols)
        return self

    def offset(self, n: int) -> "QueryBuilder":
        self._df = self._df.offset(n)
        return self

    def limit(self, n: int) -> "QueryBuilder":
        self._df = self._df.limit(n)
        return self

    def to_df(self) -> DataFrame:
        return self._df

    def to_list(self) -> list:
        return self._df.collect()

    def first(self):
        rows = self._df.limit(1).collect()
        return rows[0] if rows else None

    def count(self) -> int:
        return self._df.count()
