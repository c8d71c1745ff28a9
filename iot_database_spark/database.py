"""IotDatabase — the catalog layer: a warehouse directory of Parquet
tables plus declarative constraint metadata.

Reference: IotDatabase.InitializeDirectories (Iot.Database/IotDatabase.cs:
149-161) creates per-concern subdirectories (Tables/, TimeSeries/, Files/,
BlockChain/); tables are single-file LiteDB stores. Here the warehouse is
a directory of Parquet tables (at scale: Delta tables / object store
prefixes) registered in the SparkSession, and constraint metadata
(TableInfo — Iot.Database/Table/TableInfo.cs:21-67) lives in a JSON
sidecar, since Spark's catalog has no FK concept.

Catalog introspection mirrors the reference's $cols/$database virtual
collections (LiteDB/Engine/SystemCollections/Register.cs:16-31) via
`describe()` / `list_tables()`.

Deliberate narrowing — no password/encryption parameter: the reference
AES-encrypts its single database file (LiteDB/Engine/Disk/Streams/
AesStream.cs, password plumbed at IotDatabase.cs:25-27). A distributed
lake engine delegates encryption to the storage layer (parquet modular
encryption, object-store/disk SSE), which encrypts per-file without
breaking splittability or predicate pushdown; a page-level cipher here
would do both. See README "Deliberate narrowings".
"""

from __future__ import annotations

import glob
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from iot_database_spark.tables import ForeignKey, Table


class IotDatabase:
    def __init__(
        self,
        name: str,
        path: str,
        spark: SparkSession | None = None,
        collation: str = "binary",
    ):
        """`collation` pins how the SQL dialect compares this database's
        string fields (reference: Collation.cs — a culture + IgnoreCase
        pair fixed per datafile and applied in every BsonExpression
        compare, BsonExpressionOperators.cs:115+):

        - "binary" (default): Spark's native UTF8_BINARY ordering.
          DIVERGENCE: the reference's default collation is
          culture-aware + IgnoreCase, so `WHERE name = 'ALICE'` matches
          'Alice' there but not here.
        - "ci": case-insensitive — SQL-dialect views expose top-level
          string columns with UTF8_LCASE collation, so comparisons,
          GROUP BY, ORDER BY and DISTINCT over them ignore case
          (ICU lowercase ≈ the reference's IgnoreCase without the
          per-culture tailorings; nested struct/array strings keep
          binary collation — fixed-schema narrowing).
        """
        from iot_database_spark.session import get_spark

        if collation not in ("binary", "ci"):
            raise ValueError("collation must be 'binary' or 'ci'")
        self.collation = collation
        self.name = name
        self.spark = spark or get_spark(f"iotdb_{name}")
        self.root = os.path.join(path, name)
        self.tables_dir = os.path.join(self.root, "Tables")
        os.makedirs(self.tables_dir, exist_ok=True)
        self._meta_path = os.path.join(self.root, "_meta.json")
        self._meta: dict = {"tables": {}}
        if os.path.exists(self._meta_path):
            with open(self._meta_path) as f:
                self._meta = json.load(f)
        self._tables: dict[str, Table] = {}
        self._txn: "_Transaction | None" = None

    # -- transactions (BEGIN/COMMIT/ROLLBACK — SqlParser.cs:24-49; WAL
    # commit-point semantics, LiteDB/Engine/Services/TransactionService.cs) --

    def transaction(self) -> "_Transaction":
        """Transaction scope over the commit-log storage:

            with db.transaction():
                t1.insert(...); t2.delete(...)

        Writes stage their data dirs immediately but defer the manifest
        publish; leaving the scope publishes every table's manifest
        (commit) or removes the staged dirs (rollback on exception or
        explicit `.rollback()`). Reads inside the scope see the
        transaction-start snapshot (snapshot isolation — a writer's own
        uncommitted rows are not visible to its reads, matching Delta's
        optimistic-transaction model). Per-table publish is atomic
        (os.replace); cross-table publishes are sequenced at commit."""
        if self._txn is not None:
            raise RuntimeError("transaction already active (no nesting)")
        return _Transaction(self)

    # -- table management ---------------------------------------------------

    def tables(
        self,
        name: str,
        schema: str | type | None = None,
        foreign_keys: list[ForeignKey] | None = None,
        unique: list[str] | None = None,
    ) -> Table:
        """Create or open a table (reference: IotDatabase.Tables<T>()).

        `schema` is a DDL string ('id bigint, name string, ...') or a
        dataclass type (mapped via mapper.dataclass_to_ddl — the
        reference's BsonMapper POCO conventions); required on first
        creation. An 'id' column must exist (the reference enforces Id of
        int/long/Guid — Base/BaseDatabase.cs:172-187).
        """
        if isinstance(schema, type):
            from iot_database_spark.mapper import dataclass_to_ddl

            schema = dataclass_to_ddl(schema)
        if name in self._tables:
            return self._tables[name]
        meta = self._meta["tables"].get(name)
        if meta is None:
            if schema is None:
                raise ValueError(f"table {name!r} does not exist; pass a schema")
            if not any(
                f.strip().lower().startswith("id ") for f in schema.split(",")
            ):
                raise ValueError(
                    "every table needs an 'id' column (int/long/string) — "
                    "reference Base/BaseDatabase.cs:172-187"
                )
            meta = {
                "schema": schema,
                "foreign_keys": [fk.to_dict() for fk in (foreign_keys or [])],
                "unique": unique or [],
                "seq": 0,  # auto-id sequence — id assignment without a Spark job
            }
            self._meta["tables"][name] = meta
            self._save_meta()
        t = Table(
            db=self,
            name=name,
            schema=meta["schema"],
            foreign_keys=[ForeignKey.from_dict(d) for d in meta["foreign_keys"]],
            unique=list(meta["unique"]),
            path=os.path.join(self.tables_dir, name),
        )
        self._tables[name] = t
        return t

    def table(self, name: str) -> Table:
        if name not in self._tables and name not in self._meta["tables"]:
            raise KeyError(f"unknown table: {name}")
        return self.tables(name)

    def children_of(self, parent: str) -> list[tuple[str, ForeignKey]]:
        """All (child_table, fk) pairs referencing `parent`."""
        out = []
        for tname, meta in self._meta["tables"].items():
            for d in meta["foreign_keys"]:
                if d["parent"] == parent:
                    out.append((tname, ForeignKey.from_dict(d)))
        return out

    def infer_fk(self, child: str, parent: str) -> tuple[str, str] | None:
        """FK inference for NL joins: (child_fk_column, parent_id_column)
        (QueryEngine2.cs:248-259 — convention <Parent>Id, here parent_id)."""
        meta = self._meta["tables"].get(child)
        if meta:
            for d in meta["foreign_keys"]:
                if d["parent"] == parent:
                    return (d["column"], "id")
        # naming convention fallback: <parent>_id / <parent>Id
        child_df = self.table(child).df
        for cand in (f"{parent.lower()}_id", f"{parent}Id", f"{parent.lower()}id"):
            for c in child_df.columns:
                if c.lower() == cand.lower():
                    return (c, "id")
        return None

    # -- pragmas (EnginePragmas — LiteDB/Engine/EnginePragmas.cs:70-160;
    # SQL surface `PRAGMA name` / `PRAGMA name = value` — SqlParser.cs) ----

    def apply_collation(self, df: DataFrame) -> DataFrame:
        """Collate top-level string columns per the database's collation
        policy (no-op for "binary"). The SQL dialect routes every table
        view through this, so string compares in WHERE/GROUP BY/ORDER BY
        follow the database's pinned collation — the engine analogue of
        the reference resolving each compare through its datafile
        Collation (Collation.cs; BsonExpressionOperators.cs:115+)."""
        if self.collation != "ci":
            return df
        from pyspark.sql import functions as F
        from pyspark.sql.types import StringType

        return df.select(
            *[
                F.collate(F.col(f.name), "UTF8_LCASE").alias(f.name)
                if isinstance(f.dataType, StringType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    _PRAGMA_DEFAULTS: dict = {
        "USER_VERSION": 0,
        "COLLATION": "binary/Ordinal",  # read-only; reflects the ctor knob
        "TIMEOUT": 60,
        "LIMIT_SIZE": 9223372036854775807,
        "UTC_DATE": True,  # this engine always stores/compares UTC
        "CHECKPOINT": 1000,
    }

    def pragma(self, name: str, value=None):
        """Read (value is None) or write a database pragma. Mirrors the
        reference's validation: COLLATION is read-only, TIMEOUT must be
        positive, LIMIT_SIZE has a floor, unknown names error."""
        key = name.upper()
        pragmas = self._meta.setdefault("pragmas", {})
        if key not in self._PRAGMA_DEFAULTS:
            raise KeyError(f"unknown pragma: {name}")
        if value is None:
            if key == "COLLATION":
                return (
                    "en-US/IgnoreCase" if self.collation == "ci" else "binary/Ordinal"
                )
            return pragmas.get(key, self._PRAGMA_DEFAULTS[key])
        if key == "COLLATION":
            raise ValueError("Pragma COLLATION is read only")
        if key == "TIMEOUT" and int(value) <= 0:
            raise ValueError("Pragma TIMEOUT must be greater than zero")
        if key == "LIMIT_SIZE" and int(value) < 32768:
            raise ValueError("Pragma LIMIT_SIZE must be at least 32768 bytes")
        if key == "CHECKPOINT" and int(value) < 0:
            raise ValueError("Pragma CHECKPOINT must be non-negative")
        if key == "UTC_DATE":
            value = bool(value)
        else:
            value = int(value)
        pragmas[key] = value
        self._save_meta()
        return value

    # -- system collections ($database/$cols/$indexes/$sequences/
    # $transactions/$snapshots/$open_cursors/$dump —
    # LiteDB/Engine/Engine/Register.cs:16-31 + Sys*.cs) ---------------------

    def system_collection(self, name: str) -> DataFrame:
        """Virtual-table introspection, one DataFrame per `$name`. Shapes
        follow the reference's Sys* documents re-expressed for this
        engine's storage model (manifest commit log instead of pages)."""
        import datetime as _dt

        key = name.lower().lstrip("$")
        if key == "database":
            rows = [
                (
                    self.name,
                    self.root,
                    len(self._meta["tables"]),
                    json.dumps(
                        {
                            k: self.pragma(k)
                            for k in self._PRAGMA_DEFAULTS
                        }
                    ),
                )
            ]
            return self.spark.createDataFrame(
                rows, "name string, path string, n_tables int, pragmas string"
            )
        if key == "cols":
            rows = [
                (t, f.name, f.dataType.simpleString(), f.nullable)
                for t in self.list_tables()
                for f in self.table(t).df.schema.fields
            ]
            return self.spark.createDataFrame(
                rows, "table string, column string, type string, nullable boolean"
            )
        if key == "units":
            # the generated IotUnit catalog (Units.cs), one row per
            # published conversion rule; units without rules get a
            # single row with nulls
            from iot_database_spark.functions.units import ALL_UNITS

            rows = [
                (u.group, u.name, u.symbol, src, rule)
                for u in ALL_UNITS
                for src, rule in (u.conversions or ((None, None),))
            ]
            return self.spark.createDataFrame(
                rows,
                "group string, name string, symbol string, "
                "converts_from string, rule string",
            )
        if key == "indexes":
            rows = [
                (t, e["name"], e["column"], bool(e["unique"]))
                for t in self.list_tables()
                for e in self.table(t).indexes()
            ]
            return self.spark.createDataFrame(
                rows, "collection string, name string, expression string, unique boolean"
            )
        if key == "sequences":
            # SysSequences.cs: (collection, value) — the next-id source:
            # the persisted sequence counter (no Spark job; legacy tables
            # fall back to a one-time max(id) read inside _seq_base)
            rows = [
                (t, self.table(t)._seq_base()) for t in self.list_tables()
            ]
            return self.spark.createDataFrame(rows, "collection string, value bigint")
        if key == "transactions":
            # SysTransactions.cs:13-31 — the open transaction monitor.
            rows = []
            if self._txn is not None:
                rows.append(
                    (
                        self._txn.txn_id,
                        _dt.datetime.fromtimestamp(
                            self._txn.start_time, _dt.timezone.utc
                        ).replace(tzinfo=None),
                        "Write",
                        len(self._txn.pending),
                        len(self._txn.staged),
                    )
                )
            return self.spark.createDataFrame(
                rows,
                "transactionID bigint, startTime timestamp, mode string, "
                "n_tables int, n_staged_dirs int",
            )
        if key == "snapshots":
            # SysSnapshots.cs:12-28 — one row per (txn, collection).
            rows = []
            if self._txn is not None:
                for tname, dirs in self._txn.pending.items():
                    t = self.table(tname)
                    rows.append(
                        (
                            self._txn.txn_id,
                            tname,
                            "Write",
                            int(t._current_version()),
                            len(dirs),
                        )
                    )
            return self.spark.createDataFrame(
                rows,
                "transactionID bigint, collection string, mode string, "
                "readVersion bigint, n_pending_dirs int",
            )
        if key == "open_cursors":
            # Spark has no server-side cursors; always empty, schema kept
            # for SysOpenCursors.cs parity.
            return self.spark.createDataFrame(
                [],
                "transactionID bigint, collection string, mode string, "
                "elapsedMS bigint, documentsCount bigint",
            )
        if key == "page_list":
            # SysPageList.cs:13-50 — the physical page walk. Parquet has
            # no pager; the analog granularity is one row per data FILE in
            # the CURRENT version (the unit Spark schedules and prunes).
            rows = []
            for tname in self.list_tables():
                t = self.table(tname)
                v = t._current_version()
                if v < 0:
                    continue
                for d in t._manifest_dirs(v):
                    for fpath in sorted(
                        glob.glob(os.path.join(t.path, d, "*.parquet"))
                    ):
                        rows.append(
                            (
                                tname,
                                v,
                                d,
                                os.path.basename(fpath),
                                os.path.getsize(fpath),
                            )
                        )
            return self.spark.createDataFrame(
                rows,
                "collection string, version bigint, dir string, "
                "file string, bytes bigint",
            )
        if key == "dump":
            # SysDump.cs analog over the manifest log: the physical layout
            # (every committed version's data dirs + file/byte counts).
            import glob as _glob

            rows = []
            for tname in self.list_tables():
                t = self.table(tname)
                for h in t.history():
                    for d in t._manifest_dirs(h["version"]):
                        files = _glob.glob(os.path.join(t.path, d, "*.parquet"))
                        rows.append(
                            (
                                tname,
                                h["version"],
                                d,
                                len(files),
                                sum(os.path.getsize(f) for f in files),
                            )
                        )
            return self.spark.createDataFrame(
                rows,
                "collection string, version bigint, dir string, "
                "n_files int, bytes bigint",
            )
        raise KeyError(f"unknown system collection: ${name}")

    # -- catalog introspection ($cols / $database analogs) -------------------

    def list_tables(self) -> list[str]:
        return sorted(self._meta["tables"])

    def describe(self, name: str) -> DataFrame:
        """$cols-style schema listing for one table."""
        t = self.table(name)
        rows = [
            (name, f.name, f.dataType.simpleString(), f.nullable)
            for f in t.df.schema.fields
        ]
        return self.spark.createDataFrame(
            rows, "table string, column string, type string, nullable boolean"
        )

    def _save_meta(self) -> None:
        """Dump to a temp file beside `_meta.json`, then os.replace it in:
        a crash mid-dump leaves the previous meta whole (an in-place
        truncate-and-write would leave a half-written file that no
        later open can parse)."""
        tmp = f"{self._meta_path}.tmp-{uuid.uuid4().hex}"
        try:
            with open(tmp, "w") as f:
                json.dump(self._meta, f, indent=2)
            os.replace(tmp, self._meta_path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    # -- DDL (SqlParser.cs DROP/RENAME; CHECKPOINT/REBUILD ~ compaction) ----

    def drop_table(self, name: str) -> None:
        """DROP TABLE: remove data + metadata (cascade NOT applied — the
        reference's DropCollection drops in place; FK children keep rows)."""
        import shutil

        t = self.table(name)
        shutil.rmtree(t.path, ignore_errors=True)
        self._meta["tables"].pop(name, None)
        self._tables.pop(name, None)
        self._save_meta()

    def rename_table(self, name: str, new_name: str) -> None:
        """RENAME COLLECTION equivalent. Foreign keys that name the table
        follow it, so their constraints keep holding under the new name."""
        import os as _os

        if new_name in self._meta["tables"]:
            raise ValueError(f"table {new_name!r} already exists")
        t = self.table(name)
        new_path = _os.path.join(self.tables_dir, new_name)
        if _os.path.exists(t.path):
            _os.rename(t.path, new_path)
        self._meta["tables"][new_name] = self._meta["tables"].pop(name)
        self._tables.pop(name, None)
        for child, meta in self._meta["tables"].items():
            for d in meta["foreign_keys"]:
                if d["parent"] == name:
                    d["parent"] = new_name
                    self._tables.pop(child, None)  # cached FKs name the old parent
        self._save_meta()

    def compact_table(self, name: str, target_files: int = 1) -> None:
        """CHECKPOINT/REBUILD analog: rewrite a table into fewer files
        (Delta OPTIMIZE at cluster scale). Reclaims the small-file +
        old-version overhead of incremental appends."""
        t = self.table(name)
        rv = t._read_version()
        t._write(t._dirs_df(t._base_dirs()).coalesce(target_files), base_version=rv)
        t.vacuum(keep_last=1)  # raises inside a transaction (staged dirs)


class _Transaction:
    """Deferred-publish buffer: table -> (pending manifest dirs, staged
    dirs to GC on rollback). Created via IotDatabase.transaction()."""

    _NEXT_ID = 1

    def __init__(self, db: IotDatabase):
        import time

        self.db = db
        self.pending: dict[str, list[str]] = {}
        self.staged: list[tuple[Table, str]] = []
        self._done = False
        self.txn_id = _Transaction._NEXT_ID
        _Transaction._NEXT_ID += 1
        self.start_time = time.time()
        self._commit_hooks: list = []
        self._rollback_hooks: list = []

    def on_commit(self, fn) -> None:
        """Defer a metadata/side-effect mutation until commit (e.g.
        ensure_index's persisted index entry)."""
        self._commit_hooks.append(fn)

    def on_rollback(self, fn) -> None:
        """Register an undo for in-memory state changed inside the txn."""
        self._rollback_hooks.append(fn)

    # called by Table._commit while this txn is active
    def record(self, table: Table, dirs: list[str], staged: str) -> None:
        self.pending[table.name] = dirs
        self.staged.append((table, staged))

    def base_dirs(self, table: Table) -> list[str] | None:
        """The dirs an append should chain on: this txn's pending state
        for the table, if any (else the committed manifest)."""
        return self.pending.get(table.name)

    def commit(self) -> None:
        """Two-phase publish: write every table's tmp manifest first (any
        failure there rolls the whole transaction back — nothing became
        visible), then flip them in with conflict-checked links
        (Table._flip). A concurrent writer advancing a table's version
        during the transaction surfaces as CommitConflict: on the FIRST
        table nothing has flipped, so the transaction rolls back whole;
        mid-flip it is reported as a partial commit with the list of
        tables that did/didn't publish instead of silently clobbering
        the other writer's manifest or committing a prefix."""
        from iot_database_spark.tables import CommitConflict

        prepared: list[tuple[str, str, str]] = []  # (table, tmp, final)
        try:
            for name, dirs in self.pending.items():
                tmp, final = self.db.table(name)._prepare_publish(dirs)
                prepared.append((name, tmp, final))
        except Exception:
            for _, tmp, _f in prepared:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
            self.rollback()
            raise
        committed: list[str] = []
        for name, tmp, final in prepared:
            try:
                Table._flip(tmp, final)
                committed.append(name)
            except (OSError, CommitConflict) as exc:
                if not committed:
                    # nothing visible yet: clean abort, txn state intact
                    for _n, t2, _f2 in prepared:
                        try:
                            os.remove(t2)
                        except OSError:
                            pass
                    self.rollback()
                    raise CommitConflict(
                        f"transaction commit lost the manifest race on "
                        f"{name!r}; nothing was published"
                    ) from exc
                self._done = True
                self.db._txn = None
                remaining = [n for n, _, _ in prepared if n not in committed]
                raise RuntimeError(
                    f"partial transaction commit: committed={committed} "
                    f"failed/unpublished={remaining}"
                ) from exc
        self._done = True
        self.db._txn = None
        for fn in self._commit_hooks:
            fn()

    def rollback(self) -> None:
        import shutil

        self._done = True
        self.db._txn = None
        for table, sub in self.staged:
            shutil.rmtree(os.path.join(table.path, sub), ignore_errors=True)
        self.pending.clear()
        for fn in self._rollback_hooks:
            fn()

    def __enter__(self) -> "_Transaction":
        if self._done:
            raise RuntimeError("transaction already finished; create a new one")
        if self.db._txn is not None and self.db._txn is not self:
            raise RuntimeError("transaction already active (no nesting)")
        self.db._txn = self
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if self._done:
            return False
        if exc_type is None:
            self.commit()
        else:
            self.rollback()
        return False
