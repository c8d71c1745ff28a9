"""The reference's SQL dialect (LiteDB SQL) translated to Spark SQL.

Reference grammar (LiteDB/Client/SqlParser/Commands/Select.cs:12-25):

    [EXPLAIN] SELECT <expr> [INTO col]
    [FROM col] [INCLUDE path [, path]*]
    [WHERE <expr>] [GROUP BY <expr>] [HAVING <expr>]
    [ORDER BY <expr> [ASC|DESC]] [LIMIT n] [OFFSET n] [FOR UPDATE]

`FOR UPDATE` (a page write-lock request in the reference) is accepted
and ignored: this engine is snapshot-isolated MVCC over a versioned
commit log, so readers never block writers and the clause is a no-op.

with BsonExpression path syntax (Parser/BsonExpressionOperators.cs):
    $.field            document member          -> field
    $.a.b.c            nested path              -> a.b.c
    $.arr[3]           array index (0-based)    -> arr[3]  (Spark: element_at i+1)
    $.arr[*]           all items                -> explode-ready arr
    $.arr[@.x > 1]     filter inside path       -> filter(arr, _it -> _it.x > 1)
    @param             named parameter          -> literal substitution

The translation is textual (the dialect is expression-compatible with
Spark SQL once paths are rewritten — the function names LOWER/UPPER/
TRIM/YEAR/COALESCE/... exist in both, and the IotValue accessors are
registered as SQL UDFs by functions/sql_functions.py). SELECT-without-
FROM evaluates a bare expression (Select.cs:44-53).
"""

from __future__ import annotations

import re
from datetime import date, datetime

from pyspark.sql import DataFrame, SparkSession

# $.arr[@.x > 1]  ->  filter(arr, _it -> _it.x > 1)
_PATH_FILTER = re.compile(
    r"\$\.(\w+(?:\.\w+)*)\[\s*@\.(\w+)\s*(=|!=|<>|>=|<=|>|<)\s*([^\]]+?)\s*\]"
)
# $.arr[*]  ->  arr
_PATH_ALL = re.compile(r"\$\.(\w+(?:\.\w+)*)\[\*\]")
# $.arr[3]  ->  element_at(arr, 4)   (reference indexes 0-based)
_PATH_INDEX = re.compile(r"\$\.(\w+(?:\.\w+)*)\[(\d+)\]")
# $.a.b  ->  a.b     (and bare $ -> struct(*))
_PATH_MEMBER = re.compile(r"\$\.(\w+(?:\.\w+)*)")
_PARAM = re.compile(r"@(\w+)")

# dialect names that differ from Spark SQL
_FUNC_REWRITES = {
    r"\bIIF\s*\(": "IF(",
    r"\bLEN\s*\(": "LENGTH(",
}


def _quote(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, date):
        return f"DATE '{v.isoformat()}'"
    escaped = str(v).replace("'", "''")
    return f"'{escaped}'"


def _mask_literals(sql: str) -> tuple[str, list[str]]:
    """Replace quoted string literals with \\x00<i>\\x00 placeholders so
    the textual rewrite passes (@param substitution, $.path/function
    rewrites) can never fire inside literal data — 'mail@host.com' is a
    value, not a missing parameter, and a literal containing '$.x' must
    survive verbatim. SQL doubles quotes to escape them ('don''t'), which
    this scan handles by treating '' as two adjacent literals — they
    restore to the identical text."""
    out: list[str] = []
    lits: list[str] = []
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in ("'", '"'):
            j = i + 1
            while j < n and sql[j] != ch:
                j += 1
            lits.append(sql[i : min(j + 1, n)])
            out.append(f"\x00{len(lits) - 1}\x00")
            i = j + 1
        else:
            out.append(ch)
            i += 1
    return "".join(out), lits


_PLACEHOLDER = re.compile("\x00(\\d+)\x00")


def _unmask(masked: str, lits: list[str]) -> str:
    return _PLACEHOLDER.sub(lambda m: lits[int(m.group(1))], masked)


def translate(sql: str, params: dict | None = None) -> str:
    """Rewrite a LiteDB-dialect SQL string into Spark SQL. String literals
    are masked for the duration of every regex pass (see _mask_literals)."""
    out, lits = _mask_literals(sql)

    out = _PATH_FILTER.sub(
        lambda m: (
            f"filter({m.group(1)}, _it -> _it.{m.group(2)} "
            f"{'<>' if m.group(3) == '!=' else m.group(3)} {m.group(4)})"
        ),
        out,
    )
    out = _PATH_ALL.sub(lambda m: m.group(1), out)
    out = _PATH_INDEX.sub(
        lambda m: f"element_at({m.group(1)}, {int(m.group(2)) + 1})", out
    )
    out = _PATH_MEMBER.sub(lambda m: m.group(1), out)

    for pat, repl in _FUNC_REWRITES.items():
        out = re.sub(pat, repl, out, flags=re.IGNORECASE)

    if params is not None:
        def sub_param(m: re.Match) -> str:
            name = m.group(1)
            if name not in params:
                raise KeyError(f"missing SQL parameter @{name}")
            return _quote(params[name])

        out = _PARAM.sub(sub_param, out)
    return _unmask(out, lits)


# $file_csv('path') / $file_json('path') system collections
# (LiteDB/Engine/SystemCollections/SysFileCsv.cs:19-170, SysFileJson.cs):
# usable as a FROM source or an INTO sink. Matched against the
# literal-masked SQL so a string VALUE containing "$file_csv(...)" is
# never mis-routed. Spark-first note: the sink writes a distributed
# directory of part files (splittable, parallel), not the reference's
# single local file — the correct shape for a 100 TB export.
_FILE_REF = re.compile(r"\$file_(csv|json)\s*\(\s*\x00(\d+)\x00\s*\)", re.I)
_FILE_SINK = re.compile(
    r"\bINTO\s+\$file_(csv|json)\s*\(\s*\x00(\d+)\x00\s*\)\s*", re.I
)


def _lit_text(lits: list[str], idx: str) -> str:
    """Unquote a masked literal: '…' -> … (doubled quotes unescaped)."""
    raw = lits[int(idx)]
    q, body = raw[0], raw[1:-1]
    return body.replace(q + q, q)


# FROM <collection> INCLUDE <path> [, <path>]* (Select.cs:12-25 grammar;
# executor BasePipe.cs:46-133). The reference hydrates DbRef fields in
# place: parent fields copied into the ref sub-document, $ref dropped,
# $id kept, $missing=true when the parent row is absent. Our relational
# analogue: each path names a parent table related by FK; the FROM rows
# gain a struct column <path> = {id: <fk value>, <parent non-id fields>,
# missing: bool}. Schema-typed instead of $-keyed — documented
# divergence (fixed schemas throughout this engine).
#
# Matched as ONE anchored pattern — FROM name + INCLUDE clause in their
# grammar positions — so (a) a scalar-subquery FROM earlier in the query
# can never be the rewrite target, and (b) a projected path named
# `$.include` (a field access, not the keyword) is never mis-parsed as
# an INCLUDE clause (r4 advice).
_FROM_INCLUDE = re.compile(
    r"\bFROM\s+(\w+)\s+INCLUDE\s+(.*?)(?=\s+WHERE\b|\s+GROUP\s+BY\b|\s+HAVING\b"
    r"|\s+ORDER\s+BY\b|\s+LIMIT\b|\s+OFFSET\b|\s+FOR\s+UPDATE\b|\s*$)",
    re.IGNORECASE | re.DOTALL,
)

# Trailing FOR UPDATE (Select.cs:12-25 ends the grammar with an optional
# `FOR UPDATE` that requests a write lock on the scanned pages). This
# engine is snapshot-isolated MVCC over a versioned commit log — readers
# never block writers and there is nothing to lock — so the clause is
# accepted for grammar parity and ignored.
_FOR_UPDATE = re.compile(r"\s+FOR\s+UPDATE\s*(;?\s*)$", re.IGNORECASE)


def _infer_fk_conventional(child_df, parent: str) -> tuple[str, str] | None:
    for cand in (f"{parent.lower()}_id", f"{parent}Id", f"{parent.lower()}id"):
        for c in child_df.columns:
            if c.lower() == cand.lower():
                return (c, "id")
    return None


def _hydrate_includes(
    spark: SparkSession, table: str, paths: list[str], db
) -> DataFrame:
    """Left-join each included parent and pack it as a struct column
    named after the path (DbRef hydration, BasePipe.cs:46-133). Parent
    lookup is a plain equi-join: Catalyst broadcasts small dims and the
    join never reshuffles the child twice per include (each join keys on
    a different FK column; AQE picks the strategy at scale)."""
    from pyspark.sql import functions as F

    out = spark.table(table)
    for path in paths:
        parent = path[2:] if path.startswith("$.") else path
        if not re.fullmatch(r"\w+", parent):
            raise ValueError(f"invalid INCLUDE path: {path!r}")
        fk = db.infer_fk(table, parent) if db is not None else None
        if fk is None:
            fk = _infer_fk_conventional(out, parent)
        if fk is None:
            raise ValueError(
                f"INCLUDE {parent}: no FK relationship from {table}"
            )
        fkc, pidc = fk
        parent_df = db.table(parent).df if db is not None else spark.table(parent)
        pcols = [c for c in parent_df.columns if c != pidc]
        p = parent_df.select(
            F.col(pidc).alias("__pid"),
            *[F.col(c).alias(f"__p_{c}") for c in pcols],
        )
        joined = out.join(p, out[fkc] == p["__pid"], "left")
        out = joined.withColumn(
            parent,
            F.struct(
                F.col(fkc).alias("id"),
                *[F.col(f"__p_{c}").alias(c) for c in pcols],
                F.col("__pid").isNull().alias("missing"),
            ),
        ).drop("__pid", *[f"__p_{c}" for c in pcols])
    return out


# SELECT <expr> INTO <target> [FROM ...]  (Select.cs:26-160; executed by
# QueryExecutor.ExecuteQueryInto :149-180).
_INTO_AT = re.compile(r"\bINTO\s+(\w+)\s*", re.IGNORECASE)


def _split_into(sql: str) -> tuple[str, str] | None:
    """Find a top-level INTO clause (outside string literals) and return
    (query_without_into, target). A regex alone would split at an INTO
    inside a quoted literal."""
    quote = None
    for i, ch in enumerate(sql):
        if quote:
            if ch == quote and sql[i - 1] != "\\":
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "Ii" and re.match(r"(?i)^into\s", sql[i:]) and (
            i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")
        ):
            m = _INTO_AT.match(sql, i)
            if m:
                return sql[:i] + " " + sql[m.end():], m.group(1)
    return None


def lite_sql(
    spark: SparkSession,
    sql: str,
    params: dict | None = None,
    db=None,
) -> DataFrame:
    """Execute a LiteDB-dialect SQL string (db.Execute equivalent —
    LiteDatabase.Execute, LiteDB/Client/Database/LiteDatabase.cs:229-257).
    Tables must be registered views (IotDatabase registers its tables;
    load_tables registers the testdata).

    SELECT ... INTO <target> pipes the result into a sink
    (QueryExecutor.ExecuteQueryInto :149-180): an `IotDatabase` table
    when `db` is given (created on first write, appended otherwise —
    the engine's insert-into-collection behavior), else a temp view
    named <target>. `$file_csv('path')` / `$file_json('path')` route to
    the file system collections as both source and sink. Returns the
    piped rows either way."""
    masked, lits = _mask_literals(sql)
    masked = _FOR_UPDATE.sub(r" \1", masked)  # accepted, MVCC no-op
    file_sink: tuple[str, str] | None = None
    ms = _FILE_SINK.search(masked)
    if ms:
        file_sink = (ms.group(1).lower(), _lit_text(lits, ms.group(2)))
        masked = masked[: ms.start()] + " " + masked[ms.end() :]
    mi = _FROM_INCLUDE.search(masked)
    if mi:
        table = mi.group(1)
        paths = [p.strip() for p in mi.group(2).split(",") if p.strip()]
        hydrated = _hydrate_includes(spark, table, paths, db)
        view = f"__inc_{table}_{abs(hash(tuple(paths))) % 10**9}"
        hydrated.createOrReplaceTempView(view)
        masked = masked[: mi.start()] + f"FROM {view}" + masked[mi.end() :]
    if _FILE_REF.search(masked):
        from iot_database_spark.sources.files import read_csv, read_json

        def to_view(m: re.Match) -> str:
            kind, path = m.group(1).lower(), _lit_text(lits, m.group(2))
            df = read_csv(spark, path) if kind == "csv" else read_json(spark, path)
            view = f"file_{kind}_{abs(hash(path)) % 10**9}"
            df.createOrReplaceTempView(view)
            return view

        masked = _FILE_REF.sub(to_view, masked)
    sql = _unmask(masked, lits)
    if file_sink is not None:
        from iot_database_spark.sources.files import write_csv, write_json

        out = spark.sql(translate(sql, params))
        kind, path = file_sink
        (write_csv if kind == "csv" else write_json)(out, path)
        return out
    found = _split_into(sql) if sql.lstrip().upper().startswith("SELECT") else None
    if found is None:
        return spark.sql(translate(sql, params))
    query, target = found
    out = spark.sql(translate(query, params))
    if db is not None:
        from pyspark.sql import functions as F

        piped = out
        if "id" not in piped.columns:
            # INTO targets get an auto-id (the engine's :autoid sequence;
            # unique-not-dense). Offset past the target's sequence:
            # monotonically_increasing_id restarts at 0 per query, so a
            # bare value would collide on append re-runs, and the max id
            # would hand a deleted max row's id out again.
            base = 0
            if target in db.list_tables():
                base = db.table(target)._seq_base()
            piped = piped.withColumn(
                "id", F.monotonically_increasing_id() + F.lit(int(base) + 1)
            )
        if target not in db.list_tables():
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in piped.schema.fields
            )
            db.tables(target, ddl)
        db.table(target).insert(piped)
    else:
        out.createOrReplaceTempView(target)
    return out


# ---------------------------------------------------------------------------
# Full command dispatch (SqlParser.Execute — SqlParser.cs:24-49): the
# non-SELECT commands route onto the table API. Grammar per the
# reference's command parsers (Commands/Insert.cs, Update.cs, Delete.cs,
# Drop.cs:13, Rename.cs:12):
#
#   INSERT INTO {collection} VALUES {doc0} [, {docN}]
#   UPDATE {collection} SET {k} = {expr} [, ...] [WHERE {expr}]
#   DELETE {collection} [WHERE {expr}]
#   DROP COLLECTION {collection}
#   RENAME COLLECTION {collection} TO {newName}
#   CHECKPOINT | REBUILD      (compaction analogs)
# ---------------------------------------------------------------------------

_INSERT_CMD = re.compile(r"^\s*INSERT\s+INTO\s+(\w+)\s+VALUES\s+(.*)$", re.I | re.S)
_UPDATE_CMD = re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$", re.I | re.S
)
_DELETE_CMD = re.compile(r"^\s*DELETE\s+(\w+)(?:\s+WHERE\s+(.*))?$", re.I | re.S)
_DROP_CMD = re.compile(r"^\s*DROP\s+(?:COLLECTION|TABLE)\s+(\w+)\s*$", re.I)
_ASOF_REF = re.compile(
    r"\bFROM\s+(\w+)\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+)", re.I
)
_ALTER_ADD_CMD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMN\s+(\w+)\s+(.+?)\s*$", re.I
)
_ALTER_DROP_CMD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMN\s+(\w+)\s*$", re.I
)
_RENAME_CMD = re.compile(
    r"^\s*RENAME\s+COLLECTION\s+(\w+)\s+TO\s+(\w+)\s*$", re.I
)
# CREATE [UNIQUE] INDEX {name} ON {collection} ({expr}) — Create.cs:12
_CREATE_INDEX_CMD = re.compile(
    r"^\s*CREATE\s+(UNIQUE\s+)?INDEX\s+(\w+)\s+ON\s+(\w+)\s*\(([^)]+)\)\s*$", re.I
)
# DROP INDEX {collection}.{indexNameOrColumn} — Drop.cs drops by name
_DROP_INDEX_CMD = re.compile(r"^\s*DROP\s+INDEX\s+(\w+)\.(\w+)\s*$", re.I)
# PRAGMA {name} | PRAGMA {name} = {value}  (SqlParser.cs:24-49 ->
# EnginePragmas.cs:70-160)
_PRAGMA_CMD = re.compile(r"^\s*PRAGMA\s+(\w+)(?:\s*=\s*(.+?))?\s*;?\s*$", re.I | re.S)
# $query('sql') sub-query system collection (SysQuery.cs:14-38) —
# matched against literal-masked SQL, the argument is a masked literal
_QUERY_REF = re.compile(r"\$query\s*\(\s*\x00(\d+)\x00\s*\)", re.I)
# $collection references in SELECTs (Register.cs:16-31); $file_* is
# routed separately by lite_sql
_SYS_REF = re.compile(r"\$(\w+)")


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on `sep` outside quotes/parens/braces/brackets."""
    parts, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(text):
        if quote:
            if ch == quote and text[i - 1] != "\\":
                quote = None
        elif ch in "'\"":
            quote = ch
        elif ch in "([{":
            depth += 1
        elif ch in ")]}":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(text[start:i])
            start = i + 1
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def execute(db, sql: str, params: dict | None = None):
    """db.Execute equivalent over the full command surface. SELECT (and
    EXPLAIN) return a DataFrame; DML returns the affected-row count; DDL
    returns None.

    Referenced-tables rule: a SELECT registers a temp view only for the
    database tables whose name appears as a word (case-insensitively) in
    the literal-masked statement, so a name inside a string value never
    counts. Each such view is (re)registered on every SELECT from the
    table's memoised `Table.df` under the collation policy, so a view is
    never stale, whether the table was written since the last SELECT or
    a caller replaced the temp view. A
    `$query('…')` sub-query registers the tables its own statement
    names when it runs."""
    import json as _json

    kw = sql.lstrip().split(None, 1)[0].upper() if sql.strip() else ""
    if kw in ("SELECT", "EXPLAIN"):
        # literal-masked, so a table name or '$indexes' inside a string
        # value stays data
        masked, lits = _mask_literals(sql)
        words = {w.lower() for w in re.findall(r"\w+", masked)}
        for t in db.list_tables():
            if t.lower() in words:
                # views carry the database's collation policy so string
                # compares in the dialect follow it (Collation.cs parity)
                db.apply_collation(db.table(t).df).createOrReplaceTempView(t)
        # $query('sql') sub-queries first (SysQuery.cs:14-38): execute the
        # inner dialect SQL recursively and expose it as a view
        def subquery(m: re.Match) -> str:
            inner = _lit_text(lits, m.group(1))
            # reject BEFORE executing — a command sub-query must not run
            # its side effects and then fail
            if not inner.lstrip().upper().startswith("SELECT"):
                raise ValueError("$query(sql) requires a SELECT sub-query")
            view = f"sys_query_{abs(hash(inner)) % 10**9}"
            execute(db, inner, params).createOrReplaceTempView(view)
            return view

        masked = _QUERY_REF.sub(subquery, masked)

        # time travel over the commit log (Delta `VERSION AS OF` syntax;
        # superset — the reference's file store versions files, not
        # collections): FROM t FOR VERSION AS OF n reads the committed
        # manifest n via Table.as_of, with the collation policy applied
        def timetravel(m: re.Match) -> str:
            tname, ver = m.group(1), int(m.group(2))
            view = f"{tname}__asof_{ver}"
            db.apply_collation(db.table(tname).as_of(ver)).createOrReplaceTempView(
                view
            )
            return f"FROM {view}"

        masked = _ASOF_REF.sub(timetravel, masked)
        if _SYS_REF.search(masked):

            def sysview(m: re.Match) -> str:
                name = m.group(1)
                if name.lower() in ("file_csv", "file_json"):
                    return m.group(0)
                view = f"sys_{name.lower()}"
                db.system_collection(name).createOrReplaceTempView(view)
                return view

            masked = _SYS_REF.sub(sysview, masked)
        sql = _unmask(masked, lits)
        return lite_sql(db.spark, sql, params, db=db)
    if kw == "PRAGMA":
        m = _PRAGMA_CMD.match(sql)
        if not m:
            raise ValueError("expected: PRAGMA <name> [= <value>]")
        if m.group(2) is None:
            return db.pragma(m.group(1))
        raw = m.group(2).strip()
        if raw[:1] in ("'", '"'):
            value = raw[1:-1].replace(raw[0] * 2, raw[0])
        elif raw.lower() in ("true", "false"):
            value = raw.lower() == "true"
        else:
            value = int(raw)
        return db.pragma(m.group(1), value)
    if kw == "INSERT":
        m = _INSERT_CMD.match(sql)
        if not m:
            raise ValueError("expected: INSERT INTO <collection> VALUES {doc}[, ...]")
        def sub_json(doc: str) -> str:
            # params substitute as JSON literals (not SQL literals), and
            # ONLY outside JSON string literals — '@' inside a string
            # value ("ann@example.com") is data, not a parameter
            if params is None:
                return doc
            out, i, in_str = [], 0, False
            while i < len(doc):
                ch = doc[i]
                if in_str:
                    out.append(ch)
                    if ch == "\\" and i + 1 < len(doc):
                        out.append(doc[i + 1])
                        i += 1
                    elif ch == '"':
                        in_str = False
                elif ch == '"':
                    in_str = True
                    out.append(ch)
                elif ch == "@":
                    mm = re.match(r"@(\w+)", doc[i:])
                    if mm:
                        out.append(_json.dumps(params[mm.group(1)]))
                        i += mm.end() - 1
                    else:
                        out.append(ch)
                else:
                    out.append(ch)
                i += 1
            return "".join(out)

        docs = [_json.loads(sub_json(d)) for d in _split_top_level(m.group(2))]
        return db.table(m.group(1)).insert(docs)
    if kw == "UPDATE":
        m = _UPDATE_CMD.match(sql)
        if not m:
            raise ValueError("expected: UPDATE <collection> SET k = expr [WHERE expr]")
        transforms = {}
        for assign in _split_top_level(m.group(2), sep=","):
            k, _, expr = assign.partition("=")
            transforms[translate(k.strip())] = translate(expr.strip(), params)
        where = translate(m.group(3), params) if m.group(3) else "true"
        return db.table(m.group(1)).update_many(transforms, where)
    if kw == "DELETE":
        m = _DELETE_CMD.match(sql)
        if not m:
            raise ValueError("expected: DELETE <collection> [WHERE expr]")
        where = translate(m.group(2), params) if m.group(2) else "true"
        return db.table(m.group(1)).delete(where)
    if kw == "CREATE":
        m = _CREATE_INDEX_CMD.match(sql)
        if not m:
            raise ValueError(
                "expected: CREATE [UNIQUE] INDEX <name> ON <collection> (<column>)"
            )
        return db.table(m.group(3)).ensure_index(
            translate(m.group(4).strip()),
            unique=m.group(1) is not None,
            name=m.group(2),
        )
    if kw == "DROP":
        mi = _DROP_INDEX_CMD.match(sql)
        if mi:
            return db.table(mi.group(1)).drop_index(mi.group(2))
        m = _DROP_CMD.match(sql)
        if not m:
            raise ValueError("expected: DROP COLLECTION <collection>")
        return db.drop_table(m.group(1))
    if kw == "RENAME":
        m = _RENAME_CMD.match(sql)
        if not m:
            raise ValueError("expected: RENAME COLLECTION <a> TO <b>")
        return db.rename_table(m.group(1), m.group(2))
    if kw in ("CHECKPOINT", "REBUILD"):
        for t in db.list_tables():
            db.compact_table(t)
        return None
    if kw == "ALTER":
        # superset command — LiteDB is schemaless so it has no ALTER;
        # this is the fixed-schema engine's additive-evolution surface
        # (Table.add_column/drop_column: metadata-only, old rows read
        # the new column as NULL like a missing BSON field)
        m = _ALTER_ADD_CMD.match(sql)
        if m:
            return db.table(m.group(1)).add_column(m.group(2), m.group(3).strip())
        m = _ALTER_DROP_CMD.match(sql)
        if m:
            return db.table(m.group(1)).drop_column(m.group(2))
        raise ValueError(
            "expected: ALTER TABLE <t> ADD COLUMN <c> <type> | "
            "ALTER TABLE <t> DROP COLUMN <c>"
        )
    raise ValueError(f"unsupported command: {kw!r}")
