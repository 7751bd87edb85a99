"""CH-dialect DDL statements: CREATE [TEMPORARY] TABLE / CREATE VIEW
/ DROP, spellable as text against the same table env the query and
INSERT paths use.

The reference itself never issues DDL (its driver only SELECTs and
INSERTs, main.go:238-279), but its temp-table EQUIVALENT exists
programmatically as S6 external tables (ch_bind.ExternalTable) — this
module closes the gap for a CH user who writes the statements out:

- ``CREATE [TEMPORARY] TABLE [IF NOT EXISTS] name [ENGINE = ...] AS
  SELECT ...``: plans the SELECT through run_ch_query and registers
  the result under ``name`` in the env (the dict is mutated IN PLACE
  so subsequent statements against the same env see it — CH session
  scoping). With ``path=`` the relation is materialized through the
  parquet sink (the INSERT path's 1M-row block constant) and the env
  entry is the read-back — a real table, not a lazy view.
- ``CREATE [OR REPLACE] VIEW [IF NOT EXISTS] name AS SELECT ...``:
  same registration, always lazy (a view IS an unexecuted plan —
  Spark's whole evaluation model, so the mapping is exact).
- ``DROP TABLE|VIEW [IF EXISTS] name``: removes the env entry;
  returns the dropped relation's empty frame (CH returns an empty
  result set for DDL).
- ``ALTER TABLE name DELETE WHERE ...`` / ``ALTER TABLE name UPDATE
  col = expr, ... WHERE ...``: CH lightweight mutations as lazy plan
  rewrites (see :func:`_run_ch_alter`).
- Housekeeping verbs over the env: ``TRUNCATE [TABLE] [IF EXISTS]``
  (entry becomes its empty frame), ``RENAME TABLE a TO b``,
  ``EXCHANGE TABLES a AND b`` (atomic from the env's view — one dict
  op), ``DESCRIBE [TABLE]`` (name/type rows with CH type names),
  ``SHOW TABLES``, and ``OPTIMIZE TABLE [FINAL]`` — a no-op on lazy
  relations, but with ``path=`` it REWRITES the relation's parquet at
  the sink block size: real small-file compaction, the Spark-side
  meaning of CH's merge-parts maintenance.

ENGINE clauses parse and are recorded on the returned DataFrame's
plan only in the sense that every engine maps to the same Spark
relation — MergeTree storage choices are a cluster-layout concern
(partitioning/bucketing at the sink), not a per-statement one.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from ..local_frame import local_frame
from .ch_insert import BLOCK_SIZE
from .ch_sql import run_ch_query

_IDENT = r"[A-Za-z_]\w*"

_CREATE_RE = re.compile(
    rf"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(TEMPORARY)\s+)?"
    rf"(TABLE|VIEW|MATERIALIZED\s+VIEW)\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*"
    rf"(?:ENGINE\s*=\s*{_IDENT}\s*(?:\([^)]*\))?\s*)?"
    rf"AS\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)

# CREATE TABLE t (col Type [, ...]) [ENGINE = ...]: the schema-first
# form every CH deployment script starts with — an EMPTY relation
# with the parsed schema, ready for INSERT.
_CREATE_SCHEMA_RE = re.compile(
    rf"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?(?:(TEMPORARY)\s+)?"
    rf"TABLE\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*"
    rf"\((?P<cols>.*)$",
    re.IGNORECASE | re.DOTALL,
)

_DROP_RE = re.compile(
    rf"^\s*DROP\s+(TABLE|VIEW)\s+(?:(IF\s+EXISTS)\s+)?"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_ALTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?:({_IDENT})\.)?({_IDENT})\s+"
    rf"(DELETE|UPDATE)\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)

_ALTER_COLUMN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?:({_IDENT})\.)?({_IDENT})\s+"
    rf"(ADD|DROP|RENAME)\s+COLUMN\s+(?:(IF\s+(?:NOT\s+)?EXISTS)\s+)?"
    rf"(.*)$",
    re.IGNORECASE | re.DOTALL,
)

_TRUNCATE_RE = re.compile(
    rf"^\s*TRUNCATE\s+(?:TABLE\s+)?(?:(IF\s+EXISTS)\s+)?"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_RENAME_RE = re.compile(
    rf"^\s*RENAME\s+TABLE\s+(?:({_IDENT})\.)?({_IDENT})\s+TO\s+"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_EXCHANGE_RE = re.compile(
    rf"^\s*EXCHANGE\s+TABLES\s+(?:({_IDENT})\.)?({_IDENT})\s+AND\s+"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_DESCRIBE_RE = re.compile(
    rf"^\s*(?:DESCRIBE|DESC)\s+(?:TABLE\s+)?"
    rf"(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_SHOW_RE = re.compile(r"^\s*SHOW\s+TABLES\s*$", re.IGNORECASE)

_SHOW_DBS_RE = re.compile(r"^\s*SHOW\s+DATABASES\s*$", re.IGNORECASE)

# session-protocol statements every CH client sends: USE db is a
# no-op (the env is flat; db-qualified names already resolve), and
# EXISTS [TABLE] t returns CH's one-row UInt8
_USE_RE = re.compile(rf"^\s*USE\s+({_IDENT})\s*$", re.IGNORECASE)

# SET name = value [, ...] — the session-scoped settings statement.
# Same policy as the per-query SETTINGS clause: every name is
# validated/classified through the C5 passthrough and RECORDED in
# SESSION_SETTINGS (callers wanting them live wrap their action in
# control.apply_query_settings), never silently dropped and never
# mutated into the Spark session from inside a statement.
_SET_RE = re.compile(
    r"^\s*SET\s+(.+)$", re.IGNORECASE | re.DOTALL
)

SESSION_SETTINGS: dict[str, object] = {}


def _split_outside_quotes(body: str) -> list[str]:
    """Split a SET body on commas that sit OUTSIDE '...'/"..."
    literals, honoring the CH doubled-quote escape (''). A naive
    split would cut SET x = 'a,b' mid-string."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    i = 0
    while i < len(body):
        ch = body[i]
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                if i + 1 < len(body) and body[i + 1] == quote:
                    buf.append(quote)  # doubled-quote escape
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"'):
            quote = ch
            buf.append(ch)
        elif ch == ",":
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts

_EXISTS_RE = re.compile(
    rf"^\s*EXISTS\s+(?:TABLE\s+)?(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

_SHOW_CREATE_RE = re.compile(
    rf"^\s*SHOW\s+CREATE\s+(?:TABLE\s+)?(?:({_IDENT})\.)?({_IDENT})\s*$",
    re.IGNORECASE,
)

# KILL QUERY WHERE query_id = '...' — maps onto the engine's C1
# cancellation surface (control.job_group tags every job with the
# query id; cancelJobGroup interrupts them)
_KILL_RE = re.compile(
    r"^\s*KILL\s+QUERY\s+WHERE\s+query_id\s*=\s*'([^']*)'"
    r"(\s+SYNC|\s+ASYNC)?\s*$",
    re.IGNORECASE,
)

_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+TABLE\s+(?:({_IDENT})\.)?({_IDENT})"
    rf"(\s+FINAL)?\s*$",
    re.IGNORECASE,
)

# Spark type name -> the CH name DESCRIBE prints (best-effort; types
# without a CH analogue pass through as the Spark name)
_CH_TYPE_NAMES = {
    "tinyint": "Int8", "smallint": "Int16", "int": "Int32",
    "bigint": "Int64", "float": "Float32", "double": "Float64",
    "string": "String", "date": "Date", "timestamp": "DateTime",
    "timestamp_ntz": "DateTime", "boolean": "Bool", "binary": "String",
}


def _ch_type(spark_type: str) -> str:
    m = re.fullmatch(r"array<(.+)>", spark_type)
    if m:
        return f"Array({_ch_type(m.group(1))})"
    m = re.fullmatch(r"map<([^,]+),(.+)>", spark_type)
    if m:
        return f"Map({_ch_type(m.group(1))}, {_ch_type(m.group(2))})"
    m = re.fullmatch(r"decimal\((\d+),(\d+)\)", spark_type)
    if m:
        return f"Decimal({m.group(1)}, {m.group(2)})"
    return _CH_TYPE_NAMES.get(spark_type, spark_type)


def _run_ch_alter(sql: str, tables: dict[str, DataFrame]) -> DataFrame:
    """CH lightweight mutations:

    - ``ALTER TABLE t DELETE WHERE cond``
    - ``ALTER TABLE t UPDATE col = expr [, ...] WHERE cond``

    Both rewrite the env entry as a LAZY plan (filter / conditional
    projection) — the exact analogue of CH's mutation-as-rewrite
    model, and the right 100 TB shape: no data moves until the
    relation is materialized (query or sink), at which point the
    mutation rides the scan for free (predicate stays pushdown-able,
    the UPDATE is a projection). WHERE is mandatory, as in CH.
    Returns the mutated relation (CH returns an empty set; the
    relation is strictly more useful and costs nothing — it is lazy).
    """
    from pyspark.sql import functions as F

    from .ch_sql import _compile, _Parser, _tokenize

    m = _ALTER_RE.match(sql)
    assert m is not None  # caller matched
    _db, name, verb, tail = m.groups()
    if name not in tables:
        raise ValueError(f"unknown table {name!r}")
    df = tables[name]
    p = _Parser(_tokenize(tail), tables)
    if verb.upper() == "DELETE":
        p.expect("where")
        cond = _compile(p.parse_expr(), tables)
        if p.peek() is not None:
            raise ValueError(f"unexpected tokens after WHERE: {p.peek()!r}")
        out = df.where(~F.coalesce(cond, F.lit(False)))
    else:
        sets: list[tuple[str, object]] = []
        while True:
            col = p.next()
            if col is None or p.next() != "=":
                raise ValueError("UPDATE expects col = expr [, ...]")
            sets.append((col, p.parse_expr()))
            if p.peek() == ",":
                p.next()
                continue
            break
        p.expect("where")
        cond = F.coalesce(_compile(p.parse_expr(), tables), F.lit(False))
        if p.peek() is not None:
            raise ValueError(f"unexpected tokens after WHERE: {p.peek()!r}")
        dtypes = dict(df.dtypes)
        updates = {}
        for col, node in sets:
            if col not in df.columns:
                raise ValueError(f"unknown column {col!r} in {name!r}")
            # CH casts the assigned expression to the column's type
            updates[col] = F.when(
                cond, _compile(node, tables).cast(dtypes[col])
            ).otherwise(F.col(col))
        out = df.withColumns(updates)
    tables[name] = out
    return out


def _type_default(spark_type: str):
    """CH's column default for a type without DEFAULT: numeric 0,
    empty string, empty array; NULL for everything else."""
    from pyspark.sql import functions as F

    t = spark_type.lower()
    if t.startswith(("int", "bigint", "smallint", "tinyint", "long",
                     "float", "double", "decimal", "short", "byte")):
        return F.lit(0).cast(spark_type)
    if t == "string":
        return F.lit("")
    if t.startswith("array"):
        return F.array().cast(spark_type)
    return F.lit(None).cast(spark_type)


def _run_create_schema(m, tables: dict[str, DataFrame]) -> DataFrame:
    """CREATE TABLE t (col Type [DEFAULT expr], ...): an empty
    relation with the parsed schema (the deployment-script form;
    INSERT fills it)."""
    from pyspark.sql import SparkSession

    from .ch_sql import _Parser, _tokenize

    or_replace, _temp, if_not_exists, _db, name = m.groups()[:5]
    # the regex captures everything after the opening paren: scan to
    # the BALANCED close (types like Decimal(10, 2) nest parens); the
    # remainder (ENGINE/ORDER BY/TTL decorations) is ignored
    rest = m.group("cols")
    depth, end, in_str = 1, None, False
    i = 0
    while i < len(rest):
        ch = rest[i]
        if in_str:
            if ch == "'":
                # '' is an escaped quote inside the literal
                if i + 1 < len(rest) and rest[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                end = i
                break
        i += 1
    if end is None:
        raise ValueError("unbalanced parentheses in column list")
    cols_text = rest[:end]
    trailer = rest[end + 1 :].strip()
    if re.match(r"(?i)^AS\b", trailer) or re.search(
        r"(?i)\bAS\s+SELECT\b", trailer
    ):
        raise ValueError(
            "CREATE TABLE (columns) AS SELECT is not supported — "
            "use CREATE TABLE ... AS SELECT (schema inferred) or the "
            "column list with a separate INSERT"
        )
    if name in tables and not (or_replace or if_not_exists):
        raise ValueError(f"table {name!r} already exists")
    if name in tables and if_not_exists:
        return tables[name]
    p = _Parser(_tokenize(cols_text), tables)
    fields = []
    while True:
        cname = p.next()
        if cname is None:
            raise ValueError("empty column list")
        ctype = p.parse_type_name()
        # swallow per-column decorations (DEFAULT expr, CODEC, TTL,
        # COMMENT) up to the next comma at depth 0
        depth = 0
        while p.peek() is not None and not (p.peek() == "," and depth == 0):
            tok = p.next()
            depth += tok == "("
            depth -= tok == ")"
        fields.append(f"{cname} {ctype}")
        if p.peek() == ",":
            p.next()
            continue
        break
    spark = (
        next(iter(tables.values())).sparkSession
        if tables
        else SparkSession.getActiveSession()
    )
    df = local_frame(spark, [], ", ".join(fields))
    tables[name] = df
    return df


def _run_ch_alter_column(sql: str, tables: dict[str, DataFrame]) -> DataFrame:
    """ALTER TABLE t ADD COLUMN c T [DEFAULT expr] / DROP COLUMN c /
    RENAME COLUMN a TO b — lazy plan rewrites like DELETE/UPDATE."""
    from .ch_sql import _compile, _Parser, _tokenize

    m = _ALTER_COLUMN_RE.match(sql)
    assert m is not None
    _db, name, verb, _ifex, tail = m.groups()
    if name not in tables:
        raise ValueError(f"unknown table {name!r}")
    df = tables[name]
    p = _Parser(_tokenize(tail), tables)
    verb = verb.upper()
    if verb == "DROP":
        col = p.next()
        if col not in df.columns:
            if _ifex:
                return df
            raise ValueError(f"unknown column {col!r} in {name!r}")
        out = df.drop(col)
    elif verb == "RENAME":
        old = p.next()
        if p.next().lower() != "to":
            raise ValueError("RENAME COLUMN expects: old TO new")
        new = p.next()
        if old not in df.columns:
            raise ValueError(f"unknown column {old!r} in {name!r}")
        out = df.withColumnRenamed(old, new)
    else:  # ADD
        col = p.next()
        if col in df.columns:
            if _ifex:
                return df
            raise ValueError(f"column {col!r} already exists")
        ctype = p.parse_type_name()
        if p.peek_kw() == "default":
            p.next()
            value = _compile(p.parse_expr(), tables).cast(ctype)
        else:
            value = _type_default(ctype)
        out = df.withColumn(col, value)
    tables[name] = out
    return out


_DDL_HEADS = (
    "CREATE", "DROP", "ALTER", "TRUNCATE", "RENAME", "EXCHANGE",
    "DESCRIBE", "DESC", "SHOW", "OPTIMIZE", "KILL", "USE", "EXISTS",
)


def is_ddl(sql: str) -> bool:
    head = sql.split(maxsplit=1)
    return bool(head) and head[0].upper() in _DDL_HEADS


def run_ch_ddl(
    sql: str,
    tables: dict[str, DataFrame],
    args: tuple | list = (),
    named: dict | None = None,
    path: str | None = None,
    mode: str = "overwrite",
    broadcast_dims: bool = True,
) -> DataFrame:
    """Execute one CREATE/DROP statement against ``tables`` (mutated
    in place). Returns the created relation, or an empty frame with
    the dropped relation's schema for DROP."""
    m = _CREATE_RE.match(sql)
    if m is not None:
        or_replace, _temp, kind, if_not_exists, _db, name, body = m.groups()
        if name in tables and not (or_replace or if_not_exists):
            raise ValueError(f"table {name!r} already exists")
        if name in tables and if_not_exists:
            return tables[name]
        df = run_ch_query(
            body, tables, args=args, named=named,
            broadcast_dims=broadcast_dims,
        )
        if path is not None:
            (
                df.write.mode(mode)
                .option("maxRecordsPerFile", BLOCK_SIZE)
                .parquet(path)
            )
            df = df.sparkSession.read.parquet(path)
        elif kind and kind.upper().startswith("MATERIALIZED"):
            # a materialized view is an EAGER snapshot: compute now,
            # truncate lineage, serve the stored result (on a real
            # cluster prefer path= so the snapshot lands in storage)
            df = df.localCheckpoint(eager=True)
        tables[name] = df
        return df
    m = _CREATE_SCHEMA_RE.match(sql)
    if m is not None:
        return _run_create_schema(m, tables)
    if _ALTER_COLUMN_RE.match(sql) is not None:
        if path is not None:
            raise ValueError("path= applies to CREATE statements only")
        return _run_ch_alter_column(sql, tables)
    if _ALTER_RE.match(sql) is not None:
        if path is not None:
            raise ValueError("path= applies to CREATE statements only")
        return _run_ch_alter(sql, tables)
    m = _TRUNCATE_RE.match(sql)
    if m is not None:
        if_exists, _db, name = m.groups()
        if name not in tables:
            if if_exists:
                from pyspark.sql import SparkSession

                spark = (
                    next(iter(tables.values())).sparkSession
                    if tables
                    else SparkSession.getActiveSession()
                )
                return local_frame(spark, [], "name string")
            raise ValueError(f"unknown table {name!r}")
        tables[name] = tables[name].limit(0)
        return tables[name]
    m = _RENAME_RE.match(sql)
    if m is not None:
        _db1, old, _db2, new = m.groups()
        if old not in tables:
            raise ValueError(f"unknown table {old!r}")
        if new in tables:
            raise ValueError(f"table {new!r} already exists")
        tables[new] = tables.pop(old)
        return tables[new].limit(0)
    m = _EXCHANGE_RE.match(sql)
    if m is not None:
        _db1, a, _db2, b = m.groups()
        for n in (a, b):
            if n not in tables:
                raise ValueError(f"unknown table {n!r}")
        tables[a], tables[b] = tables[b], tables[a]
        return tables[a].limit(0)
    m = _DESCRIBE_RE.match(sql)
    if m is not None:
        _db, name = m.groups()
        if name not in tables:
            raise ValueError(f"unknown table {name!r}")
        df = tables[name]
        return local_frame(
            df.sparkSession,
            [(c, _ch_type(t)) for c, t in df.dtypes],
            "name string, type string",
        )
    m = _SHOW_CREATE_RE.match(sql)
    if m is not None:
        _db, name = m.groups()
        if name not in tables:
            raise ValueError(f"unknown table {name!r}")
        df = tables[name]
        cols = ",\n    ".join(
            f"`{c}` {_ch_type(t)}" for c, t in df.dtypes
        )
        stmt = (
            f"CREATE TABLE {name}\n(\n    {cols}\n)\n"
            f"ENGINE = MergeTree\nORDER BY {df.columns[0]}"
        )
        return local_frame(df.sparkSession, [(stmt,)], "statement string")
    m = _KILL_RE.match(sql)
    if m is not None:
        qid = m.group(1)
        from pyspark.sql import SparkSession

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        # interrupt every job tagged with the id (control.job_group);
        # unknown ids are a no-op, like CH's empty kill result
        spark.sparkContext.cancelJobGroup(qid)
        return local_frame(
            spark, [(qid, "finished")], "query_id string, kill_status string"
        )
    if _SHOW_RE.match(sql) is not None:
        from pyspark.sql import SparkSession

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        return local_frame(spark, [(n,) for n in sorted(tables)], "name string")
    if _SHOW_DBS_RE.match(sql) is not None:
        from pyspark.sql import SparkSession

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        return local_frame(
            spark,
            [("default",), ("fastnetmon",), ("system",)],
            "name string",
        )
    m = _SET_RE.match(sql)
    if m is not None and not re.match(
        r"^\s*SETTINGS\b", sql, re.IGNORECASE
    ):
        from pyspark.sql import SparkSession

        from ..control import classify_setting

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        if spark is None:
            raise ValueError(
                "SET requires an active SparkSession (none found and "
                "no tables registered)"
            )
        body = m.group(1)
        for pair in _split_outside_quotes(body):
            if "=" not in pair:
                raise ValueError(
                    f"SET expects name = value, got {pair.strip()!r}"
                )
            name, _, val = pair.partition("=")
            name = name.strip()
            sval: object = val.strip().strip("'\"")
            try:
                classify_setting(name)
            except KeyError:
                pass  # forward-unknown, like the CH driver
            SESSION_SETTINGS[name] = sval
        # CH acknowledges SET with an empty result
        return local_frame(spark, [], "name string")
    m = _USE_RE.match(sql)
    if m is not None:
        from pyspark.sql import SparkSession

        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        # the env is flat (db-qualified names already resolve), so
        # USE is CH's empty acknowledgment
        return local_frame(spark, [], "name string")
    m = _EXISTS_RE.match(sql)
    if m is not None:
        from pyspark.sql import SparkSession

        _db, name = m.groups()
        spark = (
            next(iter(tables.values())).sparkSession
            if tables
            else SparkSession.getActiveSession()
        )
        return local_frame(
            spark, [(1 if name in tables else 0,)], "result int"
        )
    m = _OPTIMIZE_RE.match(sql)
    if m is not None:
        _db, name, _final = m.groups()
        if name not in tables:
            raise ValueError(f"unknown table {name!r}")
        if path is not None:
            # real compaction: coalesce (shuffle-free partition merge
            # — compaction only ever reduces) to ceil(rows / block)
            # output files, rewrite, swap the env entry to the
            # read-back. The count is a parquet-footer-only job — the
            # one extra pass a maintenance command is allowed.
            df = tables[name]
            n_rows = df.count()
            n_files = max(1, -(-n_rows // BLOCK_SIZE))
            (
                df.coalesce(n_files)
                .write.mode(mode)
                .option("maxRecordsPerFile", BLOCK_SIZE)
                .parquet(path)
            )
            tables[name] = df.sparkSession.read.parquet(path)
        return tables[name].limit(0)
    m = _DROP_RE.match(sql)
    if m is not None:
        _kind, if_exists, _db, name = m.groups()
        if name not in tables:
            if not if_exists:
                raise ValueError(f"unknown table {name!r}")
            # IF EXISTS on a missing name: CH succeeds with an empty
            # result set; echo an empty status frame.
            from pyspark.sql import SparkSession

            spark = (
                next(iter(tables.values())).sparkSession
                if tables
                else SparkSession.getActiveSession()
            )
            return local_frame(spark, [], "name string")
        dropped = tables.pop(name)
        return dropped.limit(0)
    raise ValueError(f"cannot parse DDL statement: {sql[:60]!r}")
