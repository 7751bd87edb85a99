"""CH-dialect INSERT statements for the front end (S7 as SQL text).

The reference driver splits INSERT handling in two (ch/helpers.go:115-
120 ``isInsert``): ``INSERT INTO t [(cols)] VALUES ...`` goes through
the client-side columnar block — rows appended one exec at a time and
auto-flushed every ``block_size`` rows (default 1,000,000,
ch/bootstrap.go:96; ch/stmt.go:53-68) — while anything containing a
``SELECT`` keyword is shipped as a server-side query. This module
mirrors both paths onto Spark:

- ``INSERT ... VALUES``: literal rows (and ``?`` placeholder rows — the
  driver's per-exec arg binding) become a DataFrame cast to the target
  table's schema;
- ``INSERT ... SELECT``: the tail is planned by
  :func:`~.ch_sql.run_ch_query` against the same table env and renamed
  positionally onto the target columns (CH INSERT SELECT semantics);
- materialization is the parquet sink with
  ``maxRecordsPerFile=1_000_000`` — the driver's block-flush constant
  applied to the storage layout (sinks/parquet_sink.py carries the
  same policy for partitioned writes).

Detection parity note: the reference classifies by a regex
(``\\s+SELECT\\s+`` on the upper-cased text), so a VALUES statement
whose string literal contains " SELECT " is treated as a query there.
:func:`is_insert_values` reproduces that exact rule — bit-parity with
the driver's routing, quirk included.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..local_frame import local_frame
from .ch_sql import _literal_value, _Parser, _tokenize, run_ch_query

# the driver's block-flush threshold (ch/bootstrap.go:96)
BLOCK_SIZE = 1_000_000

_SELECT_RE = re.compile(r"\s+SELECT\s+")

# ? placeholders are recognized OUTSIDE string literals only (the
# binder's rule, ch/stmt.go:116-204); masked to an identifier token
# the expression tokenizer accepts
_PARAM_TOKEN = "__ch_param__"


def _mask_placeholders(sql: str) -> str:
    out: list[str] = []
    in_str = False
    i = 0
    while i < len(sql):
        c = sql[i]
        if in_str:
            out.append(c)
            if c == "\\" and i + 1 < len(sql):
                out.append(sql[i + 1])
                i += 2
                continue
            if c == "'":
                # '' doubling stays inside the literal
                if i + 1 < len(sql) and sql[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                in_str = False
        elif c == "'":
            in_str = True
            out.append(c)
        elif c == "?":
            out.append(f" {_PARAM_TOKEN} ")
        else:
            out.append(c)
        i += 1
    return "".join(out)


# INSERT INTO [db.]table [(col, ...)] <tail> — head-only regex for the
# SELECT path (the tail re-tokenizes through run_ch_query, placeholder
# binding included)
_HEAD_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+([A-Za-z_]\w*)(?:\.([A-Za-z_]\w*))?"
    r"\s*(\(([^)]*)\))?\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def is_insert_values(sql: str) -> bool:
    """The reference's ``isInsert`` (ch/helpers.go:115-120), exactly:
    first two fields are INSERT INTO and the upper-cased text has no
    ``\\s+SELECT\\s+`` match."""
    f = sql.split()
    if len(f) <= 2:
        return False
    return (
        f[0].upper() == "INSERT"
        and f[1].upper() == "INTO"
        and not _SELECT_RE.search(sql.upper())
    )


def _parse_head(p: _Parser) -> tuple[str, list[str] | None]:
    """Consume ``INSERT INTO [db.]table [(col, ...)]``; returns
    (table, explicit column list or None)."""
    p.expect("insert")
    p.expect("into")
    tname = p.next()
    if p.peek() == ".":
        p.next()
        tname = p.next()  # db qualifier dropped, like the SELECT path
    cols: list[str] | None = None
    if p.peek() == "(":
        p.next()
        cols = [p.next()]
        while p.peek() == ",":
            p.next()
            cols.append(p.next())
        p.expect(")")
    return tname, cols


# INSERT INTO FUNCTION file/url/s3('loc'[, 'Format']) SELECT ... —
# CH's write-through-table-function sink. The SELECT tail plans
# normally and lands via the matching distributed Spark writer.
_FUNC_HEAD_RE = re.compile(
    r"^\s*INSERT\s+INTO\s+FUNCTION\s+(file|url|s3)\s*\(\s*"
    r"'([^']+)'\s*(?:,\s*'([^']+)')?\s*\)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)


def _write_function_sink(
    out: DataFrame, loc: str, fmt: str, mode: str
) -> None:
    lfmt = fmt.lower()
    w = out.write.mode(mode)
    if lfmt == "parquet":
        w.option("maxRecordsPerFile", BLOCK_SIZE).parquet(loc)
    elif lfmt in ("csv", "csvwithnames"):
        w.csv(loc, header=lfmt.endswith("withnames"))
    elif lfmt in (
        "tsv", "tabseparated", "tsvwithnames", "tabseparatedwithnames"
    ):
        w.csv(loc, sep="\t", header=lfmt.endswith("withnames"))
    elif lfmt == "jsoneachrow":
        w.json(loc)
    else:
        raise ValueError(
            f"INSERT INTO FUNCTION: unsupported format {fmt!r}; known: "
            "Parquet, CSV[WithNames], TSV[WithNames], JSONEachRow"
        )


def run_ch_insert(
    sql: str,
    tables: dict[str, DataFrame],
    rows: list[tuple] | None = None,
    args: tuple | list = (),
    named: dict | None = None,
    path: str | None = None,
    mode: str = "append",
) -> DataFrame:
    """Execute a CH-dialect INSERT against ``tables``.

    ``rows`` emulates the driver's prepared-statement loop: when the
    VALUES clause holds ``?`` placeholders, each tuple in ``rows`` is
    one exec's arguments (the block-append path, ch/stmt.go:53-68).
    ``args``/``named`` bind placeholders in an INSERT ... SELECT tail
    with the standard binder rules.

    When ``path`` is given the inserted rows are written there as
    parquet (``mode`` append/overwrite) with the driver's 1M-row block
    constant as ``maxRecordsPerFile``; the returned DataFrame is the
    inserted relation either way (lazily planned — for INSERT SELECT
    nothing runs until the write or the caller's action).
    """
    fm = _FUNC_HEAD_RE.match(sql)
    if fm is not None:
        fname, loc, fmt, tail = fm.groups()
        tail = tail.strip()
        if not tail.lower().startswith(("select", "with")):
            raise ValueError(
                "INSERT INTO FUNCTION takes a SELECT tail (VALUES "
                "needs an explicit structure argument, not supported)"
            )
        out = run_ch_query(tail, tables, args=args, named=named)
        _write_function_sink(out, loc, fmt or "Parquet", mode)
        return out
    route_values = is_insert_values(sql)
    m = None
    if not route_values:
        m = _HEAD_RE.match(sql)
        if m is None:
            raise ValueError("cannot parse INSERT statement head")
        if m.group(5).lstrip()[:6].lower() == "values":
            # The reference's isInsert regex saw " SELECT " inside a
            # string literal and shipped the statement server-side —
            # where the server still executes the INSERT correctly
            # (the quirk is pure client routing). Reproduce the
            # observable behavior: parse the VALUES tail here instead
            # of rejecting a valid statement.
            route_values = True
    if route_values:
        if args or named:
            raise ValueError(
                "VALUES inserts bind per-row via rows=[...] (the "
                "driver's exec loop), not args/named"
            )
        p = _Parser(_tokenize(_mask_placeholders(sql)), tables)
        tname, cols = _parse_head(p)
        p.expect("values")
        literal_rows: list[list] = []
        n_params = 0
        while True:
            p.expect("(")
            vals: list = []
            while True:
                if p.peek() == _PARAM_TOKEN:
                    vals.append(_Param(len(vals)))
                    n_params += 1
                    p.next()
                else:
                    vals.append(_literal_value(p.parse_unary()))
                if p.peek() != ",":
                    break
                p.next()
            p.expect(")")
            literal_rows.append(vals)
            if p.peek() != ",":
                break
            p.next()
        if p.peek() is not None:
            raise ValueError(f"unexpected tokens after VALUES: {p.peek()!r}")
        if n_params:
            if len(literal_rows) != 1:
                raise ValueError(
                    "placeholder VALUES take a single row template "
                    "(the driver binds one row per exec)"
                )
            template = literal_rows[0]
            if rows is None:
                raise ValueError(
                    "VALUES has ? placeholders; pass rows=[(...), ...]"
                )
            literal_rows = []
            for r in rows:
                if len(r) != n_params:
                    raise ValueError(
                        f"row arity {len(r)} != {n_params} placeholders"
                    )
                it = iter(r)
                literal_rows.append(
                    [next(it) if isinstance(v, _Param) else v for v in template]
                )
        elif rows is not None:
            raise ValueError("rows= given but VALUES has no placeholders")
        if tname not in tables:
            raise ValueError(f"unknown table {tname!r}")
        target = tables[tname]
        spark = target.sparkSession
        tgt_fields = {f.name: f for f in target.schema.fields}
        out_cols = cols if cols is not None else target.columns
        for c in out_cols:
            if c not in tgt_fields:
                raise ValueError(f"unknown column {c!r} in {tname!r}")
        for r in literal_rows:
            if len(r) != len(out_cols):
                raise ValueError(
                    f"VALUES arity {len(r)} != {len(out_cols)} columns"
                )
        from pyspark.sql import types as T

        schema = T.StructType([tgt_fields[c] for c in out_cols])
        # strings for date/timestamp columns arrive as text in the CH
        # dialect; route through an all-string frame + cast so both
        # spellings work
        str_schema = T.StructType(
            [T.StructField(f.name, T.StringType()) for f in schema.fields]
        )
        sdf = local_frame(
            spark,
            [[None if v is None else str(v) for v in r] for r in literal_rows],
            str_schema,
        )
        out = sdf.select(
            *[
                sdf[f.name].cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    else:
        assert m is not None  # matched above for every non-VALUES route
        tname = m.group(2) or m.group(1)
        cols = (
            [c.strip() for c in m.group(4).split(",")]
            if m.group(4)
            else None
        )
        tail = m.group(5).strip()
        if not tail.lower().startswith(("select", "with")):
            raise ValueError(
                "INSERT tail must be VALUES or a SELECT statement"
            )
        out = run_ch_query(tail, tables, args=args, named=named)
        if cols is not None:
            if len(out.columns) != len(cols):
                raise ValueError(
                    f"SELECT produces {len(out.columns)} columns, "
                    f"INSERT names {len(cols)}"
                )
            out = out.toDF(*cols)
        elif tname in tables and len(out.columns) == len(
            tables[tname].columns
        ):
            # positional mapping onto the full target schema, like CH
            out = out.toDF(*tables[tname].columns)
    if path is not None:
        (
            out.write.mode(mode)
            .option("maxRecordsPerFile", BLOCK_SIZE)
            .parquet(path)
        )
    return out


class _Param:
    """Positional ``?`` placeholder marker inside a VALUES template."""

    def __init__(self, idx: int):
        self.idx = idx


def run_ch_statement(
    sql: str,
    tables: dict[str, DataFrame],
    **kwargs,
) -> DataFrame:
    """Single statement entry point with the driver's routing: INSERT
    statements (either kind — the VALUES block path or INSERT SELECT)
    go to :func:`run_ch_insert`, CREATE/DROP to
    :func:`~.ch_ddl.run_ch_ddl` (which mutates ``tables`` in place),
    everything else is a SELECT-family query for
    :func:`~.ch_sql.run_ch_query`. Mirrors how the reference driver's
    Exec/Query split behaves from the caller's seat."""
    head = sql.split(maxsplit=1)
    kw = head[0].upper() if head else ""
    if kw == "INSERT":
        return run_ch_insert(sql, tables, **kwargs)
    if kw in (
        "CREATE", "DROP", "ALTER", "TRUNCATE", "RENAME", "EXCHANGE",
        "DESCRIBE", "DESC", "SHOW", "OPTIMIZE", "KILL",
        # session-protocol statements (USE/EXISTS landed in round 6;
        # SET in round 7 — without these the driver's Exec path for
        # them would mis-route into the SELECT parser)
        "USE", "EXISTS", "SET",
    ):
        from .ch_ddl import run_ch_ddl

        if "rows" in kwargs:
            raise ValueError("rows= applies to INSERT statements only")
        return run_ch_ddl(sql, tables, **kwargs)
    query_kwargs = {k: v for k, v in kwargs.items() if k in ("args", "named")}
    if set(kwargs) - set(query_kwargs):
        raise ValueError(
            "rows/path/mode apply to INSERT or DDL statements only"
        )
    return run_ch_query(sql, tables, **query_kwargs)
