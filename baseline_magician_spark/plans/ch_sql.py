"""ClickHouse-dialect SQL front end for the reference's generated
queries.

The reference builds one SQL string per network (main.go:238-279):

    select count(*), toInt64(avg(packets_incoming)), ...
    FROM fastnetmon.host_metrics
    WHERE metricDate >= toDate(now() - P) and (metricDateTime >= now() - P)
      AND (IPv4StringToNum(host) >= IPv4StringToNum('a.b.c.d')
           and IPv4StringToNum(host) <= IPv4StringToNum('a.b.c.d') + N)

This module parses that dialect — grown well past the generated
subset — and compiles it onto a DataFrame using the CH function shims
(functions.ch_compat.CH_FUNCTIONS). A user of the reference can feed
the engine the very SQL text their tool already generates, plus the
hand-written queries a CH user actually runs. Current surface:

- SELECT [DISTINCT] items / * / alias.* (with EXCEPT/REPLACE/APPLY
  column matchers) / CASE WHEN / CAST(x AS T) / NULL literals /
  tuples ``(a, b)`` (element-wise = and row-value IN) / array
  indexing ``arr[i]`` / postfix casts ``x::T`` (ANSI and CH type
  names in both cast spellings); ANSI secondary spellings that share
  keywords with CH builtins: ``EXTRACT(unit FROM x)``,
  ``substring(s FROM p [FOR n])``, ``position(needle IN haystack)``,
  ``TRIM([BOTH|LEADING|TRAILING] ['chars'] FROM x)``; FROM-less
  SELECT (implicit one-row relation), comma-separated FROM lists
  (= CROSS JOIN; WHERE equalities re-plan as hash equi-joins),
  FROM db.table or derived tables ``(SELECT ...)``
  [SAMPLE f] (deterministic first-column hash sampling), JOINs
  (inner/left/right/full/cross, ON or USING, GLOBAL and ALL
  modifiers, ANY strictness for inner/left — deterministic keyed
  dedup of the build side), ASOF [LEFT] JOIN (interval-ized right
  side), ARRAY JOIN / LEFT ARRAY JOIN, PREWHERE (base-table scope),
  WHERE, GROUP BY ALL / GROUP BY [WITH TOTALS|ROLLUP|CUBE] / GROUP BY
  ROLLUP|CUBE (keys) / GROUP BY GROUPING SETS (...) (ANSI empty-input
  semantics: every () set yields its row), HAVING (alias-aware),
  ORDER BY ALL / ORDER BY [ASC|DESC] [NULLS FIRST|LAST] (CH nulls-last default)
  [WITH FILL [FROM a] [TO b] [STEP s]] [INTERPOLATE (c [AS expr])],
  LIMIT [offset,] n [BY exprs], OFFSET;
- expressions: and/or/not, comparisons, [NOT] IN (list | subquery |
  external table), [NOT] BETWEEN, [NOT] LIKE, IS [NOT] NULL,
  arithmetic incl. %, scalar subqueries, [NOT] EXISTS. Subquery
  predicates at WHERE-conjunct level may be CORRELATED: EXISTS / [NOT]
  IN rewrite to LEFT SEMI / LEFT ANTI joins (ANSI inner-first name
  resolution, exact three-valued NOT IN), and ``x CMP (SELECT agg ...
  WHERE k = outer.k)`` rewrites to a grouped derived table joined on
  the correlation keys (TPC-H q17 shape, ANSI empty-set-is-NULL
  semantics). Correlation under OR remains unsupported (as in the
  reference's CH era),
  parametric aggregates ``quantile(0.9)(x)`` / ``quantiles(...)()``,
  array lambdas ``arrayMap(x -> e, arr)`` (+ Filter/Exists/All/Count/
  First/FirstIndex/Sum/Avg, two-array zip form, nested closures),
  window functions ``fn(...) OVER ([PARTITION BY ...] [ORDER BY ...]
  [ROWS|RANGE [BETWEEN] frame])`` (explicit frames; the implicit
  default already matches CH/ANSI; ranking + lag/lead +
  percent_rank/cume_dist/first_value/last_value/nth_value);
  WHERE resolves explicit select aliases (CH expression-alias
  extension, alias-wins on a name clash — same rule as GROUP BY);
  the dictGet family — dictGet / dictGetOrDefault / dictGetOrNull /
  dictHas over any env relation keyed by its first column, one
  broadcast LEFT JOIN per (dictionary, key) group, CH missing-key
  type defaults; statistics aggregates (stddevPop/Samp, varPop/Samp,
  covarPop/Samp, corr, skewPop, kurtPop, median, avgWeighted);
  toStartOfInterval(t, INTERVAL n unit) grids and generic
  dateAdd/dateSub with quoted or bare unit names;
- statement level: WITH (both forms — ANSI CTEs and classic-CH scalar
  aliases ``WITH expr AS name``, mixable), UNION ALL/DISTINCT,
  INTERSECT/EXCEPT
  (CH ALL-default, INTERSECT precedence), trailing SETTINGS (validated
  + recorded, query-scoped) and FORMAT; ?/@name parameter binding with
  the reference driver's exact recognition rules (plans/ch_bind.py).

Cross-checked two ways: oracle-paired queries in queries/ch_sql_q.py
and the seeded differential fuzz (tests/test_ch_sql_differential.py)
running the same text on DuckDB.

ClickHouse type quirk honored: ``DateTime - integer`` is seconds
arithmetic (now() - 604800), so subtraction/addition where one side is
timestamp-typed and the other numeric compiles to interval arithmetic.
"""

from __future__ import annotations

import itertools
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.ch_compat import (
    CH_FUNCTIONS,
    is_combinator_agg,
    resolve_agg_combinator,
)
from ..local_frame import local_frame

_AGGS = {
    "count", "avg", "max", "min", "sum", "any", "uniq", "uniqexact",
    "uniqcombined", "uniqcombined64", "uniqhll12", "uniqtheta",
    "quantile", "quantileexact", "quantiles", "quantilesexact",
    "quantiletiming", "quantiletdigest", "quantilebfloat16",
    "quantiledeterministic",
    "countif", "sumif", "avgif", "minif",
    "maxif", "anyif", "uniqif", "uniqexactif", "anylast",
    "grouparray", "groupuniqarray", "argmax", "argmin",
    "uniqstate", "uniqmerge",
    "sumstate", "summerge", "minstate", "minmerge",
    "maxstate", "maxmerge", "countstate", "countmerge",
    "avgstate", "avgmerge", "topk", "topkweighted",
    # grouped-agg pandas UDAFs (functions/udaf.py, SURVEY §2.10)
    "weightedavg", "geometricmean",
    # ANSI DISTINCT-qualified aggregates (count(DISTINCT x), ...)
    "count__distinct", "sum__distinct", "avg__distinct",
    "min__distinct", "max__distinct",
    # statistics family
    "stddevpop", "stddevsamp", "varpop", "varsamp",
    "covarpop", "covarsamp", "corr", "skewpop", "kurtpop",
    "median", "avgweighted",
    # behavioral analytics (functions/funnel.py)
    "windowfunnel", "retention", "sequencematch", "sequencecount",
    "sequencenextnode",
    # map-keyed aggregates
    "summap", "minmap", "maxmap",
    # round-6 tranche
    "groupbitand", "groupbitor", "groupbitxor", "sumcount",
    "medianexact", "mediantiming", "mediantdigest", "medianbfloat16",
    "grouparraysorted", "approx_top_k", "approx_top_count",
    "sumkahan", "sumwithoverflow", "anyheavy", "firstvalue",
    "lastvalue", "singlevalueornull", "skewsamp", "kurtsamp",
    "uniqupto", "quantilegk",
    "largesttrianglethreebuckets", "lttb",
    # statistical-test / interval family (functions/stats_tests.py)
    "simplelinearregression", "boundingratio", "entropy",
    "groupbitmap", "deltasum", "deltasumtimestamp",
    "exponentialmovingaverage", "intervallengthsum",
    "maxintersections", "studentttest", "welchttest",
    "mannwhitneyutest", "kolmogorovsmirnovtest", "histogram",
    "sparkbar",
    # categorical association family (functions/stats_tests.py)
    "cramersv", "cramersvbiascorrected", "theilsu", "contingency",
    # round-6d tranche
    "groupconcat", "quantileexactlow", "quantileexacthigh",
    "grouparraylast", "grouparraymovingsum", "grouparraymovingavg",
    "countdistinct", "sumdistinct", "avgdistinct",
    # round-6f tranche
    "meanztest", "rankcorr", "corrmatrix", "covarsampmatrix",
    "exponentialtimedecayedsum", "exponentialtimedecayedcount",
    "exponentialtimedecayedmax", "exponentialtimedecayedavg",
    # round-6h tranche
    "quantileexactweighted", "quantilesexactweighted",
    "medianexactweighted", "analysisofvariance", "anova",
    "grouparrayintersect", "summapfiltered",
    # round-7 tranche
    "categoricalinformationvalue",
    # round-7c tranche
    "grouparraysample", "quantileinterpolatedweighted",
    # round-7e micro tranche
    "groupbitmapand", "groupbitmapor", "groupbitmapxor",
    "quantiletimingweighted", "quantilestimingweighted",
    "quantiletdigestweighted",
    # round-7f: Excel-convention exact quantiles
    "quantileexactexclusive", "quantilesexactexclusive",
    "quantileexactinclusive", "quantilesexactinclusive",
}

# CH parametric-aggregate families — ``fn(params)(args)`` spelling,
# e.g. quantile(0.9)(x), quantiles(0.25, 0.5, 0.75)(x). The params are
# levels: driver literals by definition, so the compile path passes
# them through as Python floats (percentile levels must be foldable).
_PARAMETRIC_AGGS = {
    "quantile", "quantileexact", "quantiles", "quantilesexact",
    "quantiletiming", "quantiletdigest", "quantilebfloat16",
    "quantiledeterministic", "quantilegk",
    "quantileexactlow", "quantileexacthigh",
    "topk", "topkweighted", "uniqupto",
    "largesttrianglethreebuckets", "lttb",
    "grouparraysorted", "approx_top_k", "approx_top_count",
    "grouparraylast", "grouparraymovingsum", "grouparraymovingavg",
    # groupConcat's parameter is a STRING separator: routed through
    # the trailing-literal split branch, not the quantile-levels one
    "groupconcat",
    # param = window seconds / sequence pattern; the compile path
    # special-cases these before the quantile-levels branch
    "windowfunnel", "sequencematch", "sequencecount",
    "sequencenextnode",
    # two-inner-column parametric stats (params ride behind the two
    # compiled columns via the topkweighted-style branch)
    "exponentialmovingaverage", "sparkbar", "mannwhitneyutest",
    "studentttest", "welchttest", "kolmogorovsmirnovtest",
    "histogram",
    # round-6f tranche — params ride behind the inner columns
    "meanztest",
    "exponentialtimedecayedsum", "exponentialtimedecayedcount",
    "exponentialtimedecayedmax", "exponentialtimedecayedavg",
    # round-6h tranche
    "quantileexactweighted", "quantilesexactweighted",
    "summapfiltered",
    # round-7c tranche
    "grouparraysample", "quantileinterpolatedweighted",
    # round-7e: weighted approximate-quantile spellings
    "quantiletimingweighted", "quantilestimingweighted",
    "quantiletdigestweighted",
    # round-7f: Excel-convention exact quantiles (single-column
    # parametric — levels ride the generic trailing-literal branch)
    "quantileexactexclusive", "quantilesexactexclusive",
    "quantileexactinclusive", "quantilesexactinclusive",
}

_TOKEN = re.compile(
    # numbers accept scientific notation — the binder's float quoting
    # (Go fmt.Sprint) emits e.g. '1e-05' for small magnitudes
    r"\s*(?:(?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)"
    r"|(?P<str>'(?:[^'\\]|\\.|'')*')"
    r"|(?P<ident>[A-Za-z_][A-Za-z_0-9]*)"
    r"|(?P<sym>->|<=|>=|!=|<>|::|[(),.*+\-/<>=%\[\]]))"
)


def _tokenize(sql: str) -> list[str]:
    out, pos = [], 0
    while pos < len(sql):
        m = _TOKEN.match(sql, pos)
        if not m:
            if sql[pos:].strip():
                raise ValueError(f"cannot tokenize at: {sql[pos:pos+30]!r}")
            break
        out.append(m.group().strip())
        pos = m.end()
    return out


@dataclass
class _Node:
    kind: str           # num | str | col | call | bin | star
    value: object = None
    args: tuple = ()
    # cached subquery materialization: an ORDER BY expression that is
    # not a select item recompiles its node tree, and without the memo
    # that re-collect()s the subquery a second time.
    # Scope invariant: memos are PER PARSE. run_ch_query re-tokenizes
    # and re-parses its SQL text on every call (fresh _Node objects),
    # so a memo can never leak a stale collect across executions or
    # across mutated table envs — pinned by
    # tests/test_ch_sql.py::test_rerun_with_mutated_env_recollects_subqueries.
    # Anyone adding AST caching must reset memos per execution.
    memo: object = None


# Bound on materialized IN (SELECT ...) sets — the role ClickHouse's
# max_rows_in_set setting plays for its own in-memory set builds
# (control.py maps the setting name here). Module-level so callers and
# tests can tune it.
MAX_ROWS_IN_SET = 10_000_000

# Iteration bound for WITH RECURSIVE fixpoint evaluation — the role
# ClickHouse's max_recursive_cte_evaluation_depth setting plays
# (default 1000 there too). Module-level so callers and tests can tune
# it; exceeding it raises rather than looping forever on a divergent
# UNION ALL recursion.
MAX_RECURSIVE_CTE_DEPTH = 1000


@dataclass
class _Subq:
    """A captured-but-unplanned subquery: its token slice plus the
    parse-time environment (table env and the scalar WITH aliases in
    scope). Planning is deferred so the WHERE-stage rewriter
    can first try inner-only name resolution and fall back to the
    correlated semi-join path — eager planning (the round-3 behavior)
    made every correlated subquery an unconditional analysis error."""

    toks: tuple
    tables: dict | None
    with_aliases: dict


def _plan_subq(payload: _Subq) -> DataFrame:
    """Plan a captured subquery as a standalone (uncorrelated) SELECT.
    Raises Spark's AnalysisException if it references outer columns —
    the signal the WHERE rewriter uses to take the correlated path."""
    sp = _Parser(list(payload.toks), payload.tables)
    sp.with_aliases = dict(payload.with_aliases)
    df = _exec_with_set_expr(sp, payload.tables or {})
    if sp.peek() is not None:
        raise ValueError(
            f"unexpected tokens in subquery: {self_toks(sp)}"
        )
    return df

# The most recent query's trailing SETTINGS clause (validated, NOT
# applied — see run_ch_query's SETTINGS handling for why); callers
# wanting them live wrap their action in control.apply_query_settings.
LAST_QUERY_SETTINGS: dict[str, object] = {}


class _Parser:
    def __init__(
        self,
        tokens: list[str],
        tables: dict[str, DataFrame] | None = None,
    ):
        self.toks = tokens
        self.i = 0
        # execution context for subqueries: a nested (SELECT ...) is
        # planned inline against the same table env (lazily — no
        # action runs at parse time)
        self.tables = tables
        # classic-CH scalar WITH aliases (WITH expr AS name):
        # name -> expression node, substituted at bare-identifier use
        self.with_aliases: dict[str, _Node] = {}

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def peek_kw(self) -> str | None:
        t = self.peek()
        return t.lower() if t is not None else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError("unexpected end of query")
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t.lower() != tok.lower():
            raise ValueError(f"expected {tok!r}, got {t!r}")

    def capture_subquery(self) -> _Subq:
        """Slice out a parenthesized subquery's tokens WITHOUT planning
        it. The parser sits just past the opening paren (peek is its
        SELECT); on return it sits ON the matching close paren, which
        the caller consumes with expect(')')."""
        depth = 0
        j = self.i
        while j < len(self.toks):
            t = self.toks[j]
            if t == "(":
                depth += 1
            elif t == ")":
                if depth == 0:
                    break
                depth -= 1
            j += 1
        if j >= len(self.toks):
            raise ValueError("unterminated subquery")
        toks = tuple(self.toks[self.i : j])
        self.i = j
        return _Subq(toks, self.tables, dict(self.with_aliases))

    # expression grammar: or > and > comparison > additive > multiplicative > unary
    def parse_expr(self) -> _Node:
        return self.parse_or()

    def parse_or(self) -> _Node:
        left = self.parse_and()
        while self.peek_kw() == "or":
            self.next()
            left = _Node("bin", "or", (left, self.parse_and()))
        return left

    def parse_and(self) -> _Node:
        left = self.parse_cmp()
        while self.peek_kw() == "and":
            self.next()
            left = _Node("bin", "and", (left, self.parse_cmp()))
        return left

    def parse_cmp(self) -> _Node:
        left = self.parse_add()
        while True:
            if self.peek() in (">", "<", ">=", "<=", "=", "!=", "<>"):
                op = self.next()
                left = _Node("bin", op, (left, self.parse_add()))
                continue
            # GLOBAL is CH's distributed-execution modifier (ship the
            # right side to every shard); one logical cluster here, so
            # GLOBAL IN == IN — consume and proceed
            if self.peek_kw() == "global" and self.i + 1 < len(
                self.toks
            ) and self.toks[self.i + 1].lower() in ("in", "not"):
                self.next()
            if self.peek_kw() == "is":
                self.next()
                neg_null = False
                if self.peek_kw() == "not":
                    self.next()
                    neg_null = True
                self.expect("null")
                left = _Node(
                    "isnull", neg_null, (left,)
                )
                continue
            negate = False
            if (
                self.peek_kw() == "not"
                and self.i + 1 < len(self.toks)
                and self.toks[self.i + 1].lower()
                in ("in", "like", "ilike", "between")
            ):
                self.next()
                negate = True
            if self.peek_kw() == "between":
                # x [NOT] BETWEEN lo AND hi — bounds parse at additive
                # level so the AND is the range separator, not a
                # conjunction
                self.next()
                lo = self.parse_add()
                self.expect("and")
                hi = self.parse_add()
                rng_node = _Node(
                    "bin", "and",
                    (
                        _Node("bin", ">=", (left, lo)),
                        _Node("bin", "<=", (left, hi)),
                    ),
                )
                left = (
                    _Node("call", "not", (rng_node,)) if negate else rng_node
                )
                continue
            if self.peek_kw() == "in":
                self.next()
                left = self._parse_in(left, negate)
                continue
            if self.peek_kw() in ("like", "ilike"):
                ci = self.next().lower() == "ilike"
                pat = self.parse_add()
                left = _Node("like", (negate, ci), (left, pat))
                continue
            return left

    def _parse_in(self, left: _Node, negate: bool) -> _Node:
        """``x IN (v, ...)`` membership list, ``x IN (SELECT ...)``
        subquery membership (the binder's subquery awareness,
        ch/helpers.go:31), or ``x IN table_name`` — the S6 external/
        temp-table membership form (ch/stmt.go:143-151 substitutes the
        table NAME; the server reads the shipped block)."""
        if self.peek() == "(":
            self.next()
            if self.peek_kw() in ("select", "with"):
                sub = self.capture_subquery()
                self.expect(")")
                return _Node("in", ("subdf", negate, sub), (left,))
            items = [self.parse_expr()]
            while self.peek() == ",":
                self.next()
                items.append(self.parse_expr())
            self.expect(")")
            return _Node("in", ("list", negate), (left, *items))
        tname = self.next()
        return _Node("in", ("table", negate, tname), (left,))

    def parse_sort_item(self) -> tuple[_Node, bool, bool | None]:
        """One ORDER BY item: expr [ASC|DESC] [NULLS FIRST|LAST] —
        shared by the main ORDER BY clause and window specs."""
        node = self.parse_expr()
        desc = False
        if self.peek_kw() in ("asc", "desc"):
            desc = self.next().lower() == "desc"
        nulls_first: bool | None = None
        if self.peek_kw() == "nulls":
            self.next()
            placement = self.next().lower()
            if placement not in ("first", "last"):
                raise ValueError(
                    f"expected FIRST or LAST after NULLS, got {placement!r}"
                )
            nulls_first = placement == "first"
        return node, desc, nulls_first

    def _parse_over(self, call: _Node) -> _Node:
        """``fn(args) OVER ([PARTITION BY e, ...] [ORDER BY e [DESC]
        [NULLS FIRST|LAST], ...] [ROWS|RANGE BETWEEN lo AND hi])`` —
        the window-function surface (CH supports standard OVER since
        21.x). The window node carries ``value = (call_node,
        partition_node_tuple, sort_item_tuple, frame)`` with empty
        ``args``; each sort item is (node, desc, nulls_first); frame is
        None or ('rows'|'range', lo, hi) with bounds as signed ints
        (negative = preceding) or None for UNBOUNDED.

        ``OVER w`` (a named window from the WINDOW clause) yields a
        2-tuple ``(call, name)`` placeholder — _exec_select resolves
        it once the trailing WINDOW clause has been parsed."""
        self.next()  # OVER
        if self.peek() != "(":
            return _Node("window", (call, self.next()))
        self.expect("(")
        part, order, frame = self.parse_window_spec()
        self.expect(")")
        return _Node("window", (call, tuple(part), tuple(order), frame))

    def parse_window_spec(
        self,
    ) -> tuple[list, list, tuple | None]:
        """The inside of a window specification (shared by OVER (...)
        and the WINDOW clause): [PARTITION BY ...] [ORDER BY ...]
        [ROWS|RANGE frame]. Leaves the closing paren unconsumed."""
        part: list[_Node] = []
        order: list[tuple[_Node, bool, bool | None]] = []
        if self.peek_kw() == "partition":
            self.next()
            self.expect("by")
            part.append(self.parse_expr())
            while self.peek() == ",":
                self.next()
                part.append(self.parse_expr())
        if self.peek_kw() == "order":
            self.next()
            self.expect("by")
            while True:
                order.append(self.parse_sort_item())
                if self.peek() != ",":
                    break
                self.next()
        frame: tuple | None = None
        if self.peek_kw() in ("rows", "range"):
            mode = self.next().lower()

            def _bound(is_lo: bool) -> int | None:
                t = self.next().lower()
                if t == "unbounded":
                    side = self.next().lower()
                    if side not in ("preceding", "following"):
                        raise ValueError(f"bad frame bound {side!r}")
                    return None
                if t == "current":
                    self.expect("row")
                    return 0
                n = int(t)
                side = self.next().lower()
                if side == "preceding":
                    return -n
                if side == "following":
                    return n
                raise ValueError(f"bad frame bound {side!r}")

            if self.peek_kw() == "between":
                self.next()
                lo = _bound(True)
                self.expect("and")
                hi = _bound(False)
            else:
                lo = _bound(True)
                hi = 0  # single-bound form: bound AND CURRENT ROW
            frame = (mode, lo, hi)
        return part, order, frame

    def parse_add(self) -> _Node:
        left = self.parse_mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            left = _Node("bin", op, (left, self.parse_mul()))
        return left

    def parse_mul(self) -> _Node:
        left = self.parse_unary()
        while self.peek() in ("*", "/", "%"):
            op = self.next()
            left = _Node("bin", op, (left, self.parse_unary()))
        return left

    def parse_type_name(self) -> str:
        """A type name in CAST(x AS T) / x::T position: ANSI or CH
        spelling, DECIMAL with optional (p, s), normalized to the
        Spark cast name."""
        tname = self.next().lower()
        if tname == "decimal" and self.peek() == "(":
            self.next()
            prec = self.next()
            self.expect(",")
            scale = self.next()
            self.expect(")")
            tname = f"decimal({prec},{scale})"
        elif tname in ("nullable", "lowcardinality") and self.peek() == "(":
            # transparent wrappers: every Spark type is nullable, and
            # LowCardinality is a CH storage hint (dictionary encoding)
            # with no semantic effect — unwrap to the inner type
            self.next()
            inner = self.parse_type_name()
            self.expect(")")
            return inner
        elif tname == "array" and self.peek() == "(":
            self.next()
            inner = self.parse_type_name()
            self.expect(")")
            return f"array<{inner}>"
        elif tname == "map" and self.peek() == "(":
            self.next()
            ktype = self.parse_type_name()
            self.expect(",")
            vtype = self.parse_type_name()
            self.expect(")")
            return f"map<{ktype},{vtype}>"
        return _CAST_TYPES.get(tname, tname)

    def parse_unary(self) -> _Node:
        if self.peek() == "-":
            self.next()
            return _Node("bin", "-", (_Node("num", 0.0), self.parse_unary()))
        if self.peek_kw() == "not":
            self.next()
            return _Node("call", "not", (self.parse_unary(),))
        node = self.parse_primary()
        # postfix array indexing arr[i] (CH 1-based; negative = from
        # the end; 0 / out-of-range -> NULL via the arrayElement shim)
        while self.peek() in ("[", "::"):
            if self.peek() == "[":
                self.next()
                idx = self.parse_expr()
                self.expect("]")
                # string-literal subscript = map key lookup m['k'];
                # anything else stays 1-based array indexing. (The
                # Column layer is untyped pre-analysis, so an
                # int-keyed Map needs mapElement(m, k) spelled out.)
                if idx.kind == "str" and idx.value is not None:
                    node = _Node("call", "mapElement", (node, idx))
                else:
                    node = _Node("call", "arrayElement", (node, idx))
            else:
                # postfix cast operator x::T (CH and Postgres-style
                # spelling of CAST(x AS T))
                self.next()
                node = _Node("cast", self.parse_type_name(), (node,))
        return node

    def _parse_lambda_or_expr(self) -> _Node:
        """A function argument: a CH lambda ``x -> expr`` /
        ``(x, y) -> expr`` if the lookahead says so, else an ordinary
        expression. Lambdas only exist in argument position."""
        ident = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
        t = self.peek()
        # bare-param form: ident ->
        if (
            t is not None
            and ident.fullmatch(t)
            and self.toks[self.i + 1 : self.i + 2] == ["->"]
        ):
            param = self.next()
            self.next()  # ->
            return _Node("lambda", (param,), (self.parse_expr(),))
        # parenthesized params: (a, b) ->
        if t == "(":
            j = self.i + 1
            params: list[str] = []
            while (
                j < len(self.toks)
                and ident.fullmatch(self.toks[j])
            ):
                params.append(self.toks[j])
                if self.toks[j + 1 : j + 2] == [","]:
                    j += 2
                    continue
                break
            if (
                params
                and self.toks[j + 1 : j + 2] == [")"]
                and self.toks[j + 2 : j + 3] == ["->"]
            ):
                self.i = j + 3
                return _Node("lambda", tuple(params), (self.parse_expr(),))
        return self.parse_expr()

    def parse_primary(self) -> _Node:
        t = self.next()
        if t == "(":
            if self.peek_kw() in ("select", "with"):
                # scalar subquery: captured now, planned + materialized
                # to a literal at compile time (CH evaluates scalar
                # subqueries once server-side — same shape)
                sub = self.capture_subquery()
                self.expect(")")
                return _Node("scalar_subq", sub)
            inner = self.parse_expr()
            if self.peek() == ",":
                # tuple literal (a, b, ...) — CH row values; compiles
                # to a struct, so =/IN compare element-wise
                parts = [inner]
                while self.peek() == ",":
                    self.next()
                    parts.append(self.parse_expr())
                self.expect(")")
                return _Node("call", "tuple", tuple(parts))
            self.expect(")")
            return inner
        if t == "*":
            return _Node("star")
        if t == "[":
            # array literal [e1, e2, ...] (CH and DuckDB spelling) —
            # no clash with arr[i] indexing, which is postfix and
            # only fires when '[' FOLLOWS a primary
            elems: list[_Node] = []
            if self.peek() != "]":
                elems.append(self.parse_expr())
                while self.peek() == ",":
                    self.next()
                    elems.append(self.parse_expr())
            self.expect("]")
            return _Node("call", "array", tuple(elems))
        if t.lower() == "null":
            return _Node("str", None)  # typed-null literal (F.lit(None))
        if t.lower() == "exists" and self.peek() == "(":
            # EXISTS (SELECT ...): captured now. Uncorrelated form
            # materializes to a boolean literal at compile time
            # (limit-1 probe), like the scalar-subquery path; a
            # correlated form at WHERE-conjunct level is rewritten to
            # a semi/anti-join by _exec_select's WHERE handler.
            self.next()
            sub = self.capture_subquery()
            self.expect(")")
            return _Node("exists", sub)
        if t.lower() == "cast" and self.peek() == "(":
            # ANSI CAST(expr AS TYPE) — CH accepts it alongside its
            # to*() spellings; DECIMAL takes optional (p, s)
            self.next()
            inner = self.parse_expr()
            self.expect("as")
            spark_type = self.parse_type_name()
            self.expect(")")
            return _Node("cast", spark_type, (inner,))
        if t.lower() in ("date", "timestamp") and (
            self.peek() or ""
        ).startswith("'"):
            # typed literals DATE '...' / TIMESTAMP '...' — CH accepts
            # the ANSI spellings alongside toDate()/toDateTime()
            v = self.next()
            return _Node("cast", t.lower(), (_Node("str", v[1:-1]),))
        if t.lower() == "interval" and self.peek() is not None and (
            re.fullmatch(r"\d+", self.peek())
            or self.peek().startswith("'")
            or self.peek() == "-"
        ):
            # INTERVAL [-]n UNIT / INTERVAL 'n' UNIT (TPC-H spelling).
            # Quantity is a driver literal by definition in CH's
            # grammar for the typed-literal form.
            sign = 1
            if self.peek() == "-":
                self.next()
                sign = -1
            q = self.next()
            qv = q[1:-1] if q.startswith("'") else q
            if not re.fullmatch(r"-?\d+", qv):
                raise ValueError(f"INTERVAL quantity must be integral: {qv!r}")
            unit = self.next().lower().rstrip("s")
            if unit not in _INTERVAL_UNITS:
                raise ValueError(f"unknown INTERVAL unit {unit!r}")
            return _Node("interval", (sign * int(qv), unit))
        if (
            t.lower() == "extract"
            and self.peek() == "("
            and self.toks[self.i + 1 : self.i + 2]
            and self.toks[self.i + 1].lower() in _EXTRACT_PARTS
            and self.toks[self.i + 2 : self.i + 3]
            and self.toks[self.i + 2].lower() == "from"
        ):
            # ANSI EXTRACT(unit FROM x) — distinguished from CH's
            # regex extract(haystack, pattern) by the unit+FROM
            # lookahead; maps onto the to*() shims
            self.next()
            part = self.next().lower()
            self.next()  # from
            inner = self.parse_expr()
            self.expect(")")
            return _Node("call", _EXTRACT_PARTS[part], (inner,))
        if t.lower() in ("substring", "substr") and self.peek() == "(":
            # both spellings: substring(s, pos[, len]) and ANSI
            # substring(s FROM pos [FOR len]); a missing length means
            # to-end-of-string (CH 2-arg form)
            self.next()
            s = self.parse_expr()
            args = [s]
            if self.peek_kw() == "from":
                self.next()
                args.append(self.parse_expr())
                if self.peek_kw() == "for":
                    self.next()
                    args.append(self.parse_expr())
            else:
                while self.peek() == ",":
                    self.next()
                    args.append(self.parse_expr())
            self.expect(")")
            if len(args) not in (2, 3):
                raise ValueError("substring takes 2 or 3 arguments")
            return _Node("call", "substring", tuple(args))
        if t.lower() == "position" and self.peek() == "(":
            # ANSI position(needle IN haystack) alongside CH's
            # position(haystack, needle) — both compile to the same
            # (haystack, needle) shim order. The first argument parses
            # below the comparison level so a following IN reads as
            # the ANSI separator, not set membership.
            self.next()
            first = self.parse_add()
            if self.peek_kw() == "in":
                self.next()
                hay = self.parse_expr()
                self.expect(")")
                return _Node("call", "position", (hay, first))
            self.expect(",")
            needle = self.parse_expr()
            self.expect(")")
            return _Node("call", "position", (first, needle))
        if t.lower() == "trim" and self.peek() == "(":
            # TRIM([BOTH|LEADING|TRAILING] ['chars'] FROM x) | trim(x)
            self.next()
            mode = "trimBoth"
            saw_spec = False
            if self.peek_kw() in ("both", "leading", "trailing"):
                mode = {
                    "both": "trimBoth",
                    "leading": "trimLeft",
                    "trailing": "trimRight",
                }[self.peek_kw()]
                self.next()
                saw_spec = True
            chars: _Node | None = None
            if (self.peek() or "").startswith("'") and (
                self.toks[self.i + 1 : self.i + 2]
                and self.toks[self.i + 1].lower() == "from"
            ):
                chars = self.parse_primary()
                saw_spec = True
            if saw_spec:
                self.expect("from")
            inner = self.parse_expr()
            self.expect(")")
            args = (inner,) if chars is None else (inner, chars)
            return _Node("call", mode, args)
        if t.lower() == "case":
            # searched CASE (WHEN cond THEN v ...) and valued CASE
            # (CASE x WHEN v THEN r ... — each WHEN becomes x = v);
            # compiles onto the multiIf shim; a missing ELSE yields
            # NULL like SQL (multiIf requires the else arm, so one is
            # appended)
            operand = None
            if self.peek_kw() != "when":
                operand = self.parse_expr()
            args: list[_Node] = []
            while self.peek_kw() == "when":
                self.next()
                cond = self.parse_expr()
                if operand is not None:
                    cond = _Node("bin", "=", (operand, cond))
                self.expect("then")
                args.extend([cond, self.parse_expr()])
            if not args:
                raise ValueError("CASE requires at least one WHEN")
            if self.peek_kw() == "else":
                self.next()
                args.append(self.parse_expr())
            else:
                args.append(_Node("str", None))
            self.expect("end")
            return _Node("call", "multiIf", tuple(args))
        if t.startswith("'"):
            # both CH escape spellings: backslash (what the driver's
            # quote() emits, ch/helpers.go:133) and '' doubling.
            # Only \' and \\ unescape; any other \X stays verbatim so
            # regex patterns ('10\.0\.(\d+)') pass through intact.
            body = re.sub(
                r"\\(['\\])|''",
                lambda m: m.group(1) if m.group(1) is not None else "'",
                t[1:-1],
            )
            return _Node("str", body)
        if re.fullmatch(r"\d+", t):
            return _Node("num", int(t))
        if re.fullmatch(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?", t):
            return _Node("num", float(t))
        if self.peek() == "(":
            self.next()
            args = []
            # ANSI DISTINCT-qualified aggregate: count(DISTINCT x),
            # sum(DISTINCT x), ... — the fn name gets a __distinct
            # suffix resolved by dedicated shims (CH spells these
            # uniqExact/sumDistinct; both spellings work here)
            distinct_arg = False
            if (
                self.peek_kw() == "distinct"
                and self.toks[self.i + 1 : self.i + 2] != [")"]
            ):
                self.next()
                distinct_arg = True
            if self.peek() != ")":
                args.append(self._parse_lambda_or_expr())
                while self.peek() == ",":
                    self.next()
                    args.append(self._parse_lambda_or_expr())
            self.expect(")")
            fname = f"{t}__distinct" if distinct_arg else t
            call = _Node("call", fname, tuple(args))
            if (
                t.lower() in _PARAMETRIC_AGGS
                or (
                    t.lower().endswith("if")
                    and t.lower()[:-2] in _PARAMETRIC_AGGS
                )
                or t.lower().endswith("resample")
            ) and self.peek() == "(":
                # parametric aggregate fn(levels)(args): the first list
                # holds the quantile levels, the second the aggregated
                # expression — reordered to the shim signature
                # fn(arg, *levels)
                self.next()
                inner = [self.parse_expr()]
                while self.peek() == ",":
                    self.next()
                    inner.append(self.parse_expr())
                self.expect(")")
                call = _Node("call", t, tuple(inner) + tuple(args))
            if self.peek_kw() == "over":
                return self._parse_over(call)
            return call
        if self.peek() == ".":  # alias-qualified column (a.b) or a.*
            self.next()
            nxt = self.next()
            if nxt == "*":
                return _Node("star", t)  # qualified star: value = alias
            return _Node("col", f"{t}.{nxt}")
        if t in self.with_aliases:
            return self.with_aliases[t]
        return _Node("col", t)


# shim arg positions that must stay driver-literal strings (see the
# matching CH_FUNCTIONS lambdas: dateDiff's unit, split separators, and
# extract's pattern, whose capture-group count picks the output group)
_LITERAL_ARG_POSITIONS = {
    "datediff": {0},
    "datetrunc": {0},
    "date_trunc": {0},
    "formatdatetime": {1},
    "extractall": {1},
    "extracturlparameter": {1},
    "splitbychar": {0},
    "splitbystring": {0},
    "extract": {1},
    "arraystringconcat": {1},
    # JSON key is spliced into the Spark JSONPath — driver literal
    "jsonextractstring": {1},
    "jsonextractint": {1},
    "jsonextractfloat": {1},
    "jsonextractbool": {1},
    "jsonhas": {1},
    # trim character sets splice into a regex character class
    "trimboth": {1},
    "trimleft": {1},
    "trimright": {1},
    # date-part unit names (quoted spelling; the bare spelling is
    # coerced via _BARE_UNIT_ARG_POSITIONS below)
    "dateadd": {0},
    "datesub": {0},
    # arrayReduce's aggregate name selects the HOF rewrite driver-side
    "arrayreduce": {0},
    # round-6 tranche: format strings, separators, date-part names,
    # and decimal scales are driver literals by definition
    "format": {0},
    "concatwithseparator": {0},
    "datename": {0},
    "todecimal32": {1},
    "todecimal64": {1},
    # bar's width must size a driver-side literal array
    "bar": {3},
    # round-6b tranche: regex-spliced needles, literal sizes/modes/
    # formats, and JSONPath keys
    "hastoken": {1},
    "ngrams": {1},
    "toweek": {1},
    "tofixedstring": {1},
    "parsedatetime": {1},
    "formatdatetimeinjodasyntax": {1},
    "parsedatetimeinjodasyntax": {1},
    "parsedatetimeinjodasyntaxornull": {1},
    "totimezone": {1},
    "ilike": {1},
    "notilike": {1},
    "jsonlength": {1, 2},
    "jsontype": {1, 2},
    "jsonextractraw": {1, 2},
    "simplejsonextractstring": {1},
    "visitparamextractstring": {1},
    "mapcontainskeylike": {1},
    # round-6c tranche: unit names, regex patterns (group counts are
    # inspected driver-side), index/limit literals, max_unit caps
    "age": {0},
    "regexpextract": {1, 2},
    "extractgroups": {1},
    "splitbyregexp": {0, 2},
    "formatreadabletimedelta": {1},
    "translate": {1, 2},
    "translateutf8": {1, 2},
    # round-6e tranche: unit names, JSONPath/key literals
    "timestampadd": {0},
    "timestampsub": {0},
    "timestampdiff": {0},
    "jsonextractkeys": {1},
    "jsonextractarrayraw": {1},
    "json_value": {1},
    "json_query": {1},
    "simplejsonextractint": {1},
    "simplejsonextractuint": {1},
    "simplejsonextractfloat": {1},
    "simplejsonextractbool": {1},
    "simplejsonhas": {1},
    "simplejsonextractraw": {1},
    "visitparamextractint": {1},
    "visitparamextractuint": {1},
    "visitparamextractfloat": {1},
    "visitparamextractbool": {1},
    "visitparamhas": {1},
    "visitparamextractraw": {1},
    # round-6h tranche: pattern group counts drive the projection
    "extractallgroupshorizontal": {1},
    "extractallgroupsvertical": {1},
    # round-6i tranche: confidence/usevar and fence parameters
    "proportionsztest": {4, 5},
    "seriesoutliersdetecttukey": {1, 2, 3},
    # round-6k tranche: delimiter/count literals
    "substringindex": {1, 2},
    "substring_index": {1, 2},
    # round-7 tranche: geohash precision unlocks the static unrolled
    # encoder; Lp exponent, gram sizes / hash counts, and the A/B
    # sizing parameters are all plan literals by definition
    "geohashencode": {2},
    "lpnorm": {1},
    "ngramsimhash": {1},
    "wordshinglesimhash": {1},
    "ngramminhash": {1, 2},
    "wordshingleminhash": {1, 2},
    "minsamplesizeconversion": {0, 1, 2, 3},
    "minsamplesizecontinous": {0, 1, 2, 3, 4},
    "minsamplesizecontinuous": {0, 1, 2, 3, 4},
    # round-7b tranche: the decimal scale sets a format string, the
    # shingle length sizes the window
    "todecimalstring": {1},
    "arrayshingles": {1},
    # round-7d tranche: week-boundary modes pick the first weekday
    "tostartofweek": {1},
    "tolastdayofweek": {1},
}

# CH accepts BARE unit identifiers in these positions too —
# dateAdd(hour, 2, ts) — which the parser naturally reads as column
# refs; coerce a bare column node at these positions to its name
# string before compiling.
_BARE_UNIT_ARG_POSITIONS = {
    "dateadd": {0},
    "datesub": {0},
    "datediff": {0},
    "datetrunc": {0},
    "date_trunc": {0},
    "timestampadd": {0},
    "timestampsub": {0},
    "timestampdiff": {0},
}
_DATE_UNITS = {
    "year", "quarter", "month", "week", "day", "hour", "minute",
    "second", "millisecond", "microsecond",
}


def _is_timestamp(node: _Node) -> bool:
    return node.kind == "call" and node.value.lower() in (
        "now",
        "todatetime",
        "todate",
        "today",
    )


# --- mixed-distinct aggregation split (round 12, VERDICT r11 task 5)
# Catalyst plans a groupBy mixing DISTINCT aggregates with regular
# ones through RewriteDistinctAggregates: an Expand duplicates every
# input row per aggregate class and the partial aggregation is keyed
# by (group, distinct-arg) — so any BUFFER-backed partner aggregate
# (collect_list / percentile / HLL sketch state) is dragged through a
# per-(group, distinct-value) exchange. That is the scale-killer the
# r11 approx_distinct_and_quantiles fix removed for one query; the
# sets below let _exec_select apply the same split generically:
# distinct-aggregate select items are computed in a SIDE aggregation
# over the same group keys and joined back null-safely (eqNullSafe —
# a NULL group key is one group in GROUP BY, so the join must match
# it; plain equality would drop it). Equivalence: both aggregations
# see the identical input rows and identical grouping, so they
# produce the same group set exactly once each — an inner join on
# null-safe key equality is a bijection. HAVING / WITH TOTALS /
# ROLLUP / CUBE / grouping-sets queries are NOT split (HAVING may
# reference both aggregate classes in one expression; the modifier
# paths have their own union/grouping-id plumbing) — they keep the
# single-aggregation plan, which is also what their oracles replay.
_DISTINCT_AGG_FNS = {
    "count__distinct", "sum__distinct", "avg__distinct",
    "countdistinct", "sumdistinct", "avgdistinct",
    "uniqexact",
}
# partners whose aggregation state is a growing buffer (ObjectHash /
# typed-imperative class). min__distinct / max__distinct are absent
# from the distinct set on purpose: they compile to plain min/max.
_BUFFER_AGGS = {
    "grouparray", "groupuniqarray", "grouparraysorted",
    "grouparraylast", "grouparraymovingsum", "grouparraymovingavg",
    "groupconcat", "quantile", "quantileexact", "quantiles",
    "quantilesexact", "quantileexactlow", "quantileexacthigh",
    "quantiletiming", "quantiletdigest", "quantilebfloat16",
    "quantiledeterministic", "quantilegk", "quantileexactweighted",
    "quantilesexactweighted", "medianexact", "mediantiming",
    "mediantdigest", "medianbfloat16", "median", "topk",
    "topkweighted", "approx_top_k", "approx_top_count", "summap",
    "minmap", "maxmap", "histogram", "sparkbar", "uniq",
    "uniqcombined", "uniqcombined64", "uniqhll12", "uniqtheta",
}


def _calls_in(node: _Node, names: set[str]) -> bool:
    if node.kind == "call" and str(node.value).lower() in names:
        return True
    if node.kind in ("call", "bin", "in", "like", "isnull", "cast"):
        return any(_calls_in(a, names) for a in node.args)
    return False


def _contains_agg(node: _Node) -> bool:
    if node.kind == "call":
        ln = node.value.lower()
        if (
            ln in _AGGS
            or is_combinator_agg(str(node.value))
            or (ln.endswith("if") and ln[:-2] in _PARAMETRIC_AGGS)
        ):
            return True
        return any(_contains_agg(a) for a in node.args)
    if node.kind in ("bin", "in", "like", "isnull", "cast"):
        return any(_contains_agg(a) for a in node.args)
    return False


def _contains_scalar_subq(node: _Node) -> bool:
    if node.kind == "scalar_subq":
        return True
    return any(_contains_scalar_subq(a) for a in node.args)


def _is_const(node: _Node) -> bool:
    """True when the expression references no column (a literal or
    pure-function-of-literals select item, e.g. ``'total' AS tier`` in
    an aggregating UNION branch)."""
    if node.kind in ("col", "scalar_subq", "star", "window", "rawcol"):
        return False
    return all(_is_const(a) for a in node.args)


def _tuple_parts(n: _Node):
    """The element nodes of a tuple literal / tuple() call, else None."""
    if n.kind == "call" and str(n.value).lower() == "tuple":
        return n.args
    return None


# lambda-variable scopes, innermost last. Compilation is synchronous
# and driver-side (Spark's higher-order builders invoke the Python
# callback eagerly while the enclosing _compile frame is on the
# stack), so a module-level stack with push/pop in try/finally is
# race-free within a query build.
_LAMBDA_SCOPES: list[dict[str, Column]] = []

# CH higher-order array functions: lambda FIRST (CH argument order),
# mapped onto Spark's codegen'd higher-order builders
from ..functions.stats_tests import _let as _let_hof  # one binder


_HOF = {
    "arraymap": lambda fn, *arrs: (
        F.transform(arrs[0], fn)
        if len(arrs) == 1
        else F.zip_with(arrs[0], arrs[1], fn)
    ),
    "arrayfilter": lambda fn, arr: F.filter(arr, fn),
    "arrayexists": lambda fn, arr: F.exists(arr, fn),
    "arrayall": lambda fn, arr: F.forall(arr, fn),
    "arraycount": lambda fn, arr: F.size(F.filter(arr, fn)).cast("long"),
    "arrayfirst": lambda fn, arr: F.element_at(F.filter(arr, fn), 1),
    "arrayfirstindex": lambda fn, arr: F.coalesce(
        F.array_position(F.transform(arr, fn), True).cast("long"),
        F.lit(0).cast("long"),
    ),
    "arraylast": lambda fn, arr: F.element_at(
        F.filter(arr, fn), -1
    ),
    "arraylastindex": lambda fn, arr: _let_hof(
        F.array_position(
            F.reverse(F.transform(arr, fn)), True
        ).cast("long"),
        lambda p: F.when(
            F.coalesce(p, F.lit(0)) > 0, F.size(arr) - p + 1
        ).otherwise(F.lit(0)).cast("long"),
    ),
    "arraysum": lambda fn, arr: F.aggregate(
        F.transform(arr, fn),
        F.lit(0).cast("double"),
        lambda acc, x: acc + x,
    ),
    "arrayavg": lambda fn, arr: F.when(
        F.size(arr) > 0,
        F.aggregate(
            F.transform(arr, fn),
            F.lit(0).cast("double"),
            lambda acc, x: acc + x,
        )
        / F.size(arr),
    ),
    # arrayFold((acc, x) -> ..., arr, init): CH's explicit fold
    "arrayfold": lambda fn, arr, init: F.aggregate(arr, init, fn),
    # arraySort(x -> key, arr): sort by the lambda's key — pack
    # (key, value) structs, sort lexicographically, unpack. The
    # reverse variant flips the sorted order (CH sorts by key desc).
    "arraysort": lambda fn, arr: F.transform(
        F.array_sort(
            F.transform(
                arr, lambda x: F.struct(fn(x).alias("k"), x.alias("v"))
            )
        ),
        lambda p: p["v"],
    ),
    "arrayreversesort": lambda fn, arr: F.reverse(
        F.transform(
            F.array_sort(
                F.transform(
                    arr,
                    lambda x: F.struct(fn(x).alias("k"), x.alias("v")),
                )
            ),
            lambda p: p["v"],
        )
    ),
    # Map higher-order functions: CH lambda takes (k, v)
    "mapfilter": lambda fn, m: F.map_filter(m, fn),
    # mapApply's lambda returns tuple(k2, v2) — a 2-field struct here
    "mapapply": lambda fn, m: F.map_from_entries(
        F.transform(
            F.map_entries(m), lambda e: fn(e["key"], e["value"])
        )
    ),
    "mapexists": lambda fn, m: F.size(F.map_filter(m, fn)) > 0,
    "mapall": lambda fn, m: F.size(
        F.map_filter(m, lambda k, v: ~fn(k, v))
    )
    == 0,
    # round-6h fill/split scans. The empty accumulators are sliced
    # off the INPUT (F.slice(arr, 1, 0)) so their element types match
    # without knowing them statically.
    "arrayfill": lambda fn, arr: F.aggregate(
        arr,
        F.slice(arr, 1, 0),
        lambda acc, e: F.concat(
            acc,
            F.array(
                F.when(
                    fn(e) | (F.size(acc) == 0), e
                ).otherwise(F.element_at(acc, -1))
            ),
        ),
    ),
    "arrayreversefill": lambda fn, arr: F.reverse(
        F.aggregate(
            F.reverse(arr),
            F.slice(arr, 1, 0),
            lambda acc, e: F.concat(
                acc,
                F.array(
                    F.when(
                        fn(e) | (F.size(acc) == 0), e
                    ).otherwise(F.element_at(acc, -1))
                ),
            ),
        )
    ),
    "arraysplit": lambda fn, *arrs: _hof_split(fn, False, *arrs),
    "arrayreversesplit": lambda fn, *arrs: _hof_split(fn, True, *arrs),
}


def _hof_split(fn, after: bool, *arrs) -> Column:
    """CH arraySplit / arrayReverseSplit: cut the array before
    (after, for the Reverse form) every element whose flag is true;
    a true flag on the first (last) element opens no empty piece."""
    arr = arrs[0]
    flags = (
        F.transform(arr, fn)
        if len(arrs) == 1
        else F.zip_with(arrs[0], arrs[1], fn)
    )

    def build(pair: Column) -> Column:
        a, fl = pair["a"], pair["f"]
        n = F.size(a)
        folded = F.aggregate(
            F.sequence(F.lit(1), n),
            F.struct(
                F.slice(F.array(a), 1, 0).alias("out"),
                F.slice(a, 1, 0).alias("cur"),
            ),
            lambda acc, i: _hof_split_step(acc, i, a, fl, after),
        )
        return F.when(
            n > 0,
            F.concat(folded["out"], F.array(folded["cur"])),
        ).otherwise(F.slice(F.array(a), 1, 0))

    return F.element_at(
        F.transform(
            F.array(F.struct(arr.alias("a"), flags.alias("f"))),
            build,
        ),
        1,
    )


def _hof_split_step(acc, i, a, fl, after: bool):
    e = F.element_at(a, i)
    # CH lambdas return UInt8 flags; Spark comparisons return
    # booleans — accept both
    flag = F.element_at(fl, i).cast("boolean")
    if after:
        # close the current piece AFTER a flagged element
        return F.struct(
            F.when(
                flag & (i < F.size(a)),
                F.concat(
                    acc["out"],
                    F.array(F.concat(acc["cur"], F.array(e))),
                ),
            )
            .otherwise(acc["out"])
            .alias("out"),
            F.when(flag & (i < F.size(a)), F.slice(a, 1, 0))
            .otherwise(F.concat(acc["cur"], F.array(e)))
            .alias("cur"),
        )
    # cut BEFORE a flagged element (except the first)
    return F.struct(
        F.when(
            flag & (i > 1),
            F.concat(acc["out"], F.array(acc["cur"])),
        )
        .otherwise(acc["out"])
        .alias("out"),
        F.when(flag & (i > 1), F.array(e))
        .otherwise(F.concat(acc["cur"], F.array(e)))
        .alias("cur"),
    )


# ANSI EXTRACT(part FROM x) -> the equivalent to*() shim name
_EXTRACT_PARTS = {
    "year": "toYear", "quarter": "toQuarter", "month": "toMonth",
    "week": "toISOWeek", "day": "toDayOfMonth", "hour": "toHour",
    "minute": "toMinute", "second": "toSecond",
    "epoch": "toUnixTimestamp",
}

# CH interval units → (spark unit, multiplier). QUARTER/WEEK are CH
# units Spark's ANSI interval literals lack — normalized to MONTH/DAY.
_INTERVAL_UNITS = {
    "year": ("YEAR", 1), "quarter": ("MONTH", 3), "month": ("MONTH", 1),
    "week": ("DAY", 7), "day": ("DAY", 1), "hour": ("HOUR", 1),
    "minute": ("MINUTE", 1), "second": ("SECOND", 1),
}


def _compile(node: _Node, env: dict[str, DataFrame] | None = None) -> Column:
    if node.kind == "num":
        return F.lit(node.value)
    if node.kind == "interval":
        n, unit = node.value
        sunit, mult = _INTERVAL_UNITS[unit]
        return F.expr(f"INTERVAL '{n * mult}' {sunit}")
    if node.kind == "str":
        return F.lit(node.value)
    if node.kind == "rawcol":
        # a pre-built Column spliced into the tree (the decorrelated
        # scalar-subquery value attached by the SELECT-item rewriter)
        return node.value
    if node.kind == "col":
        name = str(node.value)
        if "." not in name:
            for scope in reversed(_LAMBDA_SCOPES):
                if name in scope:
                    return scope[name]
        return F.col(node.value)
    if node.kind == "star":
        return F.lit(1)  # only valid inside count(*)
    if node.kind == "scalar_subq":
        # one-row-one-column subquery result as a literal (the collect
        # is a driver round-trip over a single value, like CH's own
        # scalar-subquery materialization). More than one row is an
        # error, as in ClickHouse — an unordered first() would pick an
        # arbitrary partition's row nondeterministically.
        if node.memo is None:
            rows = _plan_subq(node.value).limit(2).collect()
            if len(rows) > 1:
                raise ValueError("scalar subquery returned more than one row")
            node.memo = (None if not rows else rows[0][0],)
        return F.lit(node.memo[0])
    if node.kind == "cast":
        return _compile(node.args[0], env).cast(str(node.value))
    if node.kind == "exists":
        if node.memo is None:
            node.memo = len(_plan_subq(node.value).limit(1).collect()) > 0
        return F.lit(node.memo)
    if node.kind == "window":
        # fn(args) OVER (...): ranking/offset functions map to their
        # Spark builders; anything else (sum/avg/count/...) compiles as
        # the shimmed expression applied .over() the spec. Window
        # evaluation happens in the PROJECTION (never the groupBy
        # branch — _contains_agg does not descend into window nodes),
        # matching SQL's window-after-aggregation placement for the
        # non-grouped queries this dialect runs.
        if len(node.value) == 2:
            raise ValueError(
                f"named window {node.value[1]!r} has no WINDOW clause "
                "definition in this SELECT's scope"
            )
        from pyspark.sql import Window as W

        call, part, order, frame = node.value
        wname = str(call.value).lower()
        ranking = {
            "row_number": F.row_number,
            "rank": F.rank,
            "dense_rank": F.dense_rank,
        }
        ranking.update(
            {"percent_rank": F.percent_rank, "cume_dist": F.cume_dist}
        )
        if wname in ranking:
            col = ranking[wname]()
        elif wname == "ntile":
            col = F.ntile(int(call.args[0].value))
        elif wname in ("first_value", "last_value"):
            fn = F.first if wname == "first_value" else F.last
            col = fn(_compile(call.args[0], env))
        elif wname == "nth_value":
            col = F.nth_value(
                _compile(call.args[0], env),
                int(_literal_value(call.args[1])),
            )
        elif wname in ("lag", "lead", "laginframe", "leadinframe"):
            # lagInFrame/leadInFrame are CH's frame-respecting
            # spellings; Spark's lag/lead are already frame-agnostic
            # offsets over the ordered partition, which coincides for
            # the default full frame these map to
            base = _compile(call.args[0], env)
            off = int(_literal_value(call.args[1])) if len(call.args) > 1 else 1
            fn = F.lag if wname.startswith("lag") else F.lead
            if len(call.args) > 2:
                col = fn(base, off, _literal_value(call.args[2]))
            else:
                col = fn(base, off)
        elif wname == "nonnegativederivative":
            col = None  # composite of two lags — built after the spec
        else:
            col = _compile(call, env)
        spec = W.partitionBy(*[_compile(pn, env) for pn in part])
        if order:
            spec = spec.orderBy(
                *[
                    _sort_col(_compile(on, env), d, nf)
                    for on, d, nf in order
                ]
            )
        if frame is not None:
            # explicit ROWS/RANGE frame; bounds are signed offsets
            # (None = unbounded). Without one, Spark's implicit frame
            # (RANGE UNBOUNDED PRECEDING..CURRENT ROW when ordered)
            # already matches the CH/ANSI default.
            mode, lo, hi = frame
            if not order:
                raise ValueError("a window frame requires ORDER BY")
            lo_v = W.unboundedPreceding if lo is None else lo
            hi_v = W.unboundedFollowing if hi is None else hi
            spec = (
                spec.rowsBetween(lo_v, hi_v)
                if mode == "rows"
                else spec.rangeBetween(lo_v, hi_v)
            )
        if col is None:
            # CH nonNegativeDerivative(metric, ts[, INTERVAL n unit]):
            # clamped finite-difference rate over the window order —
            # per second by default, scaled to the interval if given.
            # The first row of a partition (no predecessor) yields 0,
            # as does any negative rate.
            v = _compile(call.args[0], env).cast("double")
            # fractional epoch seconds; NTZ timestamps don't cast to
            # double directly, so ride unix_micros
            t = (
                F.unix_micros(
                    _compile(call.args[1], env).cast("timestamp")
                ).cast("double")
                / 1e6
            )
            mult = 1.0
            if len(call.args) > 2:
                inode = call.args[2]
                if inode.kind != "interval":
                    raise ValueError(
                        "nonNegativeDerivative takes "
                        "(metric, ts[, INTERVAL n unit])"
                    )
                qty, unit = inode.value
                secs = {
                    "second": 1, "minute": 60, "hour": 3600,
                    "day": 86400, "week": 604800,
                }.get(str(unit).lower())
                if secs is None:
                    raise ValueError(
                        f"nonNegativeDerivative unit {unit!r} must be "
                        "a fixed-length unit (second..week)"
                    )
                mult = float(qty) * secs
            dv = v - F.lag(v, 1).over(spec)
            dt = t - F.lag(t, 1).over(spec)
            # equal timestamps yield 0 (documented; an ANSI
            # divide-by-zero otherwise — CH emits inf there)
            rate = F.when(dt != 0, dv / dt * F.lit(mult))
            return F.coalesce(
                F.greatest(rate, F.lit(0.0)), F.lit(0.0)
            )
        return col.over(spec)
    if node.kind == "isnull":
        c = _compile(node.args[0], env)
        return c.isNotNull() if node.value else c.isNull()
    if node.kind == "like":
        c = _compile(node.args[0], env)
        pat = node.args[1]
        negate, ci = node.value
        if pat.kind != "str":
            raise ValueError("LIKE pattern must be a string literal")
        if pat.value is None:
            # LIKE NULL is NULL (CH/SQL ternary) — never matches
            return F.lit(None).cast("boolean")
        res = c.ilike(str(pat.value)) if ci else c.like(str(pat.value))
        return ~res if negate else res
    if node.kind == "in":
        left = _compile(node.args[0], env)
        form, negate = node.value[0], node.value[1]
        if form == "subdf":
            # IN (SELECT ...): CH materializes the IN set in memory
            # (the max_rows_in_set guard bounds it); collecting the
            # subquery's columns mirrors that set build, and the
            # MAX_ROWS_IN_SET cap plays the guard's role here. A
            # row-value left side — (a, b) IN (SELECT x, y ...) —
            # matches element-wise against each collected row.
            lt = _tuple_parts(node.args[0])
            width = 1 if lt is None else len(lt)
            if node.memo is None:
                sub = _plan_subq(node.value[2])
                if len(sub.columns) != width:
                    raise ValueError(
                        f"IN subquery selects {len(sub.columns)} "
                        f"columns for a {width}-wide left side"
                    )
                cap = MAX_ROWS_IN_SET if lt is None else 1000
                rows = sub.limit(cap + 1).collect()
                if len(rows) > cap:
                    raise ValueError(
                        "IN (SELECT ...) set exceeds "
                        + (
                            f"max_rows_in_set={MAX_ROWS_IN_SET}"
                            if lt is None
                            else "the 1000-row bound for row-value "
                            "sets (each row expands to an equality "
                            "conjunction in the plan — rewrite as a "
                            "correlated IN / semi-join for more)"
                        )
                    )
                node.memo = (
                    [r[0] for r in rows]
                    if lt is None
                    else [tuple(r) for r in rows]
                )
            vals = node.memo
            if lt is not None:
                lcols = [_compile(x, env) for x in lt]
                cond = F.lit(False)
                for row in vals:
                    eq = F.lit(True)
                    for c, v in zip(lcols, row):
                        eq = eq & (c == F.lit(v))
                    cond = cond | eq
            else:
                cond = left.isin(vals) if vals else F.lit(False)
            return ~cond if negate else cond
        if form == "list":
            items = node.args[1:]
            lt = _tuple_parts(node.args[0])
            if lt is not None:
                # (a, b) IN ((..), ..): element-wise equality chains —
                # struct equality would demand exact field types, this
                # gets ordinary numeric coercion per element
                cond = F.lit(False)
                for a in items:
                    at = _tuple_parts(a)
                    if at is None or len(at) != len(lt):
                        raise ValueError(
                            "IN list member arity does not match the "
                            "tuple on the left"
                        )
                    eq = F.lit(True)
                    for x, y in zip(lt, at):
                        eq = eq & (_compile(x, env) == _compile(y, env))
                    cond = cond | eq
            elif all(a.kind in ("num", "str") for a in items):
                cond = left.isin([a.value for a in items])
            else:  # computed members -> equality chain
                cond = F.lit(False)
                for a in items:
                    cond = cond | (left == _compile(a, env))
        else:
            # IN external/temp table (S6): membership in the table's
            # FIRST column. External tables are client-shipped
            # in-memory blocks (ch/clickhouse_send_external_data.go:5-35)
            # — collecting the values driver-side moves exactly the
            # data the reference already holds in client RAM.
            tname = node.value[2]
            if env is None or tname not in env:
                raise ValueError(f"unknown table in IN: {tname!r}")
            if node.memo is None:
                ext = env[tname]
                node.memo = [
                    r[0] for r in ext.select(ext.columns[0]).collect()
                ]
            cond = left.isin(node.memo)
        return ~cond if negate else cond
    if node.kind == "lambda":
        raise ValueError(
            "a lambda is only valid as a higher-order function argument"
        )
    if node.kind == "call":
        name = node.value
        lname = name.lower()
        if lname == "not":
            return ~_compile(node.args[0], env)
        if lname == "count" and not node.args:
            # CH zero-arg count() == count(*)
            return F.count(F.lit(1))
        if lname == "count" and node.args and node.args[0].kind == "star":
            return F.count(F.lit(1))
        if node.args and node.args[0].kind == "lambda":
            hof = _HOF.get(lname)
            if hof is None:
                raise ValueError(
                    f"{name!r} does not take a lambda argument"
                )
            lnode = node.args[0]
            params = lnode.value

            def _bind(cols: tuple) -> Column:
                _LAMBDA_SCOPES.append(dict(zip(params, cols)))
                try:
                    return _compile(lnode.args[0], env)
                finally:
                    _LAMBDA_SCOPES.pop()

            # Spark's higher-order builders inspect the callable's
            # POSITIONAL arity — build a wrapper of the declared arity
            if len(params) == 1:
                fn = lambda x: _bind((x,))  # noqa: E731
            elif len(params) == 2:
                fn = lambda x, y: _bind((x, y))  # noqa: E731
            else:
                raise ValueError("lambdas take 1 or 2 parameters")
            arrs = [_compile(a, env) for a in node.args[1:]]
            return hof(fn, *arrs)
        if lname == "sequencenextnode":
            # sequenceNextNode(direction, base)(ts, event_col,
            # base_cond, event1, ...) — the parser appends the two
            # string params after the inner args
            from ..functions import funnel as _funnel

            if len(node.args) < 6:
                raise ValueError(
                    "sequenceNextNode takes (direction, base)"
                    "(ts, event_column, base_condition, event1, ...)"
                )
            *inner, dnode, bnode = node.args
            if dnode.kind != "str" or bnode.kind != "str":
                raise ValueError(
                    "sequenceNextNode direction/base must be string "
                    "literals"
                )
            ts = _compile(inner[0], env)
            val = _compile(inner[1], env)
            bc = _compile(inner[2], env)
            conds = [_compile(c, env) for c in inner[3:]]
            return _funnel.sequence_next_node(
                str(dnode.value), str(bnode.value), ts, val, bc, *conds
            )
        if lname in ("windowfunnel", "sequencematch", "sequencecount"):
            # behavioral-analytics aggregates: fn(param)(ts, conds...)
            # — the parser appends the single param AFTER the inner
            # args, so it rides last. window is a numeric literal,
            # sequence patterns are string literals compiled to a
            # regex over bitmap characters (functions/funnel.py).
            from ..functions import funnel as _funnel

            if len(node.args) < 3:
                raise ValueError(
                    f"{node.value} takes (param)(ts, cond1, ...)"
                )
            *inner, param = node.args
            ts = _compile(inner[0], env)
            conds = [_compile(c, env) for c in inner[1:]]
            if lname == "windowfunnel":
                return _funnel.window_funnel(
                    int(_literal_value(param)), ts, *conds
                )
            if param.kind != "str":
                raise ValueError(
                    f"{node.value} pattern must be a string literal"
                )
            seq_fn = (
                _funnel.sequence_match
                if lname == "sequencematch"
                else _funnel.sequence_count
            )
            return seq_fn(str(param.value), ts, *conds)
        if lname.endswith("resample") and len(node.args) in (4, 5):
            # <agg>Resample(start, end, step)(x, key): the parser
            # appends the three params after the inner columns.
            # countResample(start, end, step)(key) is the one-column
            # CH spelling — the key doubles as the counted column.
            from ..functions.ch_compat import build_resample

            if len(node.args) == 4:
                if lname != "countresample":
                    raise ValueError(
                        f"{node.value} takes (start, end, step)(x, key)"
                    )
                key = _compile(node.args[0], env)
                x = key
                pstart = 1
            else:
                x = _compile(node.args[0], env)
                key = _compile(node.args[1], env)
                pstart = 2
            s, e2, st = (
                _literal_value(node.args[pstart]),
                _literal_value(node.args[pstart + 1]),
                _literal_value(node.args[pstart + 2]),
            )
            return build_resample(name, x, key, s, e2, st)
        if lname in ("accuratecast", "accuratecastornull"):
            # accurateCast(x, 'Type'): ANSI cast (errors on overflow —
            # CH's contract); the OrNull form maps to try_cast. The
            # type text re-parses through the CAST type grammar, so
            # Array(...)/Map(...)/Nullable(...) spellings all work.
            if len(node.args) != 2 or node.args[1].kind != "str":
                raise ValueError(
                    f"{node.value} takes (x, 'Type') with a literal "
                    "type name"
                )
            ptype = _Parser(
                _tokenize(str(node.args[1].value))
            ).parse_type_name()
            inner = _compile(node.args[0], env)
            return (
                inner.try_cast(ptype)
                if lname == "accuratecastornull"
                else inner.cast(ptype)
            )
        if lname == "tupleelement":
            # tupleElement(t, n) / tupleElement(t, 'name'): positional
            # access constant-folds against a literal tuple's AST;
            # otherwise n resolves against the struct's field NAMES —
            # the map-family aggregates (sumMap/minMap/maxMap) name
            # their fields "1"/"2" exactly so this works.
            if len(node.args) != 2:
                raise ValueError(
                    "tupleElement takes (tuple, index-or-name)"
                )
            tnode, inode = node.args
            if inode.kind == "num":
                n = int(inode.value)
                if (
                    tnode.kind == "call"
                    and str(tnode.value).lower() == "tuple"
                ):
                    if not 1 <= n <= len(tnode.args):
                        raise ValueError(
                            f"tupleElement index {n} out of range "
                            f"for a {len(tnode.args)}-tuple"
                        )
                    return _compile(tnode.args[n - 1], env)
                return _compile(tnode, env).getField(str(n))
            if inode.kind == "str":
                return _compile(tnode, env).getField(str(inode.value))
            raise ValueError(
                "tupleElement index must be a literal number or name"
            )
        fn = (
            CH_FUNCTIONS.get(name)
            or CH_FUNCTIONS.get(lname)
            or resolve_agg_combinator(name)
        )
        # parametric-If: quantileIf(0.5)(x, cond), topKIf(k)(x, cond),
        # quantileExactWeightedIf(l)(x, w, cond)... — the -If mask
        # composes with the parametric families by NULL-masking every
        # inner column with the trailing condition (the last inner
        # arg), then dispatching to the stem aggregate
        masked_if = False
        _IF_MASKABLE = lambda st: (  # noqa: E731
            st.startswith("quantile")
            or st in (
                "topk", "topkweighted", "uniqupto", "median",
                "grouparraysorted", "grouparraylast",
                "grouparraysample",
            )
        )
        if (
            fn is None
            and lname.endswith("if")
            and lname[:-2] in _PARAMETRIC_AGGS
            and _IF_MASKABLE(lname[:-2])
        ):
            stem = name[:-2]
            fn = CH_FUNCTIONS.get(stem) or CH_FUNCTIONS.get(
                lname[:-2]
            )
            if fn is not None:
                masked_if = True
                lname = lname[:-2]
        if fn is None:
            raise ValueError(f"unknown function {name!r}")
        if lname == "quantiledeterministic" and len(node.args) >= 2:
            # quantileDeterministic(q)(x, det): the determinism key is
            # the SECOND inner arg, not a level — accepted and ignored
            # (GK percentile_approx is already order-independent, the
            # property the key exists to provide in CH's reservoir)
            first = _compile(node.args[0], env)
            levels = [float(_literal_value(a)) for a in node.args[2:]]
            return fn(first, None, *(levels or ()))
        if lname in (
            "topkweighted", "largesttrianglethreebuckets", "lttb",
            "exponentialmovingaverage", "sparkbar", "mannwhitneyutest",
            "studentttest", "welchttest", "kolmogorovsmirnovtest",
            "histogram", "groupconcat", "meanztest",
            "exponentialtimedecayedsum", "exponentialtimedecayedcount",
            "exponentialtimedecayedmax", "exponentialtimedecayedavg",
            "quantileexactweighted", "quantilesexactweighted",
            "summapfiltered",
            "grouparraysample", "quantileinterpolatedweighted",
            "quantiletimingweighted", "quantilestimingweighted",
            "quantiletdigestweighted",
        ) and len(node.args) >= 2:
            # multi-COLUMN parametric aggregates — the generic branch
            # below would read the second column as a level. The
            # parser appends the fn(params)(cols) params AFTER the
            # inner columns; split on the trailing run of bare
            # literals so each shim gets (cols..., params...)
            split = len(node.args)
            while split > 1 and node.args[split - 1].kind in (
                "str", "num"
            ):
                split -= 1
            cols = [_compile(a, env) for a in node.args[:split]]
            lits = [_literal_value(a) for a in node.args[split:]]
            if masked_if:
                *vals, cond = cols
                cols = [F.when(cond, v) for v in vals]
            return fn(*cols, *lits)
        if lname in _PARAMETRIC_AGGS and len(node.args) > 1:
            # quantile levels ride as trailing literal args — Spark's
            # percentile functions need foldable levels, so they pass
            # through as Python floats, not lit Columns
            if masked_if:
                cond = _compile(node.args[1], env)
                first = F.when(cond, _compile(node.args[0], env))
                levels = [
                    float(_literal_value(a)) for a in node.args[2:]
                ]
                return fn(first, *levels)
            first = _compile(node.args[0], env)
            levels = [float(_literal_value(a)) for a in node.args[1:]]
            return fn(first, *levels)
        if lname == "tostartofinterval":
            # toStartOfInterval(ts, INTERVAL n unit): the interval is
            # part of the call's syntax, not a value — unpack it here
            if len(node.args) != 2 or node.args[1].kind != "interval":
                raise ValueError(
                    "toStartOfInterval takes (expr, INTERVAL n unit)"
                )
            qty, unit = node.args[1].value
            return fn(_compile(node.args[0], env), int(qty), unit)
        # some shims need DRIVER-LITERAL arguments (a date-part name, a
        # split separator, a regex whose group count must be inspected)
        # — pass string literals at those positions through as Python
        # strings instead of Columns
        literal_pos = _LITERAL_ARG_POSITIONS.get(lname, ())
        bare_pos = _BARE_UNIT_ARG_POSITIONS.get(lname, ())

        def _neg_num(a: _Node) -> bool:
            # unary minus parses as (0 - n); a negative literal in a
            # driver-literal position must still pass as text
            return (
                a.kind == "bin"
                and a.value == "-"
                and a.args[0].kind == "num"
                and a.args[0].value in (0, 0.0)
                and a.args[1].kind == "num"
            )

        args = [
            str(_literal_value(a))
            if i in literal_pos and _neg_num(a)
            else str(a.value)
            if (
                i in literal_pos
                and a.kind in ("str", "num")
                and a.value is not None
            ) or (
                i in bare_pos
                and a.kind == "col"
                and str(a.value).lower() in _DATE_UNITS
            )
            else _compile(a, env)
            for i, a in enumerate(node.args)
        ]
        if lname in _HASH_BYTE_FNS:
            # Byte-exact hash family: attach each argument's
            # AST-known identity (literal / bare column / computed)
            # so the builders pick CH's numeric-layout path from the
            # parse tree, never from Column reprs (a literal string
            # prints exactly like a column ref — ADVICE r9).
            from ..functions.ch_compat import resolve_hash_arg

            def _mark(col, anode):
                if anode.kind in ("str", "num") or _neg_num(anode):
                    return resolve_hash_arg(col, literal=True)
                if anode.kind == "col":
                    nm = str(anode.value)
                    if "." not in nm and not any(
                        nm in s for s in _LAMBDA_SCOPES
                    ):
                        return resolve_hash_arg(col, bare_name=nm)
                    # table-qualified column (cityHash64(e.user_id)):
                    # when the qualifier is a table/alias of THIS
                    # query's env, the dtype resolves against THAT
                    # table's schema — the qualifier fully
                    # disambiguates, so the globally ambiguity-dropped
                    # map must not veto it (ADVICE r10); a dotted name
                    # whose head is NOT a relation (struct field
                    # access) stays on the probe/fallback path
                    parts = nm.split(".")
                    if (
                        len(parts) == 2
                        and env
                        and parts[0] in env
                        and not any(
                            parts[0] in s for s in _LAMBDA_SCOPES
                        )
                    ):
                        _tdt = {
                            f.name: f.dataType.simpleString()
                            for f in env[parts[0]].schema.fields
                        }.get(parts[1])
                        if _tdt is not None:
                            return resolve_hash_arg(col, dtype=_tdt)
                        return resolve_hash_arg(
                            col, bare_name=parts[1]
                        )
                return resolve_hash_arg(col)

            args = [
                _mark(a, node.args[i]) if isinstance(a, Column) else a
                for i, a in enumerate(args)
            ]
        return fn(*args)
    if node.kind == "bin":
        op = node.value
        ln, rn = node.args
        if op in ("=", "!=", "<>"):
            ta, tb = _tuple_parts(ln), _tuple_parts(rn)
            if ta is not None and tb is not None:
                if len(ta) != len(tb):
                    raise ValueError("tuple comparison arity mismatch")
                eq = F.lit(True)
                for x, y in zip(ta, tb):
                    eq = eq & (_compile(x, env) == _compile(y, env))
                return eq if op == "=" else ~eq
        left, right = _compile(ln, env), _compile(rn, env)
        # CH DateTime +/- integer = seconds arithmetic
        if op in ("+", "-") and _is_timestamp(ln) and rn.kind == "num":
            iv = F.make_dt_interval(secs=F.lit(rn.value))
            return left + iv if op == "+" else left - iv
        return {
            "and": lambda: left & right,
            "or": lambda: left | right,
            "+": lambda: left + right,
            "-": lambda: left - right,
            "*": lambda: left * right,
            "/": lambda: left / right,
            "%": lambda: left % right,
            ">": lambda: left > right,
            "<": lambda: left < right,
            ">=": lambda: left >= right,
            "<=": lambda: left <= right,
            "=": lambda: left == right,
            "!=": lambda: left != right,
            "<>": lambda: left != right,
        }[op]()
    raise ValueError(f"cannot compile node {node!r}")


def _literal_value(node: _Node):
    """Driver-side value of a LITERAL parse node — num/str directly,
    plus the unary-minus shape (``-1`` parses as ``0 - num``). Anything
    else is a clear error rather than a silently-wrong literal."""
    if node.kind in ("num", "str"):
        return node.value
    if (
        node.kind == "bin"
        and node.value == "-"
        and node.args[0].kind == "num"
        and node.args[0].value in (0, 0.0)
        and node.args[1].kind == "num"
    ):
        return -node.args[1].value
    raise ValueError(
        "expected a literal argument (number or string), got an expression"
    )


def _sort_col(c: Column, desc: bool, nulls_first: bool | None) -> Column:
    """Directional sort column with CH null placement: NULLS LAST by
    default in BOTH directions (ClickHouse and DuckDB defaults), unlike
    Spark's asc()=nulls-first — explicit NULLS FIRST/LAST overrides."""
    nf = bool(nulls_first)
    if desc:
        return c.desc_nulls_first() if nf else c.desc_nulls_last()
    return c.asc_nulls_first() if nf else c.asc_nulls_last()


# ANSI CAST type-name -> Spark type-name (pass-through for names that
# already coincide: date, timestamp, boolean, string, decimal(p,s))
_CAST_TYPES = {
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "smallint": "short",
    "tinyint": "byte",
    "double": "double",
    "float": "float",
    "real": "float",
    "varchar": "string",
    "text": "string",
    "bool": "boolean",
    # ClickHouse type names (CAST(x AS Int64) / x::Int64). Unsigned
    # widths widen to the next signed Spark type; UInt64 maps to long
    # with the same two's-complement reinterpretation the engine's
    # cast_to_uint parity path (plans/baseline.py) documents.
    "int64": "long",
    "int32": "int",
    "int16": "short",
    "int8": "byte",
    "uint8": "short",
    "uint16": "int",
    "uint32": "long",
    "uint64": "long",
    "float64": "double",
    "float32": "float",
    "datetime": "timestamp",
}


# words that terminate a table reference (cannot be a bare alias)
_RESERVED = {
    "where", "group", "having", "order", "limit", "on", "using",
    "inner", "left", "right", "full", "cross", "join", "as", "union",
    "and", "or", "not", "in", "asc", "desc", "by", "outer",
    "prewhere", "array", "intersect", "except", "settings", "format",
    "global", "between", "like", "ilike", "is", "null",
    "case", "when", "then", "else", "end",
    "sample", "asof", "with", "interpolate", "any", "all",
    "qualify", "window", "final",
}


def _exec_with_set_expr(
    p: _Parser,
    tables: dict[str, DataFrame],
) -> DataFrame:
    """``[WITH ...] SELECT-or-set-chain`` — the shape the statement
    level shares with derived tables, scalar/IN subqueries, and CTE
    bodies (round 5: WITH was previously statement-level only, so
    ``FROM (WITH a AS (...) SELECT ...)`` failed to parse)."""
    # WITH clause, both CH forms (mixable in one list):
    # - CTE:          WITH name AS (SELECT ...)   [ANSI]
    # - scalar alias: WITH expr AS name           [classic ClickHouse]
    # CTEs plan against the env extended by the CTEs before them
    # (lazily; no materialization). Scalar aliases substitute their
    # expression tree wherever the bare name appears downstream —
    # including subqueries — and take precedence over a same-named
    # column (qualify the column to reach it), like CH.
    if p.peek_kw() == "with":
        p.next()
        recursive = False
        if p.peek_kw() == "recursive":
            p.next()
            recursive = True
        while True:
            is_cte = (
                re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", p.peek() or "")
                and p.toks[p.i + 1 : p.i + 2]
                and p.toks[p.i + 1].lower() == "as"
                and p.toks[p.i + 2 : p.i + 3] == ["("]
                and p.toks[p.i + 3 : p.i + 4]
                and p.toks[p.i + 3].lower() in ("select", "with")
            )
            # WITH name (col, ...) AS (SELECT ...): ANSI column list
            # — scan ahead for ident-list ')' AS '(' SELECT
            cte_cols: list[str] | None = None
            if (
                not is_cte
                and re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", p.peek() or "")
                and p.toks[p.i + 1 : p.i + 2] == ["("]
            ):
                j = p.i + 2
                scan: list[str] = []
                while j < len(p.toks) and p.toks[j] != ")":
                    if p.toks[j] == ",":
                        j += 1
                        continue
                    if not re.fullmatch(
                        r"[A-Za-z_][A-Za-z_0-9]*", p.toks[j]
                    ):
                        scan = []
                        break
                    scan.append(p.toks[j])
                    j += 1
                if (
                    scan
                    and p.toks[j : j + 1] == [")"]
                    and p.toks[j + 1 : j + 2]
                    and p.toks[j + 1].lower() == "as"
                    and p.toks[j + 2 : j + 3] == ["("]
                    and p.toks[j + 3 : j + 4]
                    and p.toks[j + 3].lower() in ("select", "with")
                ):
                    is_cte = True
                    cte_cols = scan
            if is_cte:
                cte_name = p.next()
                if cte_cols is not None:
                    p.expect("(")
                    while p.peek() != ")":
                        p.next()
                    p.next()
                p.expect("as")
                p.expect("(")
                body = _capture_parens(p)
                # RECURSIVE applies to the whole WITH list (ANSI); a
                # CTE is actually recursive only if its body names
                # itself. Self-reference makes eager planning
                # impossible, so the body runs through the
                # iterate-to-fixpoint executor instead.
                if recursive and cte_name in body:
                    cte_df = _exec_recursive_cte(
                        cte_name,
                        body,
                        tables,
                        p.with_aliases,
                        columns=cte_cols,
                    )
                else:
                    bp = _Parser(body, tables)
                    bp.with_aliases = dict(p.with_aliases)
                    cte_df = _exec_with_set_expr(bp, tables)
                    if bp.peek() is not None:
                        raise ValueError(
                            "unexpected trailing tokens in CTE body: "
                            f"{self_toks(bp)}"
                        )
                    if cte_cols is not None:
                        if len(cte_cols) != len(cte_df.columns):
                            raise ValueError(
                                f"CTE {cte_name!r} lists "
                                f"{len(cte_cols)} columns, body "
                                f"produces {len(cte_df.columns)}"
                            )
                        cte_df = cte_df.toDF(*cte_cols)
                tables = {**tables, cte_name: cte_df}
                p.tables = tables
            else:
                expr = p.parse_expr()
                p.expect("as")
                p.with_aliases[p.next()] = expr
            if p.peek() != ",":
                break
            p.next()
    return _exec_set_expr(p, tables)


# the byte-exact family whose arguments carry the HashArg identity
# marker (numeric-layout parity; intHash64/32 are already
# value-domain and URLHash is string-domain)
_HASH_BYTE_FNS = frozenset(
    {
        "cityhash64", "siphash64", "xxhash64", "xxhash32",
        "murmurhash2_64", "murmurhash2_32", "murmurhash3_32",
        "murmurhash3_64", "murmurhash3_128", "kafkamurmurhash",
        "gccmurmurhash",
    }
)
_BYTE_HASH_RE = re.compile(
    r"\b(cityHash64|sipHash64|xxHash64|xxHash32|murmurHash2_64"
    r"|murmurHash2_32|murmurHash3_32|murmurHash3_64|murmurHash3_128"
    r"|kafkaMurmurHash|gccMurmurHash)\s*\(",
    re.IGNORECASE,
)


def run_ch_query(
    sql: str,
    tables: dict[str, DataFrame],
    args: tuple | list = (),
    named: dict | None = None,
) -> DataFrame:
    """Parse + execute a reference-dialect query against ``tables``
    (keyed by bare table name; the db qualifier is accepted and
    ignored, like the single-database reference setup).

    ``args`` / ``named`` bind ``?`` / ``@name`` placeholders with the
    reference driver's exact recognition + quoting rules (P7,
    ch/stmt.go:116-204 via :mod:`.ch_bind`); an
    :class:`~.ch_bind.ExternalTable` argument registers its DataFrame
    under its name (S6) for ``FROM``/``JOIN``/``IN`` use.

    JOINs always broadcast the right side: ClickHouse's only join
    strategy in the reference's driver era materializes the RIGHT
    relation as an in-memory hash table on every node (the
    max_rows_in_join / max_bytes_in_join guards,
    ch/query_settings.go:108-109, bound exactly that build side), so
    ``F.broadcast`` is the faithful physical mapping. The same holds
    for ASOF, ANY, correlated semi/anti and decorrelated scalar joins.
    Big-big shapes the reference dialect itself could not run are out
    of scope.

    Subqueries: ``(SELECT ...)`` nests as a scalar expression or an
    ``IN (SELECT ...)`` membership set — both planned against the same
    table env and materialized the way ClickHouse materializes them
    (scalar once; IN sets in memory under the max_rows_in_set guard).
    """
    if args or named:
        from .ch_bind import bind_params

        sql, externals = bind_params(sql, args, named)
        if externals:
            tables = {**tables, **{e.name: e.df for e in externals}}

    # Publish the table env's bare-column dtypes for the byte-exact
    # hash family (round 9): CH hashes numeric arguments' native
    # layouts, and the hash builders resolve each argument through
    # the compiler's HashArg marker against this map. Names whose
    # dtype differs across tables are dropped (ambiguous -> string
    # rendering, the conservative pre-round-9 behavior). A zero-row
    # probe frame over the same columns types COMPUTED expressions by
    # Catalyst analysis (round 10) — built only when the query
    # actually calls a byte-family hash.
    from ..functions.ch_compat import hash_arg_types

    dmap: dict[str, str] = {}
    fields: dict[str, object] = {}
    drop: set[str] = set()
    for _df in tables.values():
        for _f in _df.schema.fields:
            _name, _dt = _f.name, _f.dataType.simpleString()
            if _name in dmap and dmap[_name] != _dt:
                drop.add(_name)
            dmap[_name] = _dt
            fields[_name] = _f.dataType
    for _name in drop:
        dmap.pop(_name, None)
        fields.pop(_name, None)
    probe = None
    if tables and _BYTE_HASH_RE.search(sql) is not None:
        from pyspark.sql.types import StructField, StructType

        _sess = next(iter(tables.values())).sparkSession
        probe = local_frame(
            _sess,
            [],
            StructType(
                [StructField(n, t) for n, t in fields.items()]
            ),
        )
    with hash_arg_types(dmap, probe):
        return _run_ch_parsed(sql, tables)


def _run_ch_parsed(
    sql: str,
    tables: dict[str, DataFrame],
) -> DataFrame:
    p = _Parser(_tokenize(sql), tables)
    # EXPLAIN [AST|SYNTAX|PLAN|PIPELINE|ESTIMATE] SELECT ...: the CH
    # introspection statement — one text row per plan line, like the
    # server's output shape. PLAN/ESTIMATE show the optimized logical
    # plan, PIPELINE the physical plan (Spark's execution pipeline),
    # SYNTAX the parsed query's formatted logical tree, AST likewise
    # (this engine's AST lives in Catalyst after compilation).
    if p.peek_kw() == "explain":
        p.next()
        mode = "plan"
        if p.peek_kw() in ("ast", "syntax", "plan", "pipeline", "estimate"):
            mode = p.next().lower()
        rest = run_ch_query(" ".join(p.toks[p.i :]), tables)
        qe = rest._jdf.queryExecution()
        if mode == "pipeline":
            text = qe.executedPlan().toString()
        elif mode in ("ast", "syntax"):
            text = qe.analyzed().toString()
        else:
            text = qe.optimizedPlan().toString()
        sess = rest.sparkSession
        return local_frame(
            sess,
            [(ln,) for ln in text.rstrip("\n").split("\n")],
            "explain string",
        )
    out = _exec_with_set_expr(p, tables)

    # trailing SETTINGS k = v [, ...] and FORMAT <name>. CH SETTINGS is
    # QUERY-scoped; Spark confs are session-scoped and read at
    # EXECUTION time, so mutating the session here would leak each
    # query's settings into every later plan (and wouldn't even bind
    # to this lazy DataFrame's run). The names are validated/classified
    # through the C5 passthrough (control.classify_setting) and
    # recorded, not applied — callers that want them live pass the same
    # dict to control.apply_query_settings around their own action.
    # FORMAT is a wire-format directive; the result shape IS the
    # DataFrame.
    while p.peek_kw() in ("settings", "format"):
        if p.peek_kw() == "settings":
            p.next()
            raw: dict[str, object] = {}
            while True:
                sname = p.next()
                p.expect("=")
                sval: object = p.next()
                if isinstance(sval, str) and sval.startswith("'"):
                    sval = sval[1:-1]
                raw[sname] = sval
                if p.peek() != ",":
                    break
                p.next()
            from ..control import classify_setting

            for sname in raw:
                try:
                    classify_setting(sname)
                except KeyError:
                    pass  # forward-unknown, like the CH driver
            global LAST_QUERY_SETTINGS
            LAST_QUERY_SETTINGS = raw
        else:
            p.next()
            p.next()  # format name — wire-level concern, no plan effect
    if p.peek() is not None:
        raise ValueError(f"unexpected trailing tokens: {self_toks(p)}")
    return out


def _exec_set_expr(
    p: _Parser,
    tables: dict[str, DataFrame],
) -> DataFrame:
    """One SELECT or a set-operation chain of SELECTs. CH combines by
    POSITION (column names come from the first select), each branch
    keeps its own WHERE/GROUP/ORDER/LIMIT scope, and INTERSECT binds
    tighter than UNION/EXCEPT (CH operator precedence). UNION requires
    an explicit ALL/DISTINCT (union_default_mode is unset in the
    reference dialect); INTERSECT/EXCEPT default to ALL like CH.
    Shared by the statement level, derived tables, subqueries, and CTE
    bodies (round 4 — set ops previously parsed at statement level
    only)."""
    branches: list[DataFrame] = [_exec_select(p, tables)]
    ops: list[tuple[str, str]] = []
    while p.peek_kw() in ("union", "intersect", "except"):
        op = p.next().lower()
        mod = p.peek_kw()
        if op == "union":
            if mod not in ("all", "distinct"):
                raise ValueError(
                    "UNION requires ALL or DISTINCT (CH "
                    "union_default_mode is unset in the reference "
                    "dialect)"
                )
            p.next()
        elif mod in ("all", "distinct"):
            p.next()
        else:
            mod = "all"
        branch = _exec_select(p, tables)
        if len(branch.columns) != len(branches[0].columns):
            raise ValueError(
                f"{op.upper()} branches have "
                f"{len(branches[0].columns)} vs "
                f"{len(branch.columns)} columns"
            )
        ops.append((op, mod))
        branches.append(branch)
    i = 0
    while i < len(ops):  # INTERSECT first (higher precedence)
        if ops[i][0] == "intersect":
            left = branches[i]
            right = branches[i + 1].toDF(*left.columns)
            branches[i : i + 2] = [
                left.intersectAll(right)
                if ops[i][1] == "all"
                else left.intersect(right)
            ]
            ops.pop(i)
        else:
            i += 1
    out = branches[0]
    for (op, mod), br in zip(ops, branches[1:]):
        br = br.toDF(*out.columns)
        if op == "union":
            out = out.union(br)
            if mod == "distinct":
                out = out.distinct()
        else:  # except
            out = out.exceptAll(br) if mod == "all" else out.subtract(br)
    return out


def _capture_parens(p: _Parser) -> list[str]:
    """Consume tokens up to the ``)`` matching an already-consumed
    ``(`` and return the enclosed slice (tokens are post-lexer, so
    string literals are single tokens and depth counting is safe)."""
    depth = 1
    out: list[str] = []
    while True:
        tok = p.next()
        if tok is None:
            raise ValueError("unbalanced parentheses in CTE body")
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
            if depth == 0:
                return out
        out.append(tok)


def _exec_recursive_cte(
    name: str,
    toks: list[str],
    tables: dict[str, DataFrame],
    with_aliases: dict[str, _Node],
    columns: list[str] | None = None,
) -> DataFrame:
    """Evaluate a self-referencing CTE body to its fixpoint.

    ANSI/modern-CH semantics: the body is ``anchor UNION [ALL|DISTINCT]
    recursive-term[ UNION ... ]`` where anchor branches never name the
    CTE and recursive branches do. Each iteration binds the CTE name to
    the PREVIOUS iteration's new rows (the working table), evaluates
    every recursive branch, and
    - UNION DISTINCT: keeps only rows not seen before; terminates when
      an iteration adds nothing new (cycles in the data therefore
      terminate);
    - UNION ALL: appends everything; terminates when an iteration
      yields zero rows (a divergent recursion trips
      MAX_RECURSIVE_CTE_DEPTH instead of spinning).

    Distributed shape (the connected-components loop's template,
    operators/graph.py): per round, ONE lazily-localCheckpointed
    working table whose count() both drives termination and
    materializes the checkpoint as a side effect — lineage stays flat
    across rounds instead of growing a plan per iteration. The
    DISTINCT mode's anti-join against the seen set is the semantics'
    inherent per-round shuffle; the seen set is itself checkpointed so
    the join's left side is always a flat LogicalRDD.
    """
    # Split the body into top-level UNION branches (INTERSECT/EXCEPT
    # bind tighter and stay inside a branch, same precedence as
    # _exec_set_expr).
    branches: list[list[str]] = []
    mods: list[str] = []
    depth = 0
    cur: list[str] = []
    i = 0
    while i < len(toks):
        t = toks[i]
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        if depth == 0 and t.lower() == "union":
            mod = toks[i + 1].lower() if i + 1 < len(toks) else ""
            if mod not in ("all", "distinct"):
                raise ValueError(
                    "UNION requires ALL or DISTINCT (CH "
                    "union_default_mode is unset in the reference "
                    "dialect)"
                )
            branches.append(cur)
            mods.append(mod)
            cur = []
            i += 2
            continue
        cur.append(t)
        i += 1
    branches.append(cur)
    if len(branches) < 2:
        raise ValueError(
            f"recursive CTE {name!r} needs an anchor and a recursive "
            "term combined with UNION"
        )
    if len(set(mods)) > 1:
        raise ValueError(
            "mixed UNION ALL / UNION DISTINCT in a recursive CTE body "
            "is not supported"
        )
    distinct = mods[0] == "distinct"
    anchors = [b for b in branches if name not in b]
    rec_terms = [b for b in branches if name in b]
    if not anchors or not rec_terms:
        raise ValueError(
            f"recursive CTE {name!r} needs at least one anchor branch "
            "(no self-reference) and one recursive branch"
        )
    n_lead = sum(1 for b in branches[: len(anchors)] if name not in b)
    if n_lead != len(anchors):
        raise ValueError(
            "anchor branches must precede recursive branches in a "
            "recursive CTE body"
        )

    def run_branch(
        slice_: list[str], env: dict[str, DataFrame]
    ) -> DataFrame:
        bp = _Parser(list(slice_), env)
        bp.with_aliases = dict(with_aliases)
        df = _exec_with_set_expr(bp, env)
        if bp.peek() is not None:
            raise ValueError(
                "unexpected trailing tokens in recursive CTE branch: "
                f"{self_toks(bp)}"
            )
        return df

    anchor = run_branch(anchors[0], tables)
    for b in anchors[1:]:
        anchor = anchor.union(run_branch(b, tables).toDF(*anchor.columns))
    if columns is not None:
        # WITH RECURSIVE name (col, ...): the list renames the anchor
        # BEFORE iteration so the recursive term resolves those names
        if len(columns) != len(anchor.columns):
            raise ValueError(
                f"recursive CTE {name!r} lists {len(columns)} columns,"
                f" anchor produces {len(anchor.columns)}"
            )
        anchor = anchor.toDF(*columns)
    if distinct:
        anchor = anchor.distinct()
    out_cols = anchor.columns
    out_types = [f.dataType for f in anchor.schema.fields]

    def align(df: DataFrame) -> DataFrame:
        if len(df.columns) != len(out_cols):
            raise ValueError(
                f"recursive branch produces {len(df.columns)} columns, "
                f"anchor has {len(out_cols)}"
            )
        return df.select(
            *[
                F.col(c).cast(t).alias(nm)
                for c, t, nm in zip(df.columns, out_types, out_cols)
            ]
        )

    working = anchor.localCheckpoint(eager=False)
    n = working.count()
    seen = working  # DISTINCT mode: all rows emitted so far
    parts: list[DataFrame] = [working]  # ALL mode: per-round outputs
    rounds = 0
    while n > 0:
        rounds += 1
        if rounds > MAX_RECURSIVE_CTE_DEPTH:
            raise ValueError(
                f"recursive CTE {name!r} exceeded "
                f"MAX_RECURSIVE_CTE_DEPTH={MAX_RECURSIVE_CTE_DEPTH} "
                "iterations (divergent recursion?)"
            )
        env = {**tables, name: working}
        step = align(run_branch(rec_terms[0], env))
        for b in rec_terms[1:]:
            step = step.union(align(run_branch(b, env)))
        if distinct:
            step = step.distinct().subtract(seen)
        # lazy checkpoint + count: one job materializes the round's
        # rows AND decides termination (graph.py's loop pattern)
        working = step.localCheckpoint(eager=False)
        n = working.count()
        if n > 0:
            if distinct:
                seen = seen.union(working).localCheckpoint(eager=False)
            else:
                parts.append(working)
    if distinct:
        return seen
    out = parts[0]
    for prt in parts[1:]:
        out = out.union(prt)
    return out


def _and_conjuncts(node: _Node) -> list[_Node]:
    """Flatten a top-level AND tree into its conjuncts."""
    if node.kind == "bin" and node.value == "and":
        return _and_conjuncts(node.args[0]) + _and_conjuncts(node.args[1])
    return [node]


def _asof_join(
    df: DataFrame,
    right0: DataFrame,
    ralias: str,
    cond: _Node | tuple | None,
    how: str,
    tables: dict[str, DataFrame] | None,
) -> DataFrame:
    """CH ASOF JOIN: per equality-key group, match each left row to the
    closest right row satisfying the timestamp inequality (``l.ts >=
    r.ts`` = latest-at-or-before; ``>``, ``<=``, ``<`` variants too).

    Compiled by INTERVAL-IZING the right side: ``lead(ts)`` (or ``lag``
    for the <= / < direction) over (partition by right keys, order by
    ts) bounds each right row's validity window, after which the asof
    match is an ordinary equi-join on the keys with a range residual —
    each left row matches at most one right row, no row explosion. The
    join stays declarative (hash or sort-merge on the equality keys,
    AQE-eligible, broadcastable); ``operators/asof_join.py`` documents
    the union+window linear alternative the dedicated operator path
    uses. Rows tied on (key, ts) on the right resolve to the window
    order's last — supply unique (key, ts) for determinism, as in CH.

    ON-clause contract: plain column refs, at least one ``l.k = r.k``
    equality, exactly one inequality between the two timestamps.
    """
    if cond is None or isinstance(cond, tuple):
        raise ValueError("ASOF JOIN requires an ON condition")

    def _is_right(n: _Node) -> bool:
        return (
            n.kind == "col"
            and "." in str(n.value)
            and str(n.value).split(".", 1)[0] == ralias
        )

    def _bare(n: _Node) -> str:
        return str(n.value).rsplit(".", 1)[-1]

    eqs: list[_Node] = []
    ineqs: list[_Node] = []
    for c in _and_conjuncts(cond):
        if c.kind == "bin" and c.value == "=":
            eqs.append(c)
        elif c.kind == "bin" and c.value in (">=", ">", "<=", "<"):
            ineqs.append(c)
        else:
            raise ValueError(
                "ASOF ON supports only key equalities and one "
                "timestamp inequality"
            )
    if len(ineqs) != 1 or not eqs:
        raise ValueError(
            "ASOF ON needs >=1 equality and exactly one inequality"
        )
    ineq = ineqs[0]
    a, b = ineq.args
    if not (a.kind == "col" and b.kind == "col"):
        raise ValueError("ASOF inequality sides must be column refs")
    if _is_right(b) and not _is_right(a):
        lts, rts, op = a, b, str(ineq.value)
    elif _is_right(a) and not _is_right(b):
        flip = {">=": "<=", ">": "<", "<=": ">=", "<": ">"}
        lts, rts, op = b, a, flip[str(ineq.value)]
    else:
        raise ValueError(
            "ASOF inequality must compare a left and a right column"
        )

    rkeys_bare: list[str] = []
    for e in eqs:
        ka, kb = e.args
        if _is_right(ka) and not _is_right(kb):
            rk = ka
        elif _is_right(kb) and not _is_right(ka):
            rk = kb
        else:
            raise ValueError(
                "ASOF equality must pair a left and a right column"
            )
        if not (ka.kind == "col" and kb.kind == "col"):
            raise ValueError("ASOF key sides must be column refs")
        rkeys_bare.append(_bare(rk))

    from pyspark.sql import Window as _W

    rts_bare = _bare(rts)
    w = _W.partitionBy(*[F.col(k) for k in rkeys_bare]).orderBy(
        F.col(rts_bare)
    )
    edge_fn = F.lead if op in (">=", ">") else F.lag
    right = right0.withColumn(
        "_asof_edge", edge_fn(F.col(rts_bare)).over(w)
    ).alias(ralias)
    right = F.broadcast(right)

    lts_col = _compile(lts, tables)
    rts_col = F.col(f"{ralias}.{rts_bare}")
    edge = F.col(f"{ralias}._asof_edge")
    rng = {
        # latest right row with r.ts <= l.ts
        ">=": (lts_col >= rts_col) & (edge.isNull() | (lts_col < edge)),
        # latest right row with r.ts <  l.ts
        ">": (lts_col > rts_col) & (edge.isNull() | (lts_col <= edge)),
        # earliest right row with r.ts >= l.ts
        "<=": (lts_col <= rts_col) & (edge.isNull() | (lts_col > edge)),
        # earliest right row with r.ts >  l.ts
        "<": (lts_col < rts_col) & (edge.isNull() | (lts_col >= edge)),
    }[op]
    cond_col = rng
    for e in eqs:
        cond_col = _compile(e, tables) & cond_col
    return df.join(right, on=cond_col, how=how).drop("_asof_edge")


def _any_dedup_right(
    right0: DataFrame, ralias: str, cond: _Node | tuple | None
) -> DataFrame:
    """ANY strictness: keep ONE right row per join key before the
    join. CH keeps an arbitrary match; here it is the first by the
    right relation's orderable-column lexicographic order, so results
    are reproducible across runs and partitionings. One row_number
    window on the key — the same shuffle the hash join needs anyway.
    """
    from pyspark.sql import Window as _W

    if cond is None:
        raise ValueError("ANY JOIN requires ON or USING")
    if isinstance(cond, tuple):
        keys = list(cond[1])
    else:
        keys = []
        for c in _and_conjuncts(cond):
            if not (c.kind == "bin" and c.value == "="):
                raise ValueError(
                    "ANY JOIN supports only key-equality ON conditions"
                )
            a, b = c.args
            right_side = [
                n for n in (a, b)
                if n.kind == "col"
                and "." in str(n.value)
                and str(n.value).split(".", 1)[0] == ralias
            ]
            if len(right_side) != 1:
                raise ValueError(
                    "each ANY JOIN equality must pair a left and a "
                    "right column"
                )
            keys.append(str(right_side[0].value).rsplit(".", 1)[-1])
    orderable = [
        f.name
        for f in right0.schema.fields
        if f.dataType.typeName()
        not in ("array", "map", "struct", "binary")
    ]
    if not orderable:
        raise ValueError("ANY JOIN right side has no orderable columns")
    w = _W.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) for c in orderable]
    )
    return (
        right0.withColumn("_any_rn", F.row_number().over(w))
        .where(F.col("_any_rn") == 1)
        .drop("_any_rn")
        .alias(ralias)
    )


_CMP_OPS = (">", "<", ">=", "<=", "=", "!=", "<>")


def _subquery_pred(conj: _Node):
    """Decompose a WHERE conjunct that is a rewritable subquery
    predicate: returns (kind, negate, payload, detail) for
    ``EXISTS (...)``, ``NOT EXISTS (...)``, ``x [NOT] IN (SELECT ...)``
    (detail = the left expression node), and comparisons against a
    scalar subquery ``x CMP (SELECT agg ...)`` in either operand order
    (kind "scalar_cmp", detail = (op, other_node, subq_on_left)).
    None for anything else — including subqueries nested under OR,
    which only work uncorrelated."""
    if conj.kind == "call" and str(conj.value).lower() == "not":
        inner = _subquery_pred(conj.args[0])
        if inner is not None:
            return (inner[0], not inner[1], inner[2], inner[3])
        return None
    if conj.kind == "exists":
        return ("exists", False, conj.value, None)
    if conj.kind == "in" and conj.value[0] == "subdf":
        return ("in", conj.value[1], conj.value[2], conj.args[0])
    if conj.kind == "bin" and conj.value in _CMP_OPS:
        a, b = conj.args
        if a.kind == "scalar_subq" and b.kind != "scalar_subq":
            return ("scalar_cmp", False, a.value, (conj.value, b, True))
        if b.kind == "scalar_subq" and a.kind != "scalar_subq":
            return ("scalar_cmp", False, b.value, (conj.value, a, False))
    return None


# every keyword the dialect can emit as a bare token — the correlation
# pre-scan must not mistake one for a column reference
_KEYWORDS = _RESERVED | {
    "select", "exists", "distinct", "group", "having", "limit",
    "offset", "where", "from", "then", "fill", "step", "to", "over",
    "partition", "rows", "range", "unbounded", "preceding",
    "following", "current", "row", "first", "last", "nulls",
    "totals", "rollup", "cube", "grouping", "sets", "true", "false",
    "by",
}


def _probably_correlated(
    payload: _Subq, outer_aliases: set[str], outer_cols: set[str]
) -> bool:
    """Cheap token-level correlation pre-scan, so the common correlated
    shapes route straight to the join rewrite without first provoking
    (and logging) an AnalysisException from the standalone-plan
    attempt. Conservative by design: only answers True on certainty —
    a reference qualified by a known OUTER alias, or a bare identifier
    that is an outer column but not an inner one. Anything uncertain
    answers False and falls back to the try-standalone path, which is
    authoritative."""
    toks = list(payload.toks)  # list: slice-vs-["."] compares below
    ident = re.compile(r"[A-Za-z_][A-Za-z_0-9]*")
    # the subquery's FROM relation (depth-0 scan) -> inner alias + cols
    depth = 0
    tname: str | None = None
    alias: str | None = None
    for j, t in enumerate(toks):
        if t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0 and t.lower() == "from":
            k = j + 1
            if k >= len(toks):
                return False
            tname = toks[k]
            if toks[k + 1 : k + 2] == ["."]:
                tname = toks[k + 2]
                k += 2
            nxt = toks[k + 1 : k + 2]
            if nxt and nxt[0].lower() == "as":
                alias = toks[k + 2]
            elif (
                nxt
                and ident.fullmatch(nxt[0])
                and nxt[0].lower() not in _RESERVED
            ):
                alias = nxt[0]
            break
    if (
        tname is None
        or payload.tables is None
        or tname not in payload.tables
        or not ident.fullmatch(tname)
    ):
        return False
    inner_alias = alias or tname
    inner_cols = set(payload.tables[tname].columns)
    for j, t in enumerate(toks):
        if not ident.fullmatch(t):
            continue
        if j > 0 and toks[j - 1] == ".":
            continue  # qualified tail — classified via its qualifier
        if toks[j + 1 : j + 2] == ["("]:
            continue  # function call
        if toks[j + 1 : j + 2] == ["."]:
            if t != inner_alias and t in outer_aliases:
                return True
            continue
        if t.lower() in _KEYWORDS:
            continue
        if t in payload.with_aliases:
            continue
        if t not in inner_cols and t in outer_cols:
            return True
    return False


def _plan_correlated(payload: _Subq, tables: dict[str, DataFrame]):
    """Plan a CORRELATED subquery for the semi/anti-join rewrite.

    Supported shape: ``SELECT item[, ...] FROM table [alias] [WHERE
    conjuncts]`` — the ClickHouse-era correlated forms a reference user
    writes (TPC-H q4/q21/q22 are all this shape). Name resolution is
    ANSI inner-first: a bare column that exists on the inner relation
    binds inner (and is qualified with the inner alias so the join
    condition stays unambiguous); anything else — an outer-alias
    qualification or a bare name the inner relation lacks — is an outer
    reference, making its conjunct part of the join condition.

    Returns ``(inner_df, corr_cond, select_col)``: the inner relation
    with its NON-correlated conjuncts already applied (predicate
    pushdown below the join), the compiled AND of the correlated
    conjuncts, and the compiled first select item (None for ``*``).
    """
    sp = _Parser(list(payload.toks), payload.tables)
    sp.with_aliases = dict(payload.with_aliases)
    sp.expect("select")
    if sp.peek_kw() == "distinct":
        sp.next()  # the semi/anti join is set-semantic anyway
    sel_nodes: list[_Node] = [sp.parse_expr()]
    if sp.peek_kw() == "as":
        sp.next()
        sp.next()
    while sp.peek() == ",":
        sp.next()
        sel_nodes.append(sp.parse_expr())
        if sp.peek_kw() == "as":
            sp.next()
            sp.next()
    sp.expect("from")
    tname = sp.next()
    if sp.peek() == ".":
        sp.next()
        tname = sp.next()  # db qualifier dropped
    alias: str | None = None
    if sp.peek_kw() == "as":
        sp.next()
        alias = sp.next()
    elif (
        sp.peek() is not None
        and re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", sp.peek() or "")
        and sp.peek_kw() not in _RESERVED
    ):
        alias = sp.next()
    if payload.tables is None or tname not in payload.tables:
        raise ValueError(f"unknown table {tname!r} in correlated subquery")
    where: _Node | None = None
    if sp.peek_kw() == "where":
        sp.next()
        where = sp.parse_expr()
    if sp.peek() is not None:
        raise ValueError(
            "correlated subqueries support the SELECT ... FROM table "
            "[WHERE ...] shape only (no joins, GROUP BY, ORDER BY or "
            "set operations) — got trailing "
            f"{self_toks(sp)!r}"
        )
    inner_alias = alias or tname
    base = payload.tables[tname]
    inner_cols = set(base.columns)

    def refs_outer(n: _Node) -> bool:
        if n.kind == "col":
            v = str(n.value)
            if "." in v:
                return v.split(".", 1)[0] != inner_alias
            return v not in inner_cols
        if n.kind in ("scalar_subq", "exists"):
            raise ValueError(
                "nested subqueries inside a correlated subquery are "
                "not supported"
            )
        if _contains_agg(n):
            raise ValueError(
                "aggregates inside a correlated subquery are not "
                "supported (use a JOIN against a grouped derived table)"
            )
        return any(refs_outer(a) for a in n.args)

    def qualify(n: _Node) -> _Node:
        """Qualify bare inner-relation refs with the inner alias so
        compiling against the joined pair is never ambiguous."""
        if n.kind == "col":
            v = str(n.value)
            if "." not in v and v in inner_cols:
                return _Node("col", f"{inner_alias}.{v}")
            return n
        if n.args:
            return _Node(
                n.kind, n.value, tuple(qualify(a) for a in n.args)
            )
        return n

    inner = base.alias(inner_alias)
    corr_cond: Column | None = None
    for c in _and_conjuncts(where) if where is not None else []:
        if refs_outer(c):
            cc = _compile(qualify(c), payload.tables)
            corr_cond = cc if corr_cond is None else corr_cond & cc
        else:
            inner = inner.where(_compile(qualify(c), payload.tables))
    sel_cols: list[Column] | None = None
    if sel_nodes[0].kind != "star":
        sel_cols = []
        for n in sel_nodes:
            if refs_outer(n):
                raise ValueError(
                    "the select items of a correlated IN subquery must "
                    "be inner-relation expressions"
                )
            sel_cols.append(_compile(qualify(n), payload.tables))
    return inner, corr_cond, sel_cols


def _apply_correlated(
    df: DataFrame,
    kind: str,
    negate: bool,
    payload: _Subq,
    left: _Node | None,
    tables: dict[str, DataFrame],
) -> DataFrame:
    """Rewrite one correlated EXISTS / IN conjunct as a LEFT SEMI
    (or LEFT ANTI) join — the distributed shape of the predicate: the
    inner relation is broadcast, matching the dialect's CH-era
    broadcast-right join strategy, and no subquery re-runs per row.

    NOT IN keeps ANSI three-valued semantics exactly: the anti-join
    condition is ``corr AND (x = y OR x IS NULL OR y IS NULL)``, so a
    NULL on either side — which makes ``x NOT IN S`` NULL, filtering
    the row — counts as a match and gets anti-joined away, while an
    empty per-row set (no inner row passes the correlation) keeps the
    row, NULL x included.
    """
    inner, corr_cond, sel_cols = _plan_correlated(payload, tables)
    if kind == "exists":
        cond = corr_cond
        if cond is None:
            # no correlated conjunct — should have planned uncorrelated
            raise ValueError(
                "EXISTS subquery has no correlated predicate but "
                "failed to plan standalone"
            )
    else:
        if sel_cols is None:
            raise ValueError("IN subquery cannot select *")
        # Row-value IN — (a, b) IN (SELECT x, y ... WHERE corr) —
        # pairs each tuple element with its select item. Row-value
        # equality is FALSE iff some element pair is definitely
        # unequal, so the NOT IN "counts as a match" condition is the
        # AND over elements of (eq OR either-side NULL): exactly the
        # single-column three-valued rule, element-wise.
        items = _tuple_parts(left)
        lefts = list(items) if items is not None else [left]
        if len(lefts) != len(sel_cols):
            raise ValueError(
                f"IN left side has {len(lefts)} expression(s) but the "
                f"subquery selects {len(sel_cols)} item(s)"
            )
        memb: Column | None = None
        for ln, sc in zip(lefts, sel_cols):
            x = _compile(ln, tables)
            if negate:
                m = (x == sc) | x.isNull() | sc.isNull()
            else:
                m = x == sc
            memb = m if memb is None else memb & m
        cond = memb if corr_cond is None else corr_cond & memb
    inner = F.broadcast(inner)
    how = "left_anti" if negate else "left_semi"
    return df.join(inner, on=cond, how=how)


# Per-application suffix for hidden join columns. itertools.count's
# __next__ is a single C-level step (no read-modify-write race under
# concurrent planning threads), unlike the list-cell increment it
# replaced.
_SCALAR_SEQ = itertools.count(1)


def _attach_scalar_join(
    df: DataFrame,
    payload: _Subq,
    tables: dict[str, DataFrame],
) -> tuple[DataFrame, Column, list[str]]:
    """Decorrelate ``(SELECT agg(...) FROM t WHERE k = outer.k [AND
    filters])`` as a grouped derived table LEFT-joined onto ``df`` on
    the correlation keys. Returns ``(joined_df, value_col,
    hidden_col_names)`` — the caller uses ``value_col`` wherever the
    subquery's scalar appeared (a WHERE comparison or a SELECT item)
    and drops/ignores the hidden columns.

    The correlated conjuncts must be EQUALITIES (they become the
    GROUP BY keys); non-correlated conjuncts filter the inner relation
    below the aggregation. ANSI empty-set semantics hold per
    AGGREGATE: a missing group left-joins NULL, which is what
    sum/avg/min/max yield over zero rows, while count-family
    expressions recover their empty-input value (0, or 0-derived) by
    coalescing with the aggregate evaluated over an empty relation.
    One aggregation + one keyed join instead of a per-row subquery."""
    sp = _Parser(list(payload.toks), payload.tables)
    sp.with_aliases = dict(payload.with_aliases)
    sp.expect("select")
    sel = sp.parse_expr()
    if sp.peek_kw() == "as":
        sp.next()
        sp.next()
    if sp.peek() == ",":
        raise ValueError(
            "a scalar subquery selects exactly one expression"
        )
    if not _contains_agg(sel):
        raise ValueError(
            "a correlated scalar subquery must select an aggregate "
            "(a bare correlated lookup would be row-dependent)"
        )
    sp.expect("from")
    tname = sp.next()
    if sp.peek() == ".":
        sp.next()
        tname = sp.next()
    alias: str | None = None
    if sp.peek_kw() == "as":
        sp.next()
        alias = sp.next()
    elif (
        sp.peek() is not None
        and re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", sp.peek() or "")
        and sp.peek_kw() not in _RESERVED
    ):
        alias = sp.next()
    if payload.tables is None or tname not in payload.tables:
        raise ValueError(f"unknown table {tname!r} in scalar subquery")
    where: _Node | None = None
    if sp.peek_kw() == "where":
        sp.next()
        where = sp.parse_expr()
    if sp.peek() is not None:
        raise ValueError(
            "correlated scalar subqueries support SELECT agg FROM "
            f"table [WHERE ...] only — got trailing {self_toks(sp)!r}"
        )
    inner_alias = alias or tname
    base = payload.tables[tname]
    inner_cols = set(base.columns)

    def refs_outer(n: _Node) -> bool:
        if n.kind == "col":
            v = str(n.value)
            if "." in v:
                return v.split(".", 1)[0] != inner_alias
            return v not in inner_cols
        if n.kind in ("scalar_subq", "exists"):
            raise ValueError(
                "nested subqueries inside a correlated scalar "
                "subquery are not supported"
            )
        return any(refs_outer(a) for a in n.args)

    def qualify(n: _Node) -> _Node:
        if n.kind == "col":
            v = str(n.value)
            if "." not in v and v in inner_cols:
                return _Node("col", f"{inner_alias}.{v}")
            return n
        if n.args:
            return _Node(
                n.kind, n.value, tuple(qualify(a) for a in n.args)
            )
        return n

    if refs_outer(sel):
        raise ValueError(
            "the aggregate of a correlated scalar subquery must be "
            "an inner-relation expression"
        )
    inner = base.alias(inner_alias)
    pairs: list[tuple[Column, Column]] = []  # (inner key, outer key)
    for c in _and_conjuncts(where) if where is not None else []:
        if not refs_outer(c):
            inner = inner.where(_compile(qualify(c), payload.tables))
            continue
        if not (c.kind == "bin" and c.value == "="):
            raise ValueError(
                "correlated predicates in a scalar subquery must be "
                "equalities (they become the grouping keys)"
            )
        a, b = c.args
        ra, rb = refs_outer(a), refs_outer(b)
        if ra == rb:
            raise ValueError(
                "each correlated equality must pair an inner and an "
                "outer expression"
            )
        inn, out = (b, a) if ra else (a, b)
        pairs.append(
            (
                _compile(qualify(inn), payload.tables),
                _compile(out, tables),
            )
        )
    if not pairs:
        raise ValueError(
            "scalar subquery has no correlated equality but failed "
            "to plan standalone"
        )
    seq = next(_SCALAR_SEQ)
    knames = [f"_csk{seq}_{i}" for i in range(len(pairs))]
    vname = f"_csv{seq}"
    grouped = inner.groupBy(
        *[k.alias(nm) for (k, _), nm in zip(pairs, knames)]
    ).agg(_compile(qualify(sel), payload.tables).alias(vname))
    grouped = F.broadcast(grouped)
    cond = None
    for (_, outer_k), nm in zip(pairs, knames):
        c = outer_k == F.col(nm)
        cond = c if cond is None else cond & c
    joined = df.join(grouped, on=cond, how="left")
    empty_default = (
        inner.limit(0)
        .agg(_compile(qualify(sel), payload.tables).alias(vname))
        .first()[0]
    )
    v = F.col(vname)
    if empty_default is not None:
        v = F.coalesce(v, F.lit(empty_default))
    return joined, v, [vname, *knames]


def _apply_correlated_scalar(
    df: DataFrame,
    negate: bool,
    payload: _Subq,
    detail: tuple,
    tables: dict[str, DataFrame],
) -> DataFrame:
    """WHERE-conjunct form: ``x CMP (SELECT agg ... correlated)``
    (TPC-H q17 shape) — attach the decorrelated value and filter."""
    op, other, subq_on_left = detail
    joined, v, hidden = _attach_scalar_join(df, payload, tables)
    x = _compile(other, tables)
    lhs, rhs = (v, x) if subq_on_left else (x, v)
    cmp = {
        ">": lambda: lhs > rhs,
        "<": lambda: lhs < rhs,
        ">=": lambda: lhs >= rhs,
        "<=": lambda: lhs <= rhs,
        "=": lambda: lhs == rhs,
        "!=": lambda: lhs != rhs,
        "<>": lambda: lhs != rhs,
    }[op]()
    if negate:
        cmp = ~cmp
    return joined.where(cmp).drop(*hidden)


def _exec_select(
    p: _Parser,
    tables: dict[str, DataFrame],
) -> DataFrame:
    """Parse one SELECT (the parser positioned at its ``select``
    keyword) and build its DataFrame plan; stops at the first token
    that is not part of the statement (EOF or the subquery's closing
    paren)."""
    p.expect("select")
    distinct = False
    distinct_on: list[_Node] | None = None
    if p.peek_kw() == "distinct":
        p.next()
        if p.peek_kw() == "on":
            # SELECT DISTINCT ON (keys) — CH defines it as LIMIT 1 BY
            # keys; rides the same row_number machinery (and the same
            # ORDER-BY-required determinism rule)
            p.next()
            p.expect("(")
            distinct_on = [p.parse_expr()]
            while p.peek() == ",":
                p.next()
                distinct_on.append(p.parse_expr())
            p.expect(")")
        else:
            distinct = True
    # CH/T-SQL SELECT TOP n [WITH TIES] — sugar for LIMIT n [WITH
    # TIES]; cannot combine with a trailing LIMIT (CH rule)
    top_n: int | None = None
    top_ties = False
    if p.peek_kw() == "top":
        p.next()
        top_n = int(p.next())
        if p.peek_kw() == "with":
            p.next()
            p.expect("ties")
            top_ties = True

    def _star_modifiers(node: _Node) -> _Node:
        """CH column-matcher modifiers on a star select item:
        ``* EXCEPT (c, ...)``, ``* REPLACE (expr AS c, ...)``,
        ``* APPLY (fn)`` — chainable in any order. The star node's
        value becomes (qualifier, modifiers-tuple)."""
        mods: list[tuple] = []
        while True:
            kw = p.peek_kw()
            if kw == "except":
                # only the modifier form: EXCEPT (cols) / EXCEPT col —
                # the set operation spells EXCEPT SELECT
                nxt = p.toks[p.i + 1 : p.i + 2]
                if not nxt or nxt[0].lower() == "select":
                    break
                p.next()
                paren = p.peek() == "("
                if paren:
                    p.next()
                names = [p.next()]
                while p.peek() == ",":
                    p.next()
                    names.append(p.next())
                if paren:
                    p.expect(")")
                mods.append(("except", tuple(names)))
            elif kw == "replace":
                p.next()
                paren = p.peek() == "("
                if paren:
                    p.next()
                repl: list[tuple[str, _Node]] = []
                while True:
                    e = p.parse_expr()
                    p.expect("as")
                    repl.append((p.next(), e))
                    if p.peek() != ",":
                        break
                    p.next()
                if paren:
                    p.expect(")")
                mods.append(("replace", tuple(repl)))
            elif kw == "apply":
                p.next()
                paren = p.peek() == "("
                if paren:
                    p.next()
                fn = p.next()
                if paren:
                    p.expect(")")
                mods.append(("apply", fn))
            else:
                break
        if mods:
            return _Node("star", (node.value, tuple(mods)))
        return node

    def _select_item() -> tuple[_Node, str | None]:
        node = p.parse_expr()
        if node.kind == "star":
            node = _star_modifiers(node)
        if p.peek_kw() == "as":
            p.next()
            return node, p.next()
        return node, None

    items: list[tuple[_Node, str | None]] = [_select_item()]
    while p.peek() == ",":
        p.next()
        items.append(_select_item())
    select_nodes = [n for n, _ in items]
    aliases = [a for _, a in items]

    if p.peek_kw() != "from":
        # FROM-less SELECT (constants, scalar functions, scalar
        # subqueries): CH's implicit one-row system.one relation
        from pyspark.sql import SparkSession as _SS

        sess = (
            next(iter(tables.values())).sparkSession
            if tables
            else _SS.getActiveSession()
        )
        if sess is None:
            raise ValueError("FROM-less SELECT needs an active session")
        cols = []
        for i, (nnode, al) in enumerate(items):
            nm = al or (
                str(nnode.value) if nnode.kind == "col" else f"c{i}"
            )
            cols.append(_compile(nnode, tables).alias(nm))
        return sess.range(1).select(*cols)

    p.expect("from")

    def _opt_alias() -> str | None:
        if p.peek_kw() == "as":
            p.next()
            return p.next()
        if (
            p.peek() is not None
            and re.fullmatch(r"[A-Za-z_][A-Za-z_0-9]*", p.peek() or "")
            and p.peek_kw() not in _RESERVED
        ):
            return p.next()
        return None

    def _values_rows() -> DataFrame:
        # (VALUES (e, ...), (e, ...)) — inline table. Each element is
        # a constant expression compiled to a Column (literals fold at
        # plan time); default ANSI names col1..colN, renamed by the
        # alias column list when given. Row count is query-text-sized
        # — a literal relation, never a data-sized driver loop.
        from functools import reduce
        from pyspark.sql import SparkSession as _SS

        sess = (
            next(iter(tables.values())).sparkSession
            if tables
            else _SS.getActiveSession()
        )
        if sess is None:
            raise ValueError("VALUES needs an active session")
        frames = []
        while True:
            p.expect("(")
            exprs = [p.parse_expr()]
            while p.peek() == ",":
                p.next()
                exprs.append(p.parse_expr())
            p.expect(")")
            frames.append(
                sess.range(1).select(
                    *[
                        _compile(e, tables).alias(f"col{j + 1}")
                        for j, e in enumerate(exprs)
                    ]
                )
            )
            if p.peek() == ",":
                p.next()
                continue
            break
        return reduce(lambda a, b: a.unionAll(b), frames)

    def _alias_columns(df: DataFrame) -> DataFrame:
        # optional derived-column list: AS t(c1, c2)
        if p.peek() != "(":
            return df
        p.next()
        names = [p.next()]
        while p.peek() == ",":
            p.next()
            names.append(p.next())
        p.expect(")")
        if len(names) != len(df.columns):
            raise ValueError(
                "alias column list arity mismatch: "
                f"{len(names)} names for {len(df.columns)} columns"
            )
        return df.toDF(*names)

    def _table_ref() -> tuple[str | DataFrame, str | None]:
        if p.peek() == "(":
            # derived table: FROM (SELECT ...) [AS] alias — planned
            # inline (lazy); unnamed ones get a positional alias so
            # qualified resolution still works downstream. FROM
            # (VALUES ...) builds the literal relation instead.
            p.next()
            if p.peek_kw() == "values":
                p.next()
                vdf = _values_rows()
                p.expect(")")
                alias = _opt_alias() or f"_vt{p.i}"
                return _alias_columns(vdf), alias
            sub = _exec_with_set_expr(p, tables)
            p.expect(")")
            return sub, _opt_alias() or f"_dt{p.i}"
        name = p.next()
        if p.peek() == ".":
            p.next()
            db, name = name, p.next()
            # CH system tables (when not shadowed by an env relation):
            # system.one is the implicit one-row table, system.tables /
            # system.columns introspect the statement env. Any other
            # db qualifier is dropped (single-namespace env).
            if db.lower() == "system" and name not in tables:
                from pyspark.sql import SparkSession as _SS

                sess = (
                    next(iter(tables.values())).sparkSession
                    if tables
                    else _SS.getActiveSession()
                )
                if sess is None:
                    raise ValueError("system tables need a session")
                lsub = name.lower()
                if lsub == "one":
                    sysdf = sess.range(1).select(
                        F.lit(0).cast("short").alias("dummy")
                    )
                elif lsub == "tables":
                    sysdf = local_frame(
                        sess,
                        [("default", n, "MergeTree") for n in sorted(tables)],
                        "database string, name string, engine string",
                    )
                elif lsub == "columns":
                    from .ch_ddl import _ch_type

                    sysdf = local_frame(
                        sess,
                        [
                            ("default", t, c, _ch_type(ty))
                            for t in sorted(tables)
                            for c, ty in tables[t].dtypes
                        ],
                        "database string, table string, "
                        "name string, type string",
                    )
                else:
                    raise ValueError(
                        f"unknown system table system.{name}"
                    )
                return sysdf, _opt_alias() or name
        if name.lower() == "numbers" and p.peek() == "(":
            # CH numbers(N) / numbers(offset, N) table function: the
            # rows-generator idiom (column `number`, 0-based). Maps to
            # spark.range — a parallel range source, no data movement.
            p.next()
            a = int(p.next())
            b: int | None = None
            if p.peek() == ",":
                p.next()
                b = int(p.next())
            p.expect(")")
            from pyspark.sql import SparkSession as _SS

            sess = (
                next(iter(tables.values())).sparkSession
                if tables
                else _SS.getActiveSession()
            )
            if sess is None:
                raise ValueError("numbers() needs an active session")
            rng = sess.range(a, a + b) if b is not None else sess.range(a)
            return rng.toDF("number"), _opt_alias() or "numbers"
        if name.lower() in (
            "generate_series", "generateseries"
        ) and p.peek() == "(":
            # CH generate_series(start, stop[, step]): INCLUSIVE stop
            # (unlike numbers), column `generate_series`. Same
            # spark.range parallel source.
            p.next()
            start = int(p.next())
            p.expect(",")
            stop = int(p.next())
            step = 1
            if p.peek() == ",":
                p.next()
                step = int(p.next())
            p.expect(")")
            if step <= 0:
                raise ValueError("generate_series step must be > 0")
            from pyspark.sql import SparkSession as _SS

            sess = (
                next(iter(tables.values())).sparkSession
                if tables
                else _SS.getActiveSession()
            )
            if sess is None:
                raise ValueError(
                    "generate_series() needs an active session"
                )
            rng = sess.range(start, stop + 1, step)
            return (
                rng.toDF("generate_series"),
                _opt_alias() or "generate_series",
            )
        if name.lower() in ("file", "url", "s3") and p.peek() == "(":
            # CH file/url/s3 table functions: read external data in
            # place. Maps straight onto the Spark reader — the scan
            # stays distributed (splittable formats parallelize per
            # block; partition pruning and pushdown apply to Parquet),
            # and s3:// / https:// locations work unchanged on a real
            # cluster with the matching filesystem connector on the
            # classpath. Supported formats: Parquet, CSV[WithNames],
            # TSV/TabSeparated[WithNames], JSONEachRow.
            p.next()
            loc = p.next().strip("'\"")
            fmt = "parquet"
            if p.peek() == ",":
                p.next()
                fmt = p.next().strip("'\"")
            p.expect(")")
            from pyspark.sql import SparkSession as _SS

            sess = (
                next(iter(tables.values())).sparkSession
                if tables
                else _SS.getActiveSession()
            )
            if sess is None:
                raise ValueError(f"{name}() needs an active session")
            lfmt = fmt.lower()
            if lfmt == "parquet":
                df = sess.read.parquet(loc)
            elif lfmt in ("csv", "csvwithnames"):
                df = sess.read.csv(
                    loc,
                    header=lfmt.endswith("withnames"),
                    inferSchema=True,
                )
            elif lfmt in (
                "tsv", "tabseparated",
                "tsvwithnames", "tabseparatedwithnames",
            ):
                df = sess.read.csv(
                    loc,
                    sep="\t",
                    header=lfmt.endswith("withnames"),
                    inferSchema=True,
                )
            elif lfmt == "jsoneachrow":
                df = sess.read.json(loc)
            else:
                raise ValueError(
                    f"{name}(): unsupported format {fmt!r}; known: "
                    "Parquet, CSV[WithNames], TSV[WithNames], "
                    "JSONEachRow"
                )
            return df, _opt_alias() or name.lower()
        # FINAL (before or after the alias): CH's merge-on-read
        # modifier — forces ReplacingMergeTree et al. to collapse
        # pending parts at read time. Every relation here is already a
        # fully-materialized DataFrame with no pending parts, so FINAL
        # is exactly the no-op it is on a fully-merged CH table.
        saw_final = False
        if p.peek_kw() == "final":
            p.next()
            saw_final = True
        al = _opt_alias()
        if not saw_final and p.peek_kw() == "final":
            p.next()
        return name, al

    table, table_alias = _table_ref()

    # CH SAMPLE k (fraction form): deterministic sampling at the
    # storage read. CH samples by the table's declared sampling key;
    # the convention here is the table's FIRST column (the primary key
    # of every registered table), hashed with the engine's seeded
    # 60-bit md5 (operators/sampling.py) so membership is stable under
    # repartitioning and re-runs — the property CH's
    # intHash32(sampling_key) sampling also guarantees.
    sample_frac: float | None = None
    if p.peek_kw() == "sample":
        p.next()
        sample_frac = float(p.next())
        if not (0.0 < sample_frac < 1.0):
            raise ValueError(
                "SAMPLE expects a fraction in (0, 1); the approximate "
                "row-count form (SAMPLE n) is not supported"
            )

    # join cond: an ON expression node, or ("using", [col, ...])
    joins: list[
        tuple[str, str | DataFrame, str | None, _Node | tuple | None]
    ] = []
    # CH ARRAY JOIN: explode an array expression into rows. Bare-column
    # form REPLACES the column with its elements (CH semantics); AS
    # keeps the source and adds the element column. LEFT ARRAY JOIN
    # keeps empty-array rows — as NULL elements (Spark explode_outer),
    # where CH emits the element type's default value; divergence
    # documented rather than emulated (type defaults are unknowable for
    # arbitrary expressions).
    array_joins: list[tuple[bool, _Node, str | None]] = []

    def _array_join_tail(outer: bool) -> None:
        p.expect("join")
        node = p.parse_expr()
        alias = None
        if p.peek_kw() == "as":
            p.next()
            alias = p.next()
        array_joins.append((outer, node, alias))

    while p.peek_kw() in (
        "inner", "left", "right", "full", "cross", "join", "array",
        "global", "asof", "any",
    ) or p.peek() == ",":
        if p.peek() == ",":
            # comma-separated FROM list = CROSS JOIN (CH and ANSI-89).
            # WHERE equality conjuncts over the pair are turned back
            # into an equi-join by Catalyst's join-condition pushdown,
            # so the classic `FROM a, b WHERE a.k = b.k` spelling
            # plans identically to the explicit JOIN ... ON form.
            p.next()
            jname, jalias = _table_ref()
            joins.append(("cross", jname, jalias, None))
            continue
        # ANY strictness (at most one right match per left row):
        # accepted in both CH spellings — classic `ANY LEFT JOIN` and
        # modern `LEFT ANY JOIN`. CH keeps an ARBITRARY match; this
        # engine keeps the first by the right relation's
        # column-lexicographic order — a deterministic refinement (any
        # deterministic choice is a valid arbitrary choice, and
        # reproducible pipelines want it pinned).
        any_strict = False
        if p.peek_kw() == "global":
            # GLOBAL: distributed right-side shipping — a no-op on one
            # logical cluster. ALL strictness is CH's default (every
            # match) = Spark join, consumed.
            p.next()
            if p.peek_kw() == "all":
                p.next()
            elif p.peek_kw() == "any":
                p.next()
                any_strict = True
        if p.peek_kw() == "any":
            p.next()
            any_strict = True
        if p.peek_kw() == "array":
            p.next()
            _array_join_tail(outer=False)
            continue
        # ASOF [LEFT] JOIN / LEFT ASOF JOIN (both CH spellings)
        asof = False
        if p.peek_kw() == "asof":
            p.next()
            asof = True
        how = "inner"
        if p.peek_kw() != "join":
            how = p.next().lower()
            if how == "left" and p.peek_kw() == "array":
                p.next()
                _array_join_tail(outer=True)
                continue
            if not asof and p.peek_kw() == "asof":
                p.next()
                asof = True
            if not any_strict and p.peek_kw() == "any":
                p.next()
                any_strict = True
            # CH explicit LEFT SEMI / LEFT ANTI JOIN spellings: the
            # filter-by-existence joins (output = left columns only).
            # RIGHT SEMI/ANTI would reverse the accumulated pipeline —
            # spell the query with the sides swapped instead.
            if p.peek_kw() in ("semi", "anti"):
                kind = p.next().lower()
                if how != "left":
                    raise ValueError(
                        f"{kind.upper()} JOIN is supported as LEFT "
                        f"{kind.upper()} JOIN; swap the sides for the "
                        "RIGHT form"
                    )
                how = f"left_{kind}"
            if p.peek_kw() == "outer":
                p.next()
        if any_strict and how not in ("inner", "left"):
            raise ValueError(
                "ANY strictness is supported for INNER and LEFT joins"
            )
        if any_strict and asof:
            raise ValueError("ASOF JOIN is already at-most-one; drop ANY")
        if asof and how not in ("inner", "left"):
            raise ValueError("ASOF JOIN supports only inner and LEFT")
        p.expect("join")
        jname, jalias = _table_ref()
        cond: _Node | tuple | None = None
        if p.peek_kw() == "on":
            p.next()
            cond = p.parse_expr()
        elif p.peek_kw() == "using":
            # JOIN ... USING (k, ...): equi-join on shared column
            # names; the output keeps ONE copy of each key column
            # (Spark's list-on join = CH USING dedup semantics)
            p.next()
            paren = p.peek() == "("
            if paren:
                p.next()
            ucols = [p.next()]
            while p.peek() == ",":
                p.next()
                ucols.append(p.next())
            if paren:
                p.expect(")")
            cond = ("using", ucols)
        elif how != "cross":
            raise ValueError(f"JOIN {jname} requires ON or USING")
        if asof and isinstance(cond, tuple):
            raise ValueError(
                "ASOF JOIN requires ON with explicit key equalities "
                "and one timestamp inequality (USING form not "
                "supported)"
            )
        if asof:
            how = "asof_" + how
        elif any_strict:
            how = "any_" + how
        joins.append((how, jname, jalias, cond))

    # PREWHERE: CH's manual two-stage filter (evaluate a cheap
    # predicate on few columns first, then read the rest only for
    # surviving granules). Semantically a WHERE conjunct — and the
    # physical trick it hand-codes is exactly what Catalyst's
    # predicate pushdown + parquet column pruning do automatically, so
    # it compiles to a plain filter.
    prewhere_node = None
    if p.peek_kw() == "prewhere":
        p.next()
        prewhere_node = p.parse_expr()

    where_node = None
    if p.peek_kw() == "where":
        p.next()
        where_node = p.parse_expr()

    group_nodes: list[_Node] = []
    group_modifier: str | None = None
    # explicit GROUPING SETS: each inner list holds indices into
    # group_nodes (the structurally-deduped union of set members)
    grouping_sets: list[list[int]] | None = None

    def _g_eq(a: _Node, b: _Node) -> bool:
        return (
            a.kind == b.kind
            and a.value == b.value
            and len(a.args) == len(b.args)
            and all(_g_eq(x, y) for x, y in zip(a.args, b.args))
        )

    def _g_index(node: _Node) -> int:
        for j, g in enumerate(group_nodes):
            if _g_eq(g, node):
                return j
        group_nodes.append(node)
        return len(group_nodes) - 1

    if p.peek_kw() == "group":
        p.next()
        p.expect("by")
        # GROUP BY ALL (CH 22.x+/DuckDB): group by every select item
        # that contains no aggregate (constants excluded — they are
        # attached post-agg like any constant select item)
        if p.peek_kw() == "all":
            p.next()
            if any(n.kind == "star" for n in select_nodes):
                raise ValueError("GROUP BY ALL cannot combine with *")
            group_nodes.extend(
                n
                for n in select_nodes
                if not _contains_agg(n) and not _is_const(n)
            )
            if not group_nodes:
                raise ValueError(
                    "GROUP BY ALL found no non-aggregate select items"
                )
        # ANSI spelling GROUP BY ROLLUP (keys) / CUBE (keys) — CH
        # accepts it alongside its postfix WITH ROLLUP/CUBE form
        elif (
            p.peek_kw() in ("rollup", "cube")
            and p.toks[p.i + 1 : p.i + 2] == ["("]
        ):
            group_modifier = p.next().lower()
            p.expect("(")
            group_nodes.append(p.parse_expr())
            while p.peek() == ",":
                p.next()
                group_nodes.append(p.parse_expr())
            p.expect(")")
        elif (
            p.peek_kw() == "grouping"
            and p.toks[p.i + 1 : p.i + 2]
            and p.toks[p.i + 1].lower() == "sets"
        ):
            # GROUP BY GROUPING SETS (set, ...): each set is either a
            # parenthesized expr list (possibly empty = grand total) or
            # a bare expression (a one-key set)
            p.next()
            p.next()
            p.expect("(")
            grouping_sets = []
            while True:
                if p.peek() == "(":
                    p.next()
                    one: list[int] = []
                    if p.peek() != ")":
                        one.append(_g_index(p.parse_expr()))
                        while p.peek() == ",":
                            p.next()
                            one.append(_g_index(p.parse_expr()))
                    p.expect(")")
                    grouping_sets.append(one)
                else:
                    grouping_sets.append([_g_index(p.parse_expr())])
                if p.peek() != ",":
                    break
                p.next()
            p.expect(")")
        else:
            group_nodes.append(p.parse_expr())
            while p.peek() == ",":
                p.next()
                group_nodes.append(p.parse_expr())
        # GROUP BY ... WITH TOTALS: the driver surfaces the totals row
        # as a separate protocol block (ch/rows.go:62-80,
        # protocol.go:28-37); here it unifies into the result with NULL
        # group keys, the same shape the rollup/grouping-sets queries
        # use. Compiled as GROUPING SETS ((keys...), ()) — one pass,
        # detail + grand total only, no intermediate rollup levels.
        # WITH ROLLUP / WITH CUBE are the CH super-aggregate modifiers
        # — compiled straight onto Spark's native rollup()/cube()
        # relational operators (one pass, partial-agg friendly).
        if p.peek_kw() == "with":
            if group_modifier is not None:
                raise ValueError(
                    "GROUP BY ROLLUP/CUBE (...) cannot combine with a "
                    "WITH modifier"
                )
            p.next()
            group_modifier = p.next().lower()
            if group_modifier not in ("totals", "rollup", "cube"):
                raise ValueError(
                    "expected TOTALS, ROLLUP or CUBE after GROUP BY "
                    f"... WITH, got {group_modifier!r}"
                )

    having_node = None
    if p.peek_kw() == "having":
        p.next()
        having_node = p.parse_expr()

    # QUALIFY (CH 23.x+/DuckDB): filter on window-function results
    # over the SELECT output — the subquery-free top-n-per-group
    # idiom. Resolved against the OUTPUT columns (reference select
    # items by alias).
    qualify_node = None
    if p.peek_kw() == "qualify":
        p.next()
        qualify_node = p.parse_expr()

    # WINDOW w AS (spec) [, w2 AS (spec)] — named windows (ANSI/CH):
    # OVER w placeholders in the select list and QUALIFY resolve to
    # their spec here, before any compilation. A definition may itself
    # be referenced by several OVER w sites — they share one spec, so
    # Catalyst sees the identical Window instance and computes the
    # partition sort once.
    named_windows: dict[str, tuple] = {}
    if p.peek_kw() == "window":
        p.next()
        while True:
            wname = p.next()
            p.expect("as")
            p.expect("(")
            wp, wo, wf = p.parse_window_spec()
            p.expect(")")
            named_windows[wname] = (tuple(wp), tuple(wo), wf)
            if p.peek() != ",":
                break
            p.next()

    def _resolve_winref(n: _Node) -> _Node:
        if n.kind == "window" and len(n.value) == 2:
            call, name = n.value
            if name not in named_windows:
                raise ValueError(
                    f"unknown named window {name!r} (no WINDOW clause "
                    "definition)"
                )
            return _Node("window", (call, *named_windows[name]))
        if n.args:
            return _Node(
                n.kind, n.value, tuple(_resolve_winref(a) for a in n.args)
            )
        return n

    if named_windows:
        select_nodes = [_resolve_winref(n) for n in select_nodes]
        if qualify_node is not None:
            qualify_node = _resolve_winref(qualify_node)
        if having_node is not None:
            having_node = _resolve_winref(having_node)

    order_nodes: list[tuple[_Node, bool, bool | None]] = []
    # ORDER BY x WITH FILL [FROM a] [TO b] [STEP s] — gap-fill the
    # ordered result over an integer spine; (sort-item index, from, to,
    # step). INTERPOLATE (col) carries the previous value forward;
    # INTERPOLATE (col AS const) fills gap rows with a constant.
    fill_spec: tuple[int, int | None, int | None, int] | None = None
    interpolate: list[tuple[str, _Node | None]] = []
    order_by_all = False
    in_order_by = False
    if p.peek_kw() == "order":
        p.next()
        p.expect("by")
        if p.peek_kw() == "all":
            # ORDER BY ALL (CH/DuckDB): every output column, left to
            # right, ascending — expanded once output names are known
            p.next()
            order_by_all = True
        else:
            in_order_by = True
    if in_order_by:
        while True:
            order_nodes.append(p.parse_sort_item())
            if p.peek_kw() == "with":
                p.next()
                p.expect("fill")
                if fill_spec is not None:
                    raise ValueError(
                        "WITH FILL is supported on one ORDER BY item"
                    )
                f_from = f_to = None
                f_step = 1
                if p.peek_kw() == "from":
                    p.next()
                    f_from = int(_literal_value(p.parse_unary()))
                if p.peek_kw() == "to":
                    p.next()
                    f_to = int(_literal_value(p.parse_unary()))
                if p.peek_kw() == "step":
                    p.next()
                    f_step = int(_literal_value(p.parse_unary()))
                    if f_step <= 0:
                        raise ValueError("WITH FILL STEP must be > 0")
                fill_spec = (len(order_nodes) - 1, f_from, f_to, f_step)
            if p.peek() != ",":
                break
            p.next()
        if p.peek_kw() == "interpolate":
            if fill_spec is None:
                raise ValueError("INTERPOLATE requires WITH FILL")
            p.next()
            p.expect("(")
            while True:
                iname = p.next()
                iexpr: _Node | None = None
                if p.peek_kw() == "as":
                    p.next()
                    iexpr = p.parse_expr()
                interpolate.append((iname, iexpr))
                if p.peek() != ",":
                    break
                p.next()
            p.expect(")")

    if named_windows:
        # ORDER BY items parse after the WINDOW clause, so OVER w
        # references in them resolve here
        order_nodes = [
            (_resolve_winref(n), d, nf) for n, d, nf in order_nodes
        ]

    limit_n: int | None = None
    offset_n: int | None = None
    limit_ties = False
    limit_by: tuple[int, int, list[_Node]] | None = None
    if top_n is not None and p.peek_kw() == "limit":
        raise ValueError("SELECT TOP cannot combine with LIMIT")
    if top_n is not None:
        limit_n, limit_ties = top_n, top_ties
    if p.peek_kw() == "limit":
        p.next()
        first = int(p.next())
        second: int | None = None
        if p.peek() == ",":  # CH's LIMIT offset, count spelling
            p.next()
            second = int(p.next())
        if p.peek_kw() == "by":
            # CH LIMIT [offset,] n BY exprs — per-group top-n (the
            # GROUP BY-free "first n rows per key" CH idiom); an
            # ordinary LIMIT may still follow it
            p.next()
            by_nodes = [p.parse_expr()]
            while p.peek() == ",":
                p.next()
                by_nodes.append(p.parse_expr())
            if second is None:
                limit_by = (first, 0, by_nodes)
            else:
                limit_by = (second, first, by_nodes)
            if p.peek_kw() == "limit":
                p.next()
                limit_n = int(p.next())
                if p.peek_kw() == "offset":
                    p.next()
                    offset_n = int(p.next())
        elif second is not None:
            offset_n, limit_n = first, second
        else:
            limit_n = first
            if (
                p.peek_kw() == "with"
                and p.toks[p.i + 1 : p.i + 2]
                and p.toks[p.i + 1].lower() == "ties"
            ):
                # LIMIT n WITH TIES (CH/ANSI FETCH ... WITH TIES):
                # also keep every row tied with the n-th on the ORDER
                # BY key
                p.next()
                p.next()
                limit_ties = True
            if p.peek_kw() == "offset":
                p.next()
                offset_n = int(p.next())

    if distinct_on is not None:
        if limit_by is not None:
            raise ValueError("DISTINCT ON cannot combine with LIMIT BY")
        limit_by = (1, 0, distinct_on)

    def _resolve(name: str | DataFrame) -> DataFrame:
        if isinstance(name, DataFrame):  # derived table, already planned
            return name
        if name not in tables:
            raise ValueError(f"unknown table {name!r}")
        return tables[name]

    # every relation is aliased — by its AS alias or its own name — so
    # qualified column refs (t.g) resolve whether or not the query
    # aliased the table, like real SQL name scoping
    df = _resolve(table).alias(table_alias or table)
    if sample_frac is not None:
        # storage-read-time sampling: one deterministic hash compare,
        # fully pushed into the scan stage (no shuffle, no RNG state)
        from ..operators.sampling import HASH_SPACE, hash60

        df = df.where(
            hash60(F.col(df.columns[0]), "ch_sample")
            < int(sample_frac * HASH_SPACE)
        )
    if prewhere_node is not None:
        # PREWHERE filters the STORAGE table before joins and ARRAY
        # JOIN (CH evaluates it on the base table's granules): applied
        # here, unmatched outer-join rows survive and ARRAY JOIN
        # column replacement cannot shadow the predicate's inputs. The
        # two-stage read it hand-codes is what predicate pushdown +
        # column pruning already do to a base-table filter.
        df = df.where(_compile(prewhere_node, tables))
    for how, jname, jalias, cond in joins:
        if how.startswith("asof_"):
            df = _asof_join(
                df, _resolve(jname), jalias or jname, cond,
                how[len("asof_"):], tables,
            )
            continue
        if how.startswith("any_"):
            how = how[len("any_"):]
            right = _any_dedup_right(
                _resolve(jname), jalias or jname, cond
            )
            right = F.broadcast(right)
            if isinstance(cond, tuple):
                df = df.join(right, on=list(cond[1]), how=how)
            else:
                df = df.join(right, on=_compile(cond, tables), how=how)
            continue
        right = _resolve(jname).alias(jalias or jname)
        right = F.broadcast(right)
        if cond is None:
            df = df.crossJoin(right)
        elif isinstance(cond, tuple):  # USING (k, ...)
            df = df.join(right, on=list(cond[1]), how=how)
        else:
            df = df.join(right, on=_compile(cond, tables), how=how)
    for outer, node, alias in array_joins:
        arr = _compile(node, tables)
        gen = F.explode_outer(arr) if outer else F.explode(arr)
        if alias is None:
            if node.kind != "col":
                raise ValueError(
                    "ARRAY JOIN of a computed expression requires AS"
                )
            name = str(node.value).rsplit(".", 1)[-1]
            df = df.select(
                *[c for c in df.columns if c != name], gen.alias(name)
            )
        else:
            df = df.select("*", gen.alias(alias))

    # arrayJoin() in EXPRESSION position: CH multiplies rows before
    # WHERE/GROUP BY/projection, and the call is legal anywhere an
    # expression is (SELECT items, inside aggregates, WHERE, ORDER
    # BY). Spark's explode is a top-level-only generator, so hoist:
    # each structurally-distinct argument becomes one explode stage
    # (same argument twice -> ONE shared expansion, CH semantics;
    # distinct arguments -> Cartesian, like chained ARRAY JOINs), and
    # every call node is rewritten in place to the hidden column.
    def _aj_children(n: _Node):
        for a in n.args:
            if isinstance(a, _Node):
                yield a
            elif isinstance(a, (tuple, list)):
                for x in a:
                    if isinstance(x, _Node):
                        yield x
        v = n.value
        if isinstance(v, (tuple, list)):
            for x in v:
                if isinstance(x, _Node):
                    yield x
                elif isinstance(x, (tuple, list)):
                    for y in x:
                        if isinstance(y, _Node):
                            yield y

    def _aj_struct_key(n: _Node):
        return (
            n.kind,
            str(n.value),
            tuple(_aj_struct_key(c) for c in _aj_children(n)),
        )

    aj_groups: dict[tuple, list[_Node]] = {}

    def _aj_scan(n: _Node | None) -> None:
        if n is None or not isinstance(n, _Node) or n.kind == "lambda":
            return
        if (
            n.kind == "call"
            and str(n.value).lower() == "arrayjoin"
            and len(n.args) == 1
        ):
            arg = n.args[0]
            if any(
                c.kind == "call" and str(c.value).lower() == "arrayjoin"
                for c in _aj_iter_tree(arg)
            ):
                raise ValueError("nested arrayJoin is not supported")
            aj_groups.setdefault(_aj_struct_key(arg), []).append(n)
            return
        for c in _aj_children(n):
            _aj_scan(c)

    def _aj_iter_tree(n: _Node):
        yield n
        for c in _aj_children(n):
            yield from _aj_iter_tree(c)

    # CH external dictionaries: the dictGet family. A dictionary here
    # is any relation in the statement env whose FIRST column is the
    # key (the same first-column convention SAMPLE uses). CH keeps
    # every dictionary fully in RAM on every node; the faithful Spark
    # mapping is ONE broadcast LEFT JOIN per (dictionary,
    # key-expression) group — attrs requested from the same dictionary
    # under the same key share a single join, and the call nodes
    # rewrite in place to the joined hidden columns:
    #   dictGet(d, a, k)            -> coalesce(attr, type default)
    #   dictGetOrDefault(d, a, k, v)-> coalesce(attr, v)
    #   dictGetOrNull(d, a, k)      -> attr
    #   dictHas(d, k)               -> coalesce(matched, false)
    # (CH returns the attribute TYPE's default — 0, '', 1970-01-01 —
    # for a missing key, not NULL; the per-type coalesce reproduces
    # that.) The tiny pre-join groupBy pins duplicate-key behavior to
    # the minimum attribute value — CH rejects duplicate keys at
    # dictionary load, so unique-key dictionaries are unaffected and
    # duplicates stay deterministic instead of multiplying rows.
    _DICT_FNS = {"dictget", "dictgetordefault", "dictgetornull", "dicthas"}
    dict_groups: dict[tuple, list[_Node]] = {}

    def _dict_scan(n: _Node | None) -> None:
        if n is None or not isinstance(n, _Node) or n.kind == "lambda":
            return
        if n.kind == "call" and str(n.value).lower() in _DICT_FNS:
            fnl = str(n.value).lower()
            need = {"dicthas": 2, "dictgetordefault": 4}.get(fnl, 3)
            if len(n.args) != need:
                raise ValueError(f"{n.value} takes {need} arguments")
            if n.args[0].kind != "str":
                raise ValueError(
                    f"{n.value} dictionary name must be a string literal"
                )
            key_node = n.args[1 if fnl == "dicthas" else 2]
            if any(
                c.kind == "call" and str(c.value).lower() == "arrayjoin"
                for c in _aj_iter_tree(key_node)
            ):
                raise ValueError(
                    "dictGet keys may not contain arrayJoin"
                )
            _dict_scan(key_node)  # inner lookups join first
            if fnl == "dictgetordefault":
                _dict_scan(n.args[3])
            dict_groups.setdefault(
                (str(n.args[0].value), _aj_struct_key(key_node)), []
            ).append(n)
            return
        for c in _aj_children(n):
            _dict_scan(c)

    for n in select_nodes:
        _dict_scan(n)
    _dict_scan(where_node)
    _dict_scan(having_node)
    _dict_scan(qualify_node)
    for g in group_nodes:
        _dict_scan(g)
    for onode, _d, _nf in order_nodes:
        _dict_scan(onode)

    def _dict_default_node(dt) -> _Node:
        s = dt.simpleString()
        if s == "string":
            return _Node("str", "")
        if s == "boolean":
            return _Node("cast", "boolean", (_Node("num", 0),))
        if s == "date":
            return _Node("cast", "date", (_Node("str", "1970-01-01"),))
        if s.startswith("timestamp"):
            return _Node(
                "cast", s, (_Node("str", "1970-01-01 00:00:00"),)
            )
        if s in (
            "byte", "short", "int", "long", "bigint", "float",
            "double",
        ) or s.startswith("decimal"):
            return _Node("cast", s, (_Node("num", 0),))
        raise ValueError(
            f"dictGet has no CH default for type {s}; use dictGetOrNull"
        )

    for (dname, _key_), calls in dict_groups.items():
        if dname not in tables:
            raise ValueError(f"unknown dictionary {dname!r}")
        ddf = tables[dname]
        dict_key = ddf.columns[0]
        attrs: list[str] = []
        for call in calls:
            if str(call.value).lower() == "dicthas":
                continue
            if call.args[1].kind != "str":
                raise ValueError(
                    f"{call.value} attribute must be a string literal"
                )
            a = str(call.args[1].value)
            if a not in ddf.columns:
                raise ValueError(
                    f"dictionary {dname!r} has no attribute {a!r}"
                )
            if a == dict_key:
                raise ValueError(
                    f"{a!r} is the key of dictionary {dname!r}, not an "
                    "attribute"
                )
            if a not in attrs:
                attrs.append(a)
        seq = next(_SCALAR_SEQ)
        hk = f"_dk_{seq}"
        hidden = {a: f"_dg_{seq}_{i}" for i, a in enumerate(attrs)}
        hhas = f"_dh_{seq}"
        right = (
            ddf.groupBy(F.col(dict_key).alias(hk))
            .agg(*[F.min(a).alias(hidden[a]) for a in attrs])
            .withColumn(hhas, F.lit(True))
        )
        sample = calls[0]
        key_node = sample.args[
            1 if str(sample.value).lower() == "dicthas" else 2
        ]
        df = df.join(
            F.broadcast(right),
            _compile(key_node, tables) == F.col(hk),
            "left",
        ).drop(hk)
        rtypes = {hidden[a]: right.schema[hidden[a]].dataType for a in attrs}
        for call in calls:
            fnl = str(call.value).lower()
            if fnl == "dicthas":
                call.kind, call.value, call.args = (
                    "call",
                    "coalesce",
                    (
                        _Node("col", hhas),
                        _Node("cast", "boolean", (_Node("num", 0),)),
                    ),
                )
                continue
            hcol = hidden[str(call.args[1].value)]
            if fnl == "dictgetornull":
                call.kind, call.value, call.args = "col", hcol, ()
            elif fnl == "dictgetordefault":
                call.kind, call.value, call.args = (
                    "call",
                    "coalesce",
                    (_Node("col", hcol), call.args[3]),
                )
            else:
                call.kind, call.value, call.args = (
                    "call",
                    "coalesce",
                    (
                        _Node("col", hcol),
                        _dict_default_node(rtypes[hcol]),
                    ),
                )

    for n in select_nodes:
        _aj_scan(n)
    _aj_scan(where_node)
    _aj_scan(having_node)
    _aj_scan(qualify_node)
    for g in group_nodes:
        _aj_scan(g)
    for onode, _d, _nf in order_nodes:
        _aj_scan(onode)
    for _key_, calls in aj_groups.items():
        hidden = f"_aj_{next(_SCALAR_SEQ)}"
        df = df.select(
            "*", F.explode(_compile(calls[0].args[0], tables)).alias(hidden)
        )
        for call in calls:
            call.kind = "col"
            call.value = hidden
            call.args = ()

    if where_node is not None:
        # CH resolves bare names in WHERE against explicit select
        # aliases (the expression-alias extension; alias wins over a
        # same-named source column, prefer_column_name_to_alias=0 —
        # same rule as GROUP BY below). Substitution is AST-level and
        # only descends n.args, so subquery bodies (captured payloads,
        # not args) keep their own inner-first scope. Aggregate
        # aliases are excluded: CH too rejects filtering on an
        # aggregate in WHERE (that's HAVING).
        _walias = {
            a: n
            for n, a in zip(select_nodes, aliases)
            if a is not None and not _contains_agg(n)
        }

        def _wsub(n: _Node) -> _Node:
            if (
                n.kind == "col"
                and "." not in str(n.value)
                and str(n.value) in _walias
            ):
                return _walias[str(n.value)]
            if n.args:
                return _Node(
                    n.kind, n.value, tuple(_wsub(a) for a in n.args)
                )
            return n

        if _walias:
            where_node = _wsub(where_node)
        # WHERE applies conjunct by conjunct so subquery predicates can
        # take their own paths. Each EXISTS / IN-subquery conjunct is
        # first planned standalone (ANSI inner-first name resolution —
        # a bare name that binds inside the subquery IS an inner ref,
        # so the uncorrelated materialization path is the correct
        # semantics whenever it analyzes); only when standalone
        # analysis fails on an unresolved column does the conjunct get
        # the correlated semi/anti-join rewrite. Ordinary conjuncts
        # AND back together into a single filter.
        from pyspark.errors import AnalysisException

        outer_aliases = {table_alias or table} if isinstance(
            table, str
        ) else {table_alias}
        outer_aliases |= {
            jalias or jname
            for _, jname, jalias, _ in joins
            if isinstance(jname, str) or jalias
        }
        outer_aliases.discard(None)
        outer_cols = set(df.columns)
        plain_cond: Column | None = None
        corr_rewrites: list[tuple] = []
        for conj in _and_conjuncts(where_node):
            pred = _subquery_pred(conj)
            col: Column | None = None
            if pred is None:
                col = _compile(conj, tables)
            elif _probably_correlated(
                pred[2], outer_aliases, outer_cols
            ):
                corr_rewrites.append(pred)
            else:
                try:
                    col = _compile(conj, tables)
                except AnalysisException:
                    corr_rewrites.append(pred)
            if col is not None:
                plain_cond = (
                    col if plain_cond is None else plain_cond & col
                )
        if plain_cond is not None:
            df = df.where(plain_cond)
        for kind, neg, payload, detail in corr_rewrites:
            if kind == "scalar_cmp":
                df = _apply_correlated_scalar(
                    df, neg, payload, detail, tables
                )
            else:
                df = _apply_correlated(
                    df, kind, neg, payload, detail, tables
                )

    # SELECT * / SELECT alias.* — expand top-level stars into concrete
    # column nodes against the (now-built) FROM relation, preserving
    # item order. count(*)'s inner star is an argument, not a select
    # item, and is untouched. A bare * over a join with duplicate
    # column names resolves like Spark's own `select("*")` (the
    # qualified form disambiguates).
    if any(n.kind == "star" for n in select_nodes):
        expanded: list[_Node] = []
        exp_aliases: list[str | None] = []
        for n, a in zip(select_nodes, aliases):
            if n.kind != "star":
                expanded.append(n)
                exp_aliases.append(a)
                continue
            if a is not None:
                raise ValueError("cannot alias a * select item")
            mods: tuple = ()
            if isinstance(n.value, tuple):
                qual_v, mods = n.value
                n = _Node("star", qual_v)
            if n.value is None and joins:
                # bare * over a join: expand RELATION BY RELATION with
                # qualified refs — shared column names (the join key!)
                # would otherwise produce ambiguous bare refs; the
                # duplicate-name disambiguation below renames the
                # later ones (u.id -> u_id), like CH's qualified output
                quals = [table_alias or table] + [
                    jalias or jname for _, jname, jalias, _ in joins
                ]
                pairs = [
                    (q, c) for q in quals
                    for c in df.select(f"{q}.*").columns
                ]
            elif n.value is None:
                pairs = [("", c) for c in df.columns]
            else:
                qual = str(n.value)
                pairs = [(qual, c) for c in df.select(f"{qual}.*").columns]
            # apply the CH column-matcher modifiers in declaration
            # order per column: drop EXCEPTed names, swap in REPLACE
            # expressions (which keep the column's name), wrap in each
            # APPLY function (named fn_col by the derived-name rule)
            excepted: set[str] = set()
            replace_map: dict[str, _Node] = {}
            applies: list[str] = []
            for mkind, payload in mods:
                if mkind == "except":
                    excepted.update(payload)
                elif mkind == "replace":
                    replace_map.update(dict(payload))
                else:
                    applies.append(payload)
            for q, c in pairs:
                if c in excepted:
                    continue
                ref = f"{q}.{c}" if q else c
                node2 = replace_map.get(c) or _Node("col", ref)
                for fname in applies:
                    node2 = _Node("call", fname, (node2,))
                expanded.append(node2)
                exp_aliases.append(c if c in replace_map else None)
        select_nodes, aliases = expanded, exp_aliases

    def _name(n: _Node, i: int) -> str:
        if n.kind == "col":
            return str(n.value).rsplit(".", 1)[-1]
        if n.kind == "call" and len(n.args) == 1 and n.args[0].kind == "col":
            base = str(n.args[0].value).rsplit(".", 1)[-1]
            return f"{n.value}_{base}"
        return f"c{i}"

    names = [
        aliases[i] or _name(n, i) for i, n in enumerate(select_nodes)
    ]
    # derived names can collide once the table qualifier is stripped
    # (SELECT a.x, b.x) — keep the first occurrence bare and rename
    # later non-aliased duplicates by their qualifier (b.x -> b_x), so
    # downstream ORDER BY / alias resolution stays unambiguous
    seen: set[str] = set()
    for i, nm in enumerate(names):
        if nm in seen and aliases[i] is None:
            n = select_nodes[i]
            if n.kind == "col" and "." in str(n.value):
                qual, base = str(n.value).rsplit(".", 1)
                cand = f"{qual.rsplit('.', 1)[-1]}_{base}"
            else:
                cand = f"c{i}"
            if cand in seen or cand in names[i + 1:]:
                cand = f"c{i}"
            names[i] = cand
        seen.add(names[i])
    if order_by_all:
        # every output column, left to right, ascending
        order_nodes = [(_Node("col", nm), False, None) for nm in names]
    # positional references: a bare integer literal in GROUP BY /
    # ORDER BY selects the k-th output column (DuckDB default; CH's
    # enable_positional_arguments behavior). Grouping/sorting by an
    # actual constant is meaningless, so the positional reading is
    # never a loss. Bounds-checked against the (star-expanded) list.
    def _positional(k: int) -> int:
        if not (1 <= k <= len(select_nodes)):
            raise ValueError(
                f"positional reference {k} is out of range "
                f"(1..{len(select_nodes)})"
            )
        return k - 1

    for _gi, _g in enumerate(group_nodes):
        if _g.kind == "num" and isinstance(_g.value, int):
            group_nodes[_gi] = select_nodes[_positional(_g.value)]
    # GROUP BY alias resolution: a bare grouping key naming an
    # EXPLICIT select alias substitutes that item's expression. On an
    # alias-vs-source-column clash the ALIAS wins — ClickHouse's
    # documented default (prefer_column_name_to_alias = 0), and the
    # famous CH gotcha this front end reproduces rather than papers
    # over. Bare unaliased columns are untouched.
    if group_nodes:
        _galias = {
            a: n
            for n, a in zip(select_nodes, aliases)
            if a is not None and not _contains_agg(n)
        }
        for _gi, _g in enumerate(group_nodes):
            if (
                _g.kind == "col"
                and "." not in str(_g.value)
                and str(_g.value) in _galias
            ):
                group_nodes[_gi] = _galias[str(_g.value)]
    order_nodes = [
        (
            _Node("col", names[_positional(n.value)])
            if n.kind == "num" and isinstance(n.value, int)
            else n,
            d,
            nf,
        )
        for n, d, nf in order_nodes
    ]
    # A HAVING whose aggregate does not appear in the SELECT list
    # (``SELECT g ... GROUP BY g HAVING sum(x) > 1``) still makes the
    # query an aggregation — the hidden `_having` column carries it.
    _agg_select = any(_contains_agg(n) for n in select_nodes) or (
        bool(group_nodes)
        and having_node is not None
        and _contains_agg(having_node)
    )
    if not _agg_select:
        # Correlated scalar subqueries in the SELECT list — the common
        # analyst shape ``SELECT k, (SELECT count(*) FROM d WHERE
        # d.k = t.k) AS n`` — decorrelate exactly like the WHERE form:
        # each one LEFT-joins its grouped derived table onto the
        # relation and splices the value column back into the item's
        # expression tree (a rawcol node), so arithmetic around the
        # subquery keeps working. Inner-first resolution as
        # everywhere: standalone planning wins when it analyzes.
        # (In AGGREGATING selects a correlated scalar item remains
        # unsupported and surfaces the analysis error.)
        _sel_aliases = (
            {table_alias or table} if isinstance(table, str)
            else {table_alias}
        )
        _sel_aliases |= {
            jalias or jname
            for _, jname, jalias, _ in joins
            if isinstance(jname, str) or jalias
        }
        _sel_aliases.discard(None)
        _sel_cols = set(df.columns)
        _has_subq = any(
            _contains_scalar_subq(n) for n in select_nodes
        )
        if _has_subq:
            from pyspark.errors import AnalysisException

            def _rw(n: _Node) -> _Node:
                nonlocal df
                if n.kind == "scalar_subq":
                    payload = n.value
                    if not _probably_correlated(
                        payload, _sel_aliases, _sel_cols
                    ):
                        try:
                            _compile(n, tables)  # standalone + memo
                            return n
                        except AnalysisException:
                            pass
                    df, v, _hidden = _attach_scalar_join(df, payload, tables)
                    return _Node("rawcol", v)
                if n.args:
                    return _Node(
                        n.kind, n.value,
                        tuple(_rw(a) for a in n.args), n.memo,
                    )
                return n

            select_nodes = [_rw(n) for n in select_nodes]
    # GROUPING(expr) / GROUPING_ID(): super-aggregate indicators read
    # off the hidden _gid column (bit i of grouping_id belongs to the
    # i-th key, first key = most significant — Spark/ANSI bit order).
    # Standalone select items only; computed post-aggregation.
    grouping_posthoc: list[tuple[str, object]] = []

    def _is_grouping_call(n: _Node) -> bool:
        return n.kind == "call" and str(n.value).lower() in (
            "grouping", "grouping_id", "groupingid"
        )

    if any(_is_grouping_call(n) for n in select_nodes):
        if (
            group_modifier not in ("rollup", "cube", "totals")
            and grouping_sets is None
        ):
            raise ValueError(
                "grouping()/grouping_id() require ROLLUP, CUBE, "
                "WITH TOTALS, or GROUPING SETS"
            )

        def _struct_eq(a: _Node, b: _Node) -> bool:
            return (
                a.kind == b.kind
                and a.value == b.value
                and len(a.args) == len(b.args)
                and all(
                    _struct_eq(x, y) for x, y in zip(a.args, b.args)
                )
            )

        _nkg = len(group_nodes)
        for i, n in enumerate(select_nodes):
            if not _is_grouping_call(n):
                continue
            if str(n.value).lower() == "grouping":
                if len(n.args) != 1:
                    raise ValueError("grouping() takes one argument")
                arg = n.args[0]
                idx = next(
                    (
                        j
                        for j, g in enumerate(group_nodes)
                        if _struct_eq(arg, g)
                    ),
                    None,
                )
                if idx is None:
                    raise ValueError(
                        "grouping() argument must be a grouping key"
                    )
                shift = _nkg - 1 - idx
                grouping_posthoc.append(
                    (
                        names[i],
                        lambda gid, s=shift: F.shiftright(
                            gid.cast("long"), s
                        )
                        .bitwiseAND(F.lit(1))
                        .cast("int"),
                    )
                )
            else:
                if not n.args:
                    # zero-arg CH form: the full grouping_id
                    grouping_posthoc.append(
                        (names[i], lambda gid: gid.cast("long"))
                    )
                    continue
                # grouping_id(a, b, ...): bitmask over the LISTED keys
                # (DuckDB/ANSI arity) — first listed = most significant
                shifts = []
                for arg in n.args:
                    idx = next(
                        (
                            j
                            for j, g in enumerate(group_nodes)
                            if _struct_eq(arg, g)
                        ),
                        None,
                    )
                    if idx is None:
                        raise ValueError(
                            "grouping_id() arguments must be "
                            "grouping keys"
                        )
                    shifts.append(_nkg - 1 - idx)

                def _gid_mask(gid, ss=tuple(shifts)):
                    total = F.lit(0).cast("long")
                    for pos, s in enumerate(ss):
                        bit = F.shiftright(
                            gid.cast("long"), s
                        ).bitwiseAND(F.lit(1))
                        total = total + F.shiftleft(
                            bit, len(ss) - 1 - pos
                        )
                    return total.cast("long")

                grouping_posthoc.append((names[i], _gid_mask))
    _agg_select = _agg_select or bool(grouping_posthoc)
    if _agg_select:
        agg_cols = [
            _compile(n, tables).alias(names[i])
            for i, n in enumerate(select_nodes)
            if _contains_agg(n)
        ]
        # HAVING rides along as a hidden boolean aggregate column —
        # its aggregate subexpressions evaluate in the same pass as the
        # select aggregates, then filter + drop. Bare columns naming a
        # SELECT alias resolve to that select expression first
        # (CH/ANSI HAVING-alias semantics).
        if having_node is not None:
            by_name = dict(zip(names, select_nodes))

            def _resolve_aliases(n: _Node) -> _Node:
                if n.kind == "col" and str(n.value) in by_name:
                    return by_name[str(n.value)]
                if n.args:
                    return _Node(
                        n.kind, n.value,
                        tuple(_resolve_aliases(a) for a in n.args),
                    )
                return n

            agg_cols.append(
                _compile(_resolve_aliases(having_node), tables).alias("_having")
            )
        if group_nodes:
            # group keys come out of groupBy named after the select item
            # they correspond to (structural match handles AS aliases on
            # computed group expressions); non-agg select items must be
            # group expressions and are re-selected by name below
            def _node_eq(a: _Node, b: _Node) -> bool:
                return (
                    a.kind == b.kind
                    and a.value == b.value
                    and len(a.args) == len(b.args)
                    and all(_node_eq(x, y) for x, y in zip(a.args, b.args))
                )

            # each group key claims a DISTINCT select item: the same
            # expression selected twice under two aliases (a, b) must
            # yield two distinctly-named key columns, not two columns
            # both named after the first match
            _used_sel: set[int] = set()

            def _group_name(g: _Node, i: int) -> str:
                for j, sel in enumerate(select_nodes):
                    if j not in _used_sel and _node_eq(sel, g):
                        _used_sel.add(j)
                        return names[j]
                return _name(g, 1000 + i)

            key_names = [
                _group_name(g, i) for i, g in enumerate(group_nodes)
            ]
            if group_modifier or grouping_sets is not None:
                from pyspark.sql import functions as _F

                # hidden grouping_id tells super-aggregate rows (keys
                # grouped away) apart from detail rows whose keys are
                # naturally NULL; for TOTALS it also lets HAVING filter
                # detail only (CH default totals_mode = before_having:
                # totals ignore HAVING). groupingSets matches set
                # entries to grouping columns by EXPRESSION equality —
                # an .alias() wrapper breaks the match — so the keys go
                # in bare and the output renames positionally (grouping
                # columns lead the agg output in cols order). ROLLUP
                # and CUBE map to Spark's native relational operators
                # (same single-pass partial-agg plan shape); their
                # super-aggregate rows go through HAVING like detail
                # rows (ANSI — and what the DuckDB oracle does).
                bare = [_compile(g, tables) for g in group_nodes]
                nk = len(bare)
                # the modifier's / explicit grouping sets MINUS every
                # empty set (those are handled as global aggregates)
                n_empty = 1
                if grouping_sets is not None:
                    sets = [
                        [bare[j] for j in s] for s in grouping_sets if s
                    ]
                    n_empty = sum(1 for s in grouping_sets if not s)
                elif group_modifier == "totals":
                    sets = [bare]
                elif group_modifier == "rollup":
                    sets = [bare[:i] for i in range(nk, 0, -1)]
                else:  # cube: all non-empty subsets
                    sets = [
                        [bare[j] for j in range(nk) if m & (1 << j)]
                        for m in range((1 << nk) - 1, 0, -1)
                    ]
                detail = (
                    df.groupingSets(sets, *bare).agg(
                        *agg_cols, _F.grouping_id().alias("_gid")
                    )
                    if sets
                    else None
                )
                # an () grouping set yields exactly ONE row even over
                # EMPTY input (ANSI; Spark's native cube/rollup drop
                # it) — so each grand-total row is a plain global
                # aggregate, unioned in positionally with NULL keys.
                # Key types for the NULL literals come from the detail
                # plan when there is one, else from the key exprs.
                out = detail
                if n_empty:
                    if detail is not None:
                        key_types = [
                            f.dataType for f in detail.schema.fields[:nk]
                        ]
                        gid_type = detail.schema["_gid"].dataType
                        tail_cols = detail.columns[nk:]
                    else:
                        probe = df.select(
                            *[c.alias(f"_k{i}") for i, c in enumerate(bare)]
                        )
                        key_types = [f.dataType for f in probe.schema.fields]
                        gid_type = "int"
                        tail_cols = None
                    total = df.agg(
                        *agg_cols,
                        _F.lit((1 << nk) - 1).cast(gid_type).alias("_gid"),
                    )
                    total = total.select(
                        *[
                            _F.lit(None).cast(t).alias(f"_k{i}")
                            for i, t in enumerate(key_types)
                        ],
                        *(tail_cols if tail_cols is not None else total.columns),
                    )
                    for _ in range(n_empty):
                        out = total if out is None else out.union(total)
                agg_names = out.columns[nk:]
                out = out.toDF(*key_names, *agg_names)
                for _gnm, _gbuild in grouping_posthoc:
                    out = out.withColumn(_gnm, _gbuild(_F.col("_gid")))
            else:
                keys = [
                    c.alias(key_names[i])
                    for i, c in enumerate(
                        _compile(g, tables) for g in group_nodes
                    )
                ]
                # mixed-distinct split (see _DISTINCT_AGG_FNS above):
                # only when HAVING is absent, every agg select item is
                # purely one class, and at least one regular partner
                # is buffer-backed (fixed-width mixes measured faster
                # unsplit, r11).
                agg_items = [
                    (k, i)
                    for k, (i, n) in enumerate(
                        (i, n)
                        for i, n in enumerate(select_nodes)
                        if _contains_agg(n)
                    )
                ]
                dist_k = [
                    k
                    for k, i in agg_items
                    if _calls_in(select_nodes[i], _DISTINCT_AGG_FNS)
                ]
                reg_k = [k for k, i in agg_items if k not in set(dist_k)]
                mixed_item = any(
                    _calls_in(select_nodes[i], _DISTINCT_AGG_FNS)
                    and _calls_in(
                        select_nodes[i], _AGGS - _DISTINCT_AGG_FNS
                    )
                    for k, i in agg_items
                )
                split = (
                    having_node is None
                    and not grouping_posthoc
                    and dist_k
                    and reg_k
                    and not mixed_item
                    and any(
                        _calls_in(select_nodes[i], _BUFFER_AGGS)
                        for k, i in agg_items
                        if k in set(reg_k)
                    )
                )
                if split:
                    main = df.groupBy(*keys).agg(
                        *[agg_cols[k] for k in reg_k]
                    )
                    side_keys = [
                        _compile(g, tables).alias(f"_dk{i}")
                        for i, g in enumerate(group_nodes)
                    ]
                    side = df.groupBy(*side_keys).agg(
                        *[agg_cols[k] for k in dist_k]
                    )
                    cond = F.lit(True)
                    for i, kn in enumerate(key_names):
                        cond = cond & main[kn].eqNullSafe(
                            side[f"_dk{i}"]
                        )
                    out = main.join(side, cond).drop(
                        *[f"_dk{i}" for i in range(len(key_names))]
                    )
                else:
                    out = df.groupBy(*keys).agg(*agg_cols)
        else:
            out = df.agg(*agg_cols)
        if having_node is not None:
            from pyspark.sql import functions as _F

            keep = _F.col("_having")
            if group_modifier == "totals":
                keep = keep | (
                    _F.col("_gid") == (2 ** len(group_nodes) - 1)
                )
            out = out.where(keep)
        # constant select items (e.g. the 'total' tag of a UNION ALL
        # branch) are neither aggregates nor group keys — attach them
        # to the aggregated frame post-hoc. Likewise a non-agg item
        # that duplicates a grouping key's EXPRESSION under another
        # alias (SELECT v%2 AS a, v%2 AS b ... GROUP BY v%2) copies
        # the key column it matches.
        def _node_eq_post(a: _Node, b: _Node) -> bool:
            return (
                a.kind == b.kind
                and a.value == b.value
                and len(a.args) == len(b.args)
                and all(
                    _node_eq_post(x, y) for x, y in zip(a.args, b.args)
                )
            )

        for i, n in enumerate(select_nodes):
            if _contains_agg(n) or names[i] in out.columns:
                continue
            if _is_const(n):
                out = out.withColumn(names[i], _compile(n, tables))
                continue
            for j, sel in enumerate(select_nodes):
                if (
                    j != i
                    and names[j] in out.columns
                    and _node_eq_post(sel, n)
                ):
                    out = out.withColumn(names[i], F.col(names[j]))
                    break
        out = out.select(*names)
    else:
        if having_node is not None:
            raise ValueError("HAVING requires an aggregating SELECT")
        if qualify_node is not None:
            # non-aggregating QUALIFY runs BEFORE the projection
            # (DuckDB's logical order: windows see source columns too);
            # select aliases substitute their expressions
            by_name_q = dict(zip(names, select_nodes))

            def _rsq(n: _Node) -> _Node:
                if n.kind == "col" and str(n.value) in by_name_q:
                    return by_name_q[str(n.value)]
                if n.kind == "window":
                    if len(n.value) == 2:
                        raise ValueError(
                            f"named window {n.value[1]!r} has no "
                            "WINDOW clause definition"
                        )
                    call, part, order, frame = n.value
                    return _Node(
                        "window",
                        (
                            _rsq(call),
                            tuple(_rsq(x) for x in part),
                            tuple(
                                (_rsq(on), d, nf) for on, d, nf in order
                            ),
                            frame,
                        ),
                    )
                if n.args:
                    return _Node(
                        n.kind, n.value,
                        tuple(_rsq(a) for a in n.args), n.memo,
                    )
                return n

            df = (
                df.withColumn(
                    "_qualify", _compile(_rsq(qualify_node), tables)
                )
                .where(F.col("_qualify"))
                .drop("_qualify")
            )
            qualify_node = None  # consumed pre-projection
        out = df.select(
            *[_compile(n, tables).alias(names[i]) for i, n in enumerate(select_nodes)]
        )
        # untuple(t): star-expand the struct into one output column
        # per field (CH's tuple flattener). The struct compiles as a
        # normal column first; the expansion reads the resolved
        # schema, so any tuple-valued expression works. Supported in
        # the plain-projection path (CH's own untuple is likewise a
        # SELECT-level rewrite).
        untuple_idx = {
            i
            for i, n in enumerate(select_nodes)
            if n.kind == "call" and str(n.value).lower() == "untuple"
        }
        if untuple_idx:
            from pyspark.sql.types import StructType

            expanded = []
            for i, cname in enumerate(out.columns):
                if i in untuple_idx:
                    dt = out.schema.fields[i].dataType
                    if not isinstance(dt, StructType):
                        raise ValueError(
                            "untuple() needs a tuple-valued argument"
                        )
                    expanded.extend(
                        out[cname].getField(f.name).alias(f.name)
                        for f in dt.fields
                    )
                else:
                    expanded.append(out[cname])
            out = out.select(*expanded)

    if distinct:
        # SELECT DISTINCT: dedup over the full select list (one hash
        # shuffle on all output columns)
        out = out.dropDuplicates()

    if qualify_node is not None:
        # window predicates cannot live in a WHERE clause directly —
        # compute the boolean as a column (the window evaluates over
        # the current output frame), filter, drop
        out = (
            out.withColumn(
                "_qualify", _compile(qualify_node, tables)
            )
            .where(F.col("_qualify"))
            .drop("_qualify")
        )

    if order_nodes:
        # ORDER BY resolves against the output: a bare column naming an
        # output uses the select alias, and any expression structurally
        # equal to a select item (e.g. ORDER BY count(*) when count(*)
        # is selected) reuses that output column — recompiling an
        # aggregate against the already-aggregated frame would throw
        from pyspark.sql import functions as _F

        def _node_eq2(a: _Node, b: _Node) -> bool:
            return (
                a.kind == b.kind
                and a.value == b.value
                and len(a.args) == len(b.args)
                and all(_node_eq2(x, y) for x, y in zip(a.args, b.args))
            )

        def _order_col(node: _Node):
            if node.kind == "col" and str(node.value) in names:
                return _F.col(str(node.value))
            for j, sel in enumerate(select_nodes):
                if _node_eq2(sel, node):
                    return _F.col(names[j])
            return _compile(node, tables)

        def _contains_window(n: _Node) -> bool:
            return n.kind == "window" or any(
                _contains_window(a) for a in n.args
            )

        sort_cols = []
        hidden_ord: list[str] = []
        for k, (node, desc, nulls_first) in enumerate(order_nodes):
            base = None
            if node.kind == "col" and str(node.value) in names:
                base = _F.col(str(node.value))
            else:
                for j, sel in enumerate(select_nodes):
                    if _node_eq2(sel, node):
                        base = _F.col(names[j])
                        break
            if base is None:
                if _contains_window(node):
                    # Spark's Sort operator rejects window expressions
                    # inline — compute the window as a hidden column
                    # (same shape as QUALIFY), sort on it, drop after
                    hn = f"_ordw{k}"
                    out = out.withColumn(hn, _compile(node, tables))
                    hidden_ord.append(hn)
                    base = _F.col(hn)
                else:
                    base = _compile(node, tables)
            sort_cols.append(_sort_col(base, desc, nulls_first))
        if hidden_ord and fill_spec is not None:
            raise ValueError(
                "window expressions in ORDER BY do not combine with "
                "WITH FILL"
            )
        out = out.orderBy(*sort_cols)
        if limit_by is not None:
            # per-key top-n as ONE row_number window over the (key,
            # sort) order — the same distributed shape the engine's
            # top-k queries use; no driver materialization
            from pyspark.sql import Window as _W

            n_by, off_by, by_nodes = limit_by
            part_cols = [_order_col(b) for b in by_nodes]
            w = _W.partitionBy(*part_cols).orderBy(*sort_cols)
            rn = F.row_number().over(w)
            out = (
                out.withColumn("_lby_rn", rn)
                .where(
                    (F.col("_lby_rn") > off_by)
                    & (F.col("_lby_rn") <= off_by + n_by)
                )
                .drop("_lby_rn")
                .orderBy(*sort_cols)
            )
        if fill_spec is not None:
            # WITH FILL: join the ordered result against an integer
            # spine (min..max of the data, overridden by FROM/TO; TO is
            # exclusive like CH) so gaps become rows with NULL
            # non-fill columns. The spine is built distributedly from
            # a 1-row bounds aggregate — sequence + explode, no driver
            # round-trip. INTERPOLATE (c) forward-fills from the
            # previous present row (one global-order window — fill
            # output is a chart-sized spine by construction, so the
            # single-partition sort is bounded); INTERPOLATE (c AS
            # const) fills gap rows with the constant.
            from pyspark.sql import Window as _WF

            fidx, f_from, f_to, f_step = fill_spec
            fnode = order_nodes[fidx][0]
            fill_name: str | None = None
            if fnode.kind == "col" and str(fnode.value) in names:
                fill_name = str(fnode.value)
            else:
                for j, sel in enumerate(select_nodes):
                    if _node_eq2(sel, fnode):
                        fill_name = names[j]
                        break
            if fill_name is None:
                raise ValueError(
                    "WITH FILL column must be a select item"
                )
            for iname, _ie in interpolate:
                if iname not in names:
                    raise ValueError(
                        f"INTERPOLATE column {iname!r} is not a "
                        "select item"
                    )
            lo = (
                F.lit(f_from).cast("long")
                if f_from is not None
                else F.col("_dlo")
            )
            hi = (
                F.lit(f_to - 1).cast("long")
                if f_to is not None
                else F.col("_dhi")
            )
            bounds = out.agg(
                F.min(F.col(fill_name)).cast("long").alias("_dlo"),
                F.max(F.col(fill_name)).cast("long").alias("_dhi"),
            ).select(lo.alias("_lo"), hi.alias("_hi"))
            spine = bounds.select(
                F.explode(
                    F.sequence(F.col("_lo"), F.col("_hi"), F.lit(f_step))
                ).alias(fill_name)
            )
            # full join: spine-only values become gap rows, data rows
            # outside [FROM, TO) survive (CH keeps them too)
            filled = spine.join(out, on=fill_name, how="full")
            for iname, iexpr in interpolate:
                if iexpr is None:
                    wf = _WF.orderBy(F.col(fill_name).asc()).rowsBetween(
                        _WF.unboundedPreceding, _WF.currentRow
                    )
                    filled = filled.withColumn(
                        iname,
                        F.last(F.col(iname), ignorenulls=True).over(wf),
                    )
                else:
                    filled = filled.withColumn(
                        iname,
                        F.coalesce(F.col(iname), _compile(iexpr, tables)),
                    )
            out = filled.select(*names).orderBy(*sort_cols)
        if limit_ties:
            # LIMIT n WITH TIES, scale-correct: a distributed top-n
            # probe (TakeOrderedAndProject — no global sort) fetches
            # the n-th row's ORDER BY key, then a lexicographic
            # threshold filter keeps every row sorting at-or-before
            # it. NULL placement follows the sort spec (CH/DuckDB
            # nulls-last default).
            if offset_n is not None or limit_by is not None:
                raise ValueError(
                    "WITH TIES does not combine with OFFSET or "
                    "LIMIT BY"
                )
            probe_cols = [
                _order_col(node).alias(f"_wt{i}")
                for i, (node, _, _) in enumerate(order_nodes)
            ]
            probe_sort = [
                _sort_col(F.col(f"_wt{i}"), d, nf)
                for i, (_, d, nf) in enumerate(order_nodes)
            ]
            krows = (
                out.select(*probe_cols)
                .orderBy(*probe_sort)
                .limit(limit_n)
                .collect()
            )
            if len(krows) >= (limit_n or 0) and krows:
                kth = krows[-1]
                pred = F.lit(False)
                eq_chain = F.lit(True)
                for i, (node, d, nf) in enumerate(order_nodes):
                    c = _order_col(node)
                    k = kth[i]
                    nulls_first = bool(nf)
                    if k is None:
                        lt = (
                            F.lit(False)
                            if nulls_first
                            else c.isNotNull()
                        )
                        eq = c.isNull()
                    else:
                        base = F.coalesce(
                            (c > F.lit(k)) if d else (c < F.lit(k)),
                            F.lit(False),
                        )
                        lt = (base | c.isNull()) if nulls_first else base
                        eq = F.coalesce(c == F.lit(k), F.lit(False))
                    pred = pred | (eq_chain & lt)
                    eq_chain = eq_chain & eq
                pred = pred | eq_chain
                out = out.where(pred).orderBy(*sort_cols)
            limit_n = None  # the ties filter replaces the row cut
        if hidden_ord:
            # dropping a projection after the sort preserves ordering
            out = out.drop(*hidden_ord)
    elif limit_by is not None:
        raise ValueError(
            "LIMIT BY / DISTINCT ON requires ORDER BY (this engine is "
            "deterministic; ClickHouse would return an arbitrary "
            "per-key subset)"
        )
    elif limit_ties:
        raise ValueError("LIMIT ... WITH TIES requires ORDER BY")
    if offset_n is not None:
        out = out.offset(offset_n)
    if limit_n is not None:
        # orderBy+limit fuses into TakeOrderedAndProject (distributed
        # per-partition top-k + driver merge — no global sort)
        out = out.limit(limit_n)
    return out


def self_toks(p: _Parser) -> str:
    return " ".join(p.toks[p.i : p.i + 8])


# CH extremes=1 covers numerics AND date/datetime columns
# (ch/rows.go:112-131 computes min/max for any orderable column type)
_NUMERIC_TYPES = (
    "byte", "short", "integer", "long", "float", "double", "decimal",
    "date", "timestamp", "timestamp_ntz",
)


def extremes_result(df: DataFrame) -> DataFrame:
    """The CH ``extremes = 1`` companion block: min and max over the
    result set for each numeric output column (the driver surfaces
    these as two extra protocol rows, ch/rows.go:112-131); non-numeric
    columns are NULL, and an ``extreme`` tag ('min'/'max') stands in
    for the protocol's block role. Both rows project from ONE 1-row
    aggregate, so the input plan runs once."""
    fields = df.schema.fields
    aggs = []
    numeric = set()
    for f in fields:
        if f.dataType.typeName() in _NUMERIC_TYPES:
            numeric.add(f.name)
            aggs.append(F.min(f.name).alias(f"__mn_{f.name}"))
            aggs.append(F.max(f.name).alias(f"__mx_{f.name}"))
    one = df.agg(*aggs) if aggs else df.agg(F.count(F.lit(1)).alias("__n"))

    def block(kind: str) -> DataFrame:
        prefix = "__mn_" if kind == "min" else "__mx_"
        cols = [
            F.col(prefix + f.name).alias(f.name)
            if f.name in numeric
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in fields
        ]
        return one.select(*cols, F.lit(kind).alias("extreme"))

    return block("min").unionByName(block("max"))
