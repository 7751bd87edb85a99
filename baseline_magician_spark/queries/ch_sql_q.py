"""Oracle-checked queries exercising the CH-dialect front end's round-2
surface: P7 parameter binding (ch/stmt.go:116-204), JOINs (the binder's
join-aware keyword set, ch/helpers.go:30-31), and S6 external-table
membership (ch/clickhouse_send_external_data.go:5-35) — all through
``run_ch_query`` on the shared test tables, hash-matched against plain
DuckDB SQL with the same literals substituted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..local_frame import local_frame
from ..plans.ch_bind import ExternalTable
from ..plans.ch_sql import run_ch_query
from ..registry import query


def _tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


# --- array-output digests -------------------------------------------------
# The external correctness harness canonicalizes results through a pandas
# sort over every column; list-valued cells are unhashable there, so no
# registered query may emit ArrayType/MapType columns (pinned by
# tests/test_oracle_parity.py). Queries whose CH-dialect surface produces
# arrays digest them to a scalar string in a post-select, and their DuckDB
# oracles render the same string (array_to_string / printf spellings
# verified cell-identical: ints via plain CAST, floats via '%.Nf' — fixed-
# point formatting of the SAME double is identical across Java and C, and
# no exact decimal tie is binary-representable at N>=1 fractional digits).
def _arr_digest(col: str | Column, fmt: str | None = None) -> Column:
    """array<T> -> 'e1,e2,...'. fmt like '%.6f' for float elements
    (NULL elements render as 'null' so widths stay aligned with the
    DuckDB twin); ints/strings cast directly."""
    c = F.col(col) if isinstance(col, str) else col
    if fmt is None:
        elem = lambda x: x.cast("string")  # noqa: E731
    else:
        elem = lambda x: F.when(x.isNull(), F.lit("null")).otherwise(  # noqa: E731
            F.format_string(fmt, x)
        )
    return F.concat_ws(",", F.transform(c, elem))


def _arr2_digest(col: str | Column, fmt: str | None = None) -> Column:
    """array<array<T>> -> 'r1c1,r1c2;r2c1,...' (rows ';', cells ',')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat_ws(
        ";", F.transform(c, lambda r: _arr_digest(r, fmt))
    )


# ?/@ placeholders in every binding position the reference recognizes:
# after a comparison operator, inside an IN list (after '(' and ','),
# and after LIMIT. toInt64(avg()) truncates toward zero like the
# reference's scan path (main.go:272).
_BIND_SQL = """
SELECT event_type, count(*) AS n_events, toInt64(avg(value)) AS avg_value
FROM fastnetmon.events
WHERE value >= ? AND value < @hi AND event_type IN (?, ?, ?)
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_param_binding",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(trunc(avg(value)) AS BIGINT) AS avg_value
    FROM events
    WHERE value >= 10.0 AND value < 95.0
      AND event_type IN ('click', 'purchase', 'view')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ch_sql_param_binding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _BIND_SQL,
        _tables(spark, sf_dir, "events"),
        args=(10.0, "click", "purchase", "view"),
        named={"hi": 95.0},
    )


# three-table dimension join; the right sides broadcast (ClickHouse's
# join physical model holds the right relation in RAM on every node —
# the max_rows_in_join guards, ch/query_settings.go:108-109, bound that
# build side; F.broadcast is the faithful Spark mapping).
_JOIN_SQL = """
SELECT r.r_name AS region, count(*) AS n_customers,
       toInt64(max(c.c_acctbal) - min(c.c_acctbal)) AS bal_spread
FROM fastnetmon.customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_mktsegment != 'MACHINERY'
GROUP BY r.r_name
ORDER BY r.r_name
"""


@query(
    "ch_sql_join_dims",
    """
    SELECT r.r_name AS region, count(*) AS n_customers,
           CAST(trunc(max(c.c_acctbal) - min(c.c_acctbal)) AS BIGINT)
             AS bal_spread
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE c.c_mktsegment != 'MACHINERY'
    GROUP BY r.r_name
    ORDER BY r.r_name
    """,
)
def ch_sql_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _JOIN_SQL, _tables(spark, sf_dir, "customer", "nation", "region")
    )


# S6 + P7 combined: the external table arrives as a NAMED parameter
# whose bind substitutes the table name into the SQL text, and the
# membership compiles against the shipped in-memory relation.
_EXT_SQL = """
SELECT event_type, count(*) AS n_events, uniqExact(user_id) AS n_users
FROM fastnetmon.events
WHERE event_type IN @allowed
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_in_external_table",
    """
    SELECT event_type, count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ch_sql_in_external(spark: SparkSession, sf_dir: str) -> DataFrame:
    ext = ExternalTable(
        "allowed_types",
        local_frame(spark, [("click",), ("error",)], "event_type string"),
    )
    return run_ch_query(
        _EXT_SQL,
        _tables(spark, sf_dir, "events"),
        named={"allowed": ext},
    )


# GROUP BY ... WITH TOTALS — the driver's separate totals block
# (ch/rows.go:62-80, protocol.go:28-37) unified into the result as a
# NULL-keyed grand-total row; compiled as GROUPING SETS ((k), ()), one
# pass. HAVING applies to detail rows only (CH default totals_mode =
# before_having), which the oracle mirrors by filtering the detail arm
# of the union and leaving the total arm unfiltered.
_TOTALS_SQL = """
SELECT o_orderstatus, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_price
FROM fastnetmon.orders
WHERE o_orderpriority != '3-MEDIUM'
GROUP BY o_orderstatus WITH TOTALS
HAVING count(*) > 10
"""


@query(
    "ch_sql_with_totals",
    """
    WITH src AS (
      SELECT * FROM orders WHERE o_orderpriority != '3-MEDIUM'
    )
    SELECT o_orderstatus, n_orders, total_price FROM (
      SELECT o_orderstatus, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_price
      FROM src GROUP BY o_orderstatus
      HAVING count(*) > 10
    )
    UNION ALL
    SELECT CAST(NULL AS VARCHAR) AS o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM src
    """,
)
def ch_sql_with_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_TOTALS_SQL, _tables(spark, sf_dir, "orders"))


# extremes = 1 companion rows: min/max per numeric result column over
# the detail result (ch/rows.go:112-131); the non-numeric event_type
# column is NULL in both rows, tagged 'min'/'max'.
@query(
    "ch_sql_extremes",
    """
    WITH det AS (
      SELECT event_type, user_id, round(value, 2) AS value
      FROM events WHERE value >= 50.0
    )
    SELECT CAST(NULL AS VARCHAR) AS event_type,
           min(user_id) AS user_id, min(value) AS value,
           'min' AS extreme FROM det
    UNION ALL
    SELECT CAST(NULL AS VARCHAR), max(user_id), max(value), 'max'
    FROM det
    """,
)
def ch_sql_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ch_sql import extremes_result

    detail = run_ch_query(
        "SELECT event_type, user_id, round(value, 2) AS value "
        "FROM fastnetmon.events WHERE value >= 50.0",
        _tables(spark, sf_dir, "events"),
    )
    return extremes_result(detail)


# CH LIMIT [offset,] n BY exprs — the "first n rows per key" idiom the
# dialect has instead of window functions; compiled to ONE row_number
# window over (key, ORDER BY) followed by the ordinary trailing LIMIT.
_LIMIT_BY_SQL = """
SELECT event_type, event_id, round(value, 2) AS value
FROM fastnetmon.events
ORDER BY value DESC, event_id
LIMIT 2 BY event_type
LIMIT 6
"""


@query(
    "ch_sql_limit_by",
    """
    SELECT event_type, event_id, value FROM (
      SELECT event_type, event_id, round(value, 2) AS value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY round(value, 2) DESC, event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 2
    ORDER BY value DESC, event_id
    LIMIT 6
    """,
)
def ch_sql_limit_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_LIMIT_BY_SQL, _tables(spark, sf_dir, "events"))


# UNION ALL chain: CH unions by position, each branch keeping its own
# WHERE/GROUP BY/ORDER BY scope — mirrored exactly by the oracle.
_UNION_SQL = """
SELECT event_type AS tier, count(*) AS n_events,
       toInt64(max(value)) AS max_value
FROM fastnetmon.events
WHERE value >= 95.0
GROUP BY event_type
UNION ALL
SELECT 'total' AS tier, count(*) AS n_events, toInt64(max(value)) AS max_value
FROM fastnetmon.events
"""


@query(
    "ch_sql_union_all",
    """
    SELECT event_type AS tier, count(*) AS n_events,
           CAST(trunc(max(value)) AS BIGINT) AS max_value
    FROM events
    WHERE value >= 95.0
    GROUP BY event_type
    UNION ALL
    SELECT 'total' AS tier, count(*) AS n_events,
           CAST(trunc(max(value)) AS BIGINT) AS max_value
    FROM events
    """,
)
def ch_sql_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_UNION_SQL, _tables(spark, sf_dir, "events"))


# ARRAY JOIN (the CH explode clause) + PREWHERE (CH's manual two-stage
# filter — compiled to a plain pushed filter, which is the same
# physical behavior Catalyst derives automatically).
_ARRAY_JOIN_SQL = """
SELECT lang, tok, count(*) AS n
FROM fastnetmon.documents
ARRAY JOIN splitByChar(' ', text) AS tok
PREWHERE n_chars >= 100
GROUP BY lang, tok
ORDER BY n DESC, lang, tok
LIMIT 20
"""


@query(
    "ch_sql_array_join_tokens",
    """
    SELECT lang, tok, count(*) AS n FROM (
      SELECT lang, unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE n_chars >= 100
    )
    GROUP BY lang, tok
    ORDER BY n DESC, lang, tok
    LIMIT 20
    """,
)
def ch_sql_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _ARRAY_JOIN_SQL, _tables(spark, sf_dir, "documents")
    )


@query(
    "ch_sql_distinct_prewhere",
    """
    SELECT DISTINCT lang, source FROM documents
    WHERE n_chars >= 300
    ORDER BY lang, source
    """,
)
def ch_sql_distinct_prewhere(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        "SELECT DISTINCT lang, source FROM fastnetmon.documents "
        "PREWHERE n_chars >= 300 ORDER BY lang, source",
        _tables(spark, sf_dir, "documents"),
    )


# INTERSECT (CH default ALL; DISTINCT spelled out here so both engines
# agree exactly) — users who both clicked and purchased.
@query(
    "ch_sql_intersect_users",
    """
    SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def ch_sql_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        "SELECT DISTINCT user_id FROM fastnetmon.events "
        "WHERE event_type = 'click' "
        "INTERSECT DISTINCT "
        "SELECT DISTINCT user_id FROM fastnetmon.events "
        "WHERE event_type = 'purchase'",
        _tables(spark, sf_dir, "events"),
    )


# Window functions through the SQL TEXT (OVER with PARTITION BY /
# ORDER BY) + a derived table — per-type top-2 events by value.
_WINDOW_SQL = """
SELECT event_type, event_id, rn FROM (
  SELECT event_type, event_id,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value DESC, event_id
         ) AS rn
  FROM fastnetmon.events
) WHERE rn <= 2
"""


@query(
    "ch_sql_window_topn",
    """
    SELECT event_type, event_id, CAST(rn AS INT) AS rn FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value DESC, event_id
             ) AS rn
      FROM events
    ) WHERE rn <= 2
    """,
)
def ch_sql_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_WINDOW_SQL, _tables(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# round-3 dialect widening: ASOF JOIN, JOIN USING, GROUP BY WITH
# ROLLUP/CUBE, parametric quantiles, SAMPLE, ORDER BY ... WITH FILL.
# Each query runs through run_ch_query and hash-matches plain DuckDB
# SQL (DuckDB's native ASOF JOIN / ROLLUP / CUBE / generate_series are
# the oracles).

# ASOF LEFT JOIN: classic click->purchase attribution — for every
# purchase, the latest click by the same user at or before the purchase
# timestamp. The right side is pre-deduped to one row per (user, ts)
# so the asof winner is deterministic in both engines.
_ASOF_SQL = """
SELECT p.event_id AS purchase_id, p.user_id AS user_id,
       c.click_id AS click_id
FROM (SELECT event_id, ts, user_id FROM fastnetmon.events
      WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS click_id
                FROM fastnetmon.events WHERE event_type = 'click'
                GROUP BY user_id, ts) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
"""


@query(
    "ch_sql_asof_attribution",
    """
    WITH p AS (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts, max(event_id) AS click_id
               FROM events WHERE event_type = 'click'
               GROUP BY user_id, ts)
    SELECT p.event_id AS purchase_id, p.user_id AS user_id,
           c.click_id AS click_id
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
    """,
)
def ch_sql_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ASOF_SQL, _tables(spark, sf_dir, "events"))


# JOIN ... USING over derived tables that align the key name — the
# output keeps one copy of the key (CH USING dedup = Spark list-on).
_USING_SQL = """
SELECT n_name, count(*) AS n_customers
FROM (SELECT c_custkey, c_nationkey AS nationkey FROM fastnetmon.customer) c
JOIN (SELECT n_nationkey AS nationkey, n_name FROM fastnetmon.nation) n
  USING (nationkey)
GROUP BY n_name
ORDER BY n_customers DESC, n_name
"""


@query(
    "ch_sql_join_using",
    """
    SELECT n_name, count(*) AS n_customers
    FROM (SELECT c_custkey, c_nationkey AS nationkey FROM customer) c
    JOIN (SELECT n_nationkey AS nationkey, n_name FROM nation) n
      USING (nationkey)
    GROUP BY n_name
    ORDER BY n_customers DESC, n_name
    """,
)
def ch_sql_join_using(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _USING_SQL, _tables(spark, sf_dir, "customer", "nation")
    )


# GROUP BY ... WITH ROLLUP: detail + per-status subtotal + grand total
# in one pass (Spark native rollup(); DuckDB GROUP BY ROLLUP oracle).
_ROLLUP_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       toInt64(sum(o_totalprice)) AS revenue
FROM fastnetmon.orders
GROUP BY o_orderstatus, o_orderpriority WITH ROLLUP
ORDER BY o_orderstatus, o_orderpriority
"""


@query(
    "ch_sql_group_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(trunc(sum(o_totalprice)) AS BIGINT) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def ch_sql_group_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROLLUP_SQL, _tables(spark, sf_dir, "orders"))


# GROUP BY ... WITH CUBE over two independent dims.
_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM fastnetmon.orders
GROUP BY o_orderstatus, o_orderpriority WITH CUBE
ORDER BY o_orderstatus, o_orderpriority, n
"""


@query(
    "ch_sql_group_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus, o_orderpriority, n
    """,
)
def ch_sql_group_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_CUBE_SQL, _tables(spark, sf_dir, "orders"))


# parametric-aggregate syntax fn(levels)(arg): exact percentiles so
# the oracle can hash-match (quantileExact -> Spark percentile(), the
# same continuous interpolation DuckDB's quantile_cont uses).
_QUANTILE_SQL = """
SELECT o_orderstatus,
       round(quantileExact(0.5)(o_totalprice), 4) AS p50,
       round(quantileExact(0.9)(o_totalprice), 4) AS p90,
       round(quantileExact(0.99)(o_totalprice), 4) AS p99
FROM fastnetmon.orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "ch_sql_parametric_quantiles",
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def ch_sql_parametric_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_QUANTILE_SQL, _tables(spark, sf_dir, "orders"))


# SAMPLE clause: deterministic storage-level sampling on the table's
# first column (the registered tables' primary key — this engine's
# stand-in for CH's declared sampling key). The oracle recomputes the
# same 60-bit md5 hash (operators/sampling.py:hash60_sql), so the
# sampled COUNT matches exactly, not statistically.
_SAMPLE_SQL = """
SELECT o_orderstatus, count(*) AS n
FROM fastnetmon.orders SAMPLE 0.25
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""

_SAMPLE_ORACLE = """
SELECT o_orderstatus, count(*) AS n
FROM orders
WHERE CAST(('0x' || substr(md5('ch_sample:' ||
      CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)
      < 288230376151711744
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query("ch_sql_sample_read", _SAMPLE_ORACLE)
def ch_sql_sample_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_SAMPLE_SQL, _tables(spark, sf_dir, "orders"))


# ORDER BY ... WITH FILL FROM/TO + INTERPOLATE: gap-filled histogram
# of order totals — empty buckets materialize with n = 0. The spine is
# sequence+explode over a one-row bounds aggregate (no driver
# round-trip); the oracle builds the same spine with generate_series.
_FILL_SQL = """
SELECT toInt64(floor(o_totalprice / 50000)) AS bucket, count(*) AS n
FROM fastnetmon.orders
WHERE o_totalprice > 150000
GROUP BY toInt64(floor(o_totalprice / 50000))
ORDER BY bucket WITH FILL FROM 0 TO 12
INTERPOLATE (n AS 0)
"""


@query(
    "ch_sql_with_fill",
    """
    WITH d AS (
      SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
             count(*) AS n
      FROM orders WHERE o_totalprice > 150000 GROUP BY 1
    ), spine AS (
      SELECT unnest(generate_series(0, 11)) AS bucket
    )
    SELECT spine.bucket AS bucket, coalesce(d.n, 0) AS n
    FROM spine LEFT JOIN d USING (bucket)
    ORDER BY bucket
    """,
)
def ch_sql_with_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_FILL_SQL, _tables(spark, sf_dir, "orders"))


# explicit GROUPING SETS incl. a bare-expr set and the () grand total
# — compiled onto the same groupingSets-plus-global-union machinery as
# the WITH TOTALS/ROLLUP/CUBE modifiers (ANSI empty-input semantics).
_GSETS_SQL = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       toInt64(sum(o_totalprice)) AS revenue
FROM fastnetmon.orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderpriority), ())
ORDER BY o_orderstatus, o_orderpriority
"""


@query(
    "ch_sql_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           CAST(trunc(sum(o_totalprice)) AS BIGINT) AS revenue
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    ORDER BY o_orderstatus, o_orderpriority
    """,
)
def ch_sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_GSETS_SQL, _tables(spark, sf_dir, "orders"))


# TPC-H q1/q6 as CH-dialect TEXT through run_ch_query — the
# end-to-end proof that a user can paste analytics SQL at the front
# end and get the DataFrame engine's plans (same rounding discipline
# as the native q1/q6 queries in queries/tpch.py).
_TPCH_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
         AS sum_charge,
       round(avg(l_quantity), 2) AS avg_qty,
       round(avg(l_extendedprice), 2) AS avg_price,
       round(avg(l_discount), 2) AS avg_disc,
       count(*) AS count_order
FROM fastnetmon.lineitem
WHERE l_shipdate <= toDateTime('1998-09-02 00:00:00')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query(
    "ch_sql_tpch_q1",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
             AS sum_charge,
           round(avg(l_quantity), 2) AS avg_qty,
           round(avg(l_extendedprice), 2) AS avg_price,
           round(avg(l_discount), 2) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def ch_sql_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_TPCH_Q1_SQL, _tables(spark, sf_dir, "lineitem"))


_TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       count(*) AS n_items
FROM fastnetmon.lineitem
WHERE l_shipdate >= toDateTime('1996-01-01 00:00:00')
  AND l_shipdate < toDateTime('1997-01-01 00:00:00')
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query(
    "ch_sql_tpch_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def ch_sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_TPCH_Q6_SQL, _tables(spark, sf_dir, "lineitem"))


# ANY strictness: at most one right match per left row. CH picks an
# arbitrary match; this engine pins the FIRST by the right relation's
# orderable-column order (a deterministic refinement), which is what
# the oracle reproduces with an explicit row_number dedup.
_ANY_SQL = """
SELECT c.c_custkey AS c_custkey, o.o_orderkey AS first_orderkey,
       o.o_totalprice AS first_price
FROM fastnetmon.customer c
LEFT ANY JOIN fastnetmon.orders o ON c.c_custkey = o.o_custkey
ORDER BY c_custkey
"""


@query(
    "ch_sql_any_join",
    """
    WITH first_o AS (
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (
                 PARTITION BY o_custkey
                 ORDER BY o_orderkey, o_custkey, o_orderstatus,
                          o_totalprice, o_orderdate, o_orderpriority
               ) AS rn
        FROM orders
      ) WHERE rn = 1
    )
    SELECT c.c_custkey AS c_custkey, o.o_orderkey AS first_orderkey,
           o.o_totalprice AS first_price
    FROM customer c LEFT JOIN first_o o ON c.c_custkey = o.o_custkey
    ORDER BY c_custkey
    """,
)
def ch_sql_any_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _ANY_SQL, _tables(spark, sf_dir, "customer", "orders")
    )


# classic-CH scalar WITH aliases (WITH expr AS name — not the ANSI CTE
# form): the alias substitutes its expression tree at every bare use;
# the oracle simply inlines the value.
_SCALAR_WITH_SQL = """
WITH 0.08 AS tax_rate, count(*) AS n_orders
SELECT o_orderstatus,
       round(sum(o_totalprice) * tax_rate, 2) AS est_tax,
       n_orders AS n_in_status
FROM fastnetmon.orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@query(
    "ch_sql_scalar_with",
    """
    SELECT o_orderstatus,
           round(sum(o_totalprice) * 0.08, 2) AS est_tax,
           count(*) AS n_in_status
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def ch_sql_scalar_with(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_SCALAR_WITH_SQL, _tables(spark, sf_dir, "orders"))


# CH array lambdas over the documents token stream; the oracle uses
# DuckDB's own lambda spelling (list first, lambda second).
_LAMBDA_SQL = """
SELECT doc_id,
       arrayCount(t -> length(t) > 4, splitByChar(' ', text)) AS long_tokens,
       toInt64(arraySum(t -> length(t), splitByChar(' ', text))) AS total_chars
FROM fastnetmon.documents
ORDER BY doc_id
"""


@query(
    "ch_sql_array_lambdas",
    """
    SELECT doc_id,
      CAST(len(list_filter(string_split(text, ' '), t -> length(t) > 4))
           AS BIGINT) AS long_tokens,
      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(string_split(text, ' '),
                            t -> CAST(length(t) AS BIGINT))),
           (a, b) -> a + b) AS BIGINT) AS total_chars
    FROM documents
    ORDER BY doc_id
    """,
)
def ch_sql_array_lambdas(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_LAMBDA_SQL, _tables(spark, sf_dir, "documents"))


# CH column-matcher modifiers: * EXCEPT drops columns, APPLY wraps
# every survivor in an aggregate — the one-line table-profile idiom.
_STAR_MODS_SQL = """
SELECT * EXCEPT (props, ts, event_type) APPLY (max)
FROM fastnetmon.events
"""


@query(
    "ch_sql_star_modifiers",
    """
    SELECT max(event_id) AS max_event_id,
           max(user_id) AS max_user_id,
           max(value) AS max_value
    FROM events
    """,
)
def ch_sql_star_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_STAR_MODS_SQL, _tables(spark, sf_dir, "events"))


# JSONExtract* over the events.props JSON payload — the semi-
# structured access path in CH dialect text (X9 JSON parity, SQL
# form; the DataFrame-native twin is json_props_stats).
_JSON_SQL = """
SELECT event_type,
       count(*) AS n,
       toInt64(sum(JSONExtractInt(props, 'k'))) AS sum_k,
       countIf(JSONHas(props, 'missing')) AS n_missing
FROM fastnetmon.events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_json_extract",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(sum(CASE WHEN json_extract(props, '$.missing')
                    IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ch_sql_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_JSON_SQL, _tables(spark, sf_dir, "events"))


# Correlated EXISTS (the TPC-H q4 shape on this schema's columns):
# bare-name correlation — o_orderkey resolves OUTER because lineitem
# lacks it (ANSI inner-first scoping) — rewritten to a LEFT SEMI join
# by the WHERE-stage planner (plans/ch_sql.py, round-4 lift of the
# CH-era "correlated subqueries rejected" restriction; the reference's
# binder treats subqueries as first-class binding positions,
# ch/helpers.go:30-31,77).
_EXISTS_CORR_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM fastnetmon.orders
WHERE o_orderdate >= toDate('1994-01-01')
  AND exists (
    SELECT * FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@query(
    "ch_sql_exists_correlated",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= DATE '1994-01-01'
      AND EXISTS (
        SELECT * FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def ch_sql_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _EXISTS_CORR_SQL, _tables(spark, sf_dir, "orders", "lineitem")
    )


# Correlated IN with alias-qualified correlation: the membership
# column AND the correlation predicate both ride the semi-join
# condition; the non-correlated conjunct (o_totalprice) pushes below
# the join onto the inner scan.
_IN_CORR_SQL = """
SELECT c.c_mktsegment AS segment, count(*) AS n_big_spenders
FROM fastnetmon.customer c
WHERE c.c_custkey IN (
    SELECT o_custkey FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
  )
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query(
    "ch_sql_in_correlated",
    """
    SELECT c.c_mktsegment AS segment, count(*) AS n_big_spenders
    FROM customer c
    WHERE c.c_custkey IN (
        SELECT o_custkey FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000
      )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def ch_sql_in_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _IN_CORR_SQL, _tables(spark, sf_dir, "customer", "orders")
    )


# Correlated NOT IN — the LEFT ANTI rewrite with exact ANSI
# three-valued semantics (the anti-join condition admits NULLs on
# either membership side; see _apply_correlated's docstring). Counts
# customers with no completed ('F') order.
_NOT_IN_CORR_SQL = """
SELECT c.c_mktsegment AS segment, count(*) AS n_without_f
FROM fastnetmon.customer c
WHERE c.c_custkey NOT IN (
    SELECT o_custkey FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
  )
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@query(
    "ch_sql_not_in_correlated",
    """
    SELECT c.c_mktsegment AS segment, count(*) AS n_without_f
    FROM customer c
    WHERE c.c_custkey NOT IN (
        SELECT o_custkey FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      )
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def ch_sql_not_in_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _NOT_IN_CORR_SQL, _tables(spark, sf_dir, "customer", "orders")
    )


@query(
    "ch_sql_insert_select",
    """
    SELECT event_type, n_events FROM (
      SELECT event_type, count(*) AS n_events
      FROM events GROUP BY event_type
      UNION ALL SELECT '__manual', 42
    ) ORDER BY event_type
    """,
)
def ch_sql_insert_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH-dialect INSERT as SQL text (round 4, S7 surface): an
    INSERT SELECT materializes a grouped summary through the parquet
    sink (the driver's 1M-row block constant as maxRecordsPerFile),
    then a placeholder VALUES insert appends one row via the driver's
    exec-loop binding (ch/stmt.go:53-68) — and the query returns the
    read-back of what was written, proving the round trip."""
    import tempfile

    from pyspark.sql import types as T

    from ..plans.ch_insert import run_ch_insert

    tabs = _tables(spark, sf_dir, "events")
    tabs["summary"] = local_frame(
        spark,
        [],
        T.StructType(
            [
                T.StructField("event_type", T.StringType()),
                T.StructField("n_events", T.LongType()),
            ]
        ),
    )
    import shutil

    d = tempfile.mkdtemp(prefix="ch_insert_")
    try:
        run_ch_insert(
            "INSERT INTO summary SELECT event_type, count(*) AS n_events "
            "FROM fastnetmon.events GROUP BY event_type",
            tabs,
            path=d,
            mode="overwrite",
        )
        run_ch_insert(
            "INSERT INTO summary VALUES (?, ?)",
            tabs,
            rows=[("__manual", 42)],
            path=d,
            mode="append",
        )
        # The read-back is a grouped summary (one row per event type
        # plus the manual row) — collect it eagerly so the temp dir can
        # be removed here instead of leaking one dir per driver run.
        back = spark.read.parquet(d)
        rows, schema = back.collect(), back.schema
    finally:
        shutil.rmtree(d, ignore_errors=True)
    return local_frame(spark, rows, schema).orderBy("event_type")


# TPC-H q17 as pasted CH text (round 4): the correlated SCALAR
# subquery shape — ``l_quantity < (SELECT 0.2*avg(...) WHERE
# correlation)`` — decorrelated by the front end into a grouped
# derived table joined on the correlation key (plans/ch_sql.py
# _apply_correlated_scalar). Same literals as the DataFrame-API
# q17_small_quantity_revenue, so the two paths cross-check.
_TPCH_Q17_SQL = """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM fastnetmon.lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand = 'Brand#1'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem li
    WHERE li.l_partkey = p.p_partkey
  )
"""


@query(
    "ch_sql_tpch_q17",
    """
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem
        WHERE l_partkey = p.p_partkey
      )
    """,
)
def ch_sql_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _TPCH_Q17_SQL, _tables(spark, sf_dir, "lineitem", "part")
    )


# TPC-H q3 as pasted CH text: three-way join, computed group key
# (toDate), ORDER + LIMIT fusing into TakeOrderedAndProject.
_TPCH_Q3_SQL = """
SELECT l.l_orderkey AS l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       toDate(o.o_orderdate) AS order_date,
       o.o_orderpriority AS o_orderpriority
FROM fastnetmon.lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < toDateTime('1998-01-01 00:00:00')
  AND l.l_shipdate > toDateTime('1996-06-30 00:00:00')
GROUP BY l.l_orderkey, toDate(o.o_orderdate), o.o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query(
    "ch_sql_tpch_q3",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def ch_sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _TPCH_Q3_SQL,
        _tables(spark, sf_dir, "lineitem", "orders", "customer"),
    )


# TPC-H q12 as pasted CH text with CH idioms: countIf conditional
# aggregates and addDays date arithmetic.
_TPCH_Q12_SQL = """
SELECT l.l_returnflag AS l_returnflag,
       countIf(o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       countIf(o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM fastnetmon.lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate > addDays(o.o_orderdate, 60)
  AND l.l_shipdate < toDateTime('1997-01-01 00:00:00')
GROUP BY l.l_returnflag
"""


@query(
    "ch_sql_tpch_q12",
    """
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    """,
)
def ch_sql_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _TPCH_Q12_SQL, _tables(spark, sf_dir, "lineitem", "orders")
    )


# CH numbers() table function + EXPLAIN are exercised in
# tests/test_ch_sql.py (EXPLAIN output is engine-specific text — no
# cross-engine oracle is meaningful for it).
_NUMBERS_SQL = """
SELECT number % 7 AS k, count(*) AS n, sum(number) AS s
FROM numbers(1000)
GROUP BY number % 7
ORDER BY k
"""


@query(
    "ch_sql_numbers_rollup",
    """
    SELECT v % 7 AS k, count(*) AS n, CAST(sum(v) AS BIGINT) AS s
    FROM (SELECT unnest(range(0, 1000)) AS v)
    GROUP BY v % 7
    ORDER BY k
    """,
)
def ch_sql_numbers_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_NUMBERS_SQL, _tables(spark, sf_dir, "events"))


# SELECT-list correlated scalar (round 4): the per-entity lookup shape
# every analyst writes — decorrelated to one grouped derived table +
# LEFT join (plans/ch_sql.py _attach_scalar_join), count's empty-set
# value recovered exactly.
_SEL_CORR_SQL = """
SELECT c.c_mktsegment AS segment,
       c.c_custkey AS custkey,
       (SELECT count(*) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS n_orders,
       (SELECT max(o.o_orderkey) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS last_order
FROM fastnetmon.customer c
ORDER BY custkey
LIMIT 500
"""


@query(
    "ch_sql_select_correlated",
    """
    SELECT c.c_mktsegment AS segment,
           c.c_custkey AS custkey,
           (SELECT count(*) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT max(o.o_orderkey) FROM orders o
            WHERE o.o_custkey = c.c_custkey) AS last_order
    FROM customer c
    ORDER BY custkey
    LIMIT 500
    """,
)
def ch_sql_select_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _SEL_CORR_SQL, _tables(spark, sf_dir, "customer", "orders")
    )


# QUALIFY + ANSI DISTINCT-qualified aggregates (round 4): the
# subquery-free top-n-per-group idiom over an aggregated output.
_QUALIFY_SQL = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS du
FROM fastnetmon.events
GROUP BY event_type
QUALIFY row_number() OVER (ORDER BY n DESC, event_type) <= 3
ORDER BY event_type
"""


@query(
    "ch_sql_qualify_topn",
    """
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS du
    FROM events
    GROUP BY event_type
    QUALIFY row_number() OVER (ORDER BY n DESC, event_type) <= 3
    ORDER BY event_type
    """,
)
def ch_sql_qualify_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_QUALIFY_SQL, _tables(spark, sf_dir, "events"))


# LIMIT n WITH TIES (round 4): distributed top-n probe + threshold
# filter — scale-correct (no global-rank single-partition sort). The
# oracle spells the rank() threshold out (DuckDB has no WITH TIES).
_TIES_SQL = """
SELECT event_type, count(*) AS n
FROM fastnetmon.events
GROUP BY event_type
ORDER BY n DESC
LIMIT 2 WITH TIES
"""


@query(
    "ch_sql_limit_with_ties",
    """
    SELECT event_type, n FROM (
      SELECT event_type, count(*) AS n,
             rank() OVER (ORDER BY count(*) DESC) AS _r
      FROM events GROUP BY event_type
    ) WHERE _r <= 2
    """,
)
def ch_sql_limit_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_TIES_SQL, _tables(spark, sf_dir, "events"))


# WITH RECURSIVE (round 5): iterate-to-fixpoint CTE evaluation
# (plans/ch_sql.py _exec_recursive_cte — the connected-components
# loop's lazy-checkpoint template). The recursive seq is a 7-row
# dimension, so the join broadcasts it against the fact scan; sums are
# exact integer sums (TPC-H quantities are integral) so cross-engine
# float ordering never enters the hash.
_RECURSIVE_SQL = """
WITH RECURSIVE seq AS (
  SELECT 1 AS n
  UNION ALL
  SELECT n + 1 FROM seq WHERE n < 7
)
SELECT n, count(*) AS n_lines,
       sum(CAST(l_quantity AS BIGINT)) AS sum_qty
FROM fastnetmon.lineitem
JOIN seq ON lineitem.l_linenumber = seq.n
GROUP BY n
ORDER BY n
"""


@query(
    "ch_sql_recursive_cte",
    """
    WITH RECURSIVE seq AS (
      SELECT 1 AS n
      UNION ALL
      SELECT n + 1 FROM seq WHERE n < 7
    )
    SELECT n, count(*) AS n_lines,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    JOIN seq ON lineitem.l_linenumber = seq.n
    GROUP BY n
    ORDER BY n
    """,
)
def ch_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_RECURSIVE_SQL, _tables(spark, sf_dir, "lineitem"))


# Row-value correlated IN (round 5): (a, b) IN (SELECT x, y ... WHERE
# corr) — element-wise semi-join condition over all select items.
# DuckDB's binder rejects the multi-column IN spelling, so the oracle
# uses the equivalent EXISTS (same semantics for the positive IN).
_ROWVALUE_IN_SQL = """
SELECT o_orderkey, o_totalprice
FROM fastnetmon.orders o
WHERE (o.o_orderkey, 1) IN (
    SELECT l_orderkey, l_linenumber FROM fastnetmon.lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l_quantity >= 48
  )
ORDER BY o_orderkey
"""


@query(
    "ch_sql_rowvalue_in",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_linenumber = 1
          AND l.l_quantity >= 48
      )
    ORDER BY o_orderkey
    """,
)
def ch_sql_rowvalue_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROWVALUE_IN_SQL, _tables(spark, sf_dir, "orders", "lineitem"))


# CH DDL as text (round 5): CREATE TABLE AS materializes a derived
# relation into the statement env (mutated in place — CH session
# scoping), a follow-up SELECT consumes it, DROP removes it; the query
# returns the SELECT's result, proving the create->query->drop round
# trip. The oracle inlines the created relation as a derived table.
def _ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.ch_insert import run_ch_statement

    tabs = _tables(spark, sf_dir, "orders", "customer")
    run_ch_statement(
        "CREATE TEMPORARY TABLE big_orders AS "
        "SELECT o_custkey, count(*) AS n_big, "
        "sum(CAST(o_totalprice AS BIGINT)) AS cents "
        "FROM fastnetmon.orders WHERE o_totalprice > 150000 "
        "GROUP BY o_custkey",
        tabs,
    )
    out = run_ch_statement(
        "SELECT c.c_mktsegment AS segment, count(*) AS n_customers, "
        "sum(b.n_big) AS n_big_orders, max(b.cents) AS max_cents "
        "FROM fastnetmon.customer c "
        "JOIN big_orders b ON c.c_custkey = b.o_custkey "
        "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
        tabs,
    )
    run_ch_statement("DROP TABLE big_orders", tabs)
    assert "big_orders" not in tabs
    return out


@query(
    "ch_sql_ddl_roundtrip",
    """
    WITH big_orders AS (
      -- trunc() first: DuckDB's double->BIGINT cast rounds, Spark's
      -- truncates toward zero (the reference's toInt64 behavior)
      SELECT o_custkey, count(*) AS n_big,
             CAST(sum(CAST(trunc(o_totalprice) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_totalprice > 150000
      GROUP BY o_custkey
    )
    SELECT c.c_mktsegment AS segment, count(*) AS n_customers,
           CAST(sum(b.n_big) AS BIGINT) AS n_big_orders,
           max(b.cents) AS max_cents
    FROM customer c
    JOIN big_orders b ON c.c_custkey = b.o_custkey
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
)
def ch_sql_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ddl_roundtrip(spark, sf_dir)


# Round-5 shim surface as one oracle row: URL dissection + fixed-window
# time flooring + CH formatDateTime, all from SQL text. The URLs are
# synthesized deterministically from event fields, so the oracle can
# rebuild and re-dissect the identical strings with plain regexes;
# k_sum round-trips a JSON value through a query-string and back (exact
# integer sums, no float order anywhere).
_URL_TIME_SQL = """
SELECT formatDateTime(toStartOfFifteenMinutes(ts), '%F %T') AS bucket,
       domain(concat('https://', event_type, '.example.com/u/',
              toString(user_id))) AS dom,
       count(*) AS n,
       sum(toInt64(extractURLParameter(
           concat('https://x.io/p?k=',
                  toString(JSONExtractInt(props, 'k'))), 'k'))) AS k_sum
FROM fastnetmon.events
GROUP BY 1, 2
ORDER BY 1, 2
LIMIT 500
"""


@query(
    "ch_sql_url_time_functions",
    """
    SELECT strftime(time_bucket(INTERVAL '15 minutes', ts),
                    '%Y-%m-%d %H:%M:%S') AS bucket,
           regexp_extract('https://' || event_type || '.example.com/u/'
                          || CAST(user_id AS VARCHAR),
                          '^(?:[A-Za-z][A-Za-z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)',
                          1) AS dom,
           count(*) AS n,
           CAST(sum(CAST(regexp_extract(
                'https://x.io/p?k=' ||
                CAST(CAST(props ->> 'k' AS BIGINT) AS VARCHAR),
                'k=([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS k_sum
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    LIMIT 500
    """,
)
def ch_sql_url_time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_URL_TIME_SQL, _tables(spark, sf_dir, "events"))


# CH -State/-Merge combinators (round 5): the pre-aggregated rollup
# pattern — per-day MERGEABLE uniq sketches (Spark DataSketches HLL as
# a binary column) re-aggregated per type without re-scanning raw
# rows. The hash-checked columns are exact; the sketch earns its hard
# signal through merge_in_bounds (merged estimate within 5% of the
# exact total — the oracle emits constant TRUE, so drift outside the
# bound hash-mismatches the row).
_STATE_MERGE_SQL = """
WITH daily AS (
  SELECT event_type, toStartOfDay(ts) AS d,
         uniqState(user_id) AS sk,
         uniqExact(user_id) AS exact_day
  FROM fastnetmon.events
  GROUP BY 1, 2
),
totals AS (
  SELECT event_type, uniqExact(user_id) AS exact_total
  FROM fastnetmon.events
  GROUP BY 1
)
SELECT event_type, n_days, sum_day_uniques,
       abs(merged - exact_total) <= 0.05 * exact_total
         AS merge_in_bounds
FROM (
  SELECT d.event_type AS event_type,
         count(*) AS n_days,
         CAST(sum(d.exact_day) AS BIGINT) AS sum_day_uniques,
         uniqMerge(d.sk) AS merged,
         max(t.exact_total) AS exact_total
  FROM daily d JOIN totals t ON d.event_type = t.event_type
  GROUP BY d.event_type
)
ORDER BY event_type
"""


@query(
    "ch_sql_uniq_state_merge",
    """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             count(DISTINCT user_id) AS exact_day
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, count(*) AS n_days,
           CAST(sum(exact_day) AS BIGINT) AS sum_day_uniques,
           TRUE AS merge_in_bounds
    FROM daily GROUP BY event_type ORDER BY event_type
    """,
)
def ch_sql_uniq_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_STATE_MERGE_SQL, _tables(spark, sf_dir, "events"))


def _mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CH lightweight mutations (ALTER TABLE DELETE / UPDATE,
    plans/ch_ddl.py) as lazy env rewrites, then an aggregate over the
    mutated relation. The reference's driver never mutates
    (main.go:238-279 is SELECT/INSERT only) — this is §2.12 extension
    surface for the statements a CH operator runs by hand."""
    from ..plans.ch_insert import run_ch_statement

    tabs = _tables(spark, sf_dir, "lineitem")
    run_ch_statement(
        "ALTER TABLE lineitem DELETE WHERE l_quantity < 10", tabs
    )
    run_ch_statement(
        "ALTER TABLE lineitem UPDATE l_discount = 0 "
        "WHERE l_returnflag = 'A'",
        tabs,
    )
    return run_ch_statement(
        "SELECT l_returnflag AS flag, count(*) AS n, "
        "min(l_quantity) AS min_qty, "
        "sum(toInt64(l_discount * 100)) AS disc_pts "
        "FROM fastnetmon.lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        tabs,
    )


@query(
    "ch_sql_mutations",
    """
    SELECT l_returnflag AS flag, count(*) AS n,
           min(l_quantity) AS min_qty,
           -- trunc() first: DuckDB's double->BIGINT cast rounds,
           -- Spark's truncates toward zero (CH toInt64 semantics)
           CAST(sum(CAST(trunc(
             (CASE WHEN l_returnflag = 'A' THEN 0.0
                   ELSE l_discount END) * 100) AS BIGINT)) AS BIGINT)
             AS disc_pts
    FROM lineitem
    WHERE NOT (l_quantity < 10)
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def ch_sql_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mutations(spark, sf_dir)


# Exact deterministic topK: frequency desc, value asc (CH's topK is an
# approximate stream summary with arbitrary tie order — this engine
# trades the approximation for reproducibility; heavy-hitter scans at
# scale should use the dedicated groupBy-count top-k plan instead).
_TOPK_SQL = """
SELECT event_type, topK(3)(user_id % 7) AS top3, count(*) AS n
FROM fastnetmon.events GROUP BY event_type ORDER BY event_type
"""


@query(
    "ch_sql_topk",
    """
    WITH f AS (
      SELECT event_type, user_id % 7 AS v, count(*) AS c
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           array_to_string((list(v ORDER BY c DESC, v))[1:3], ',') AS top3,
           CAST(sum(c) AS BIGINT) AS n
    FROM f GROUP BY event_type ORDER BY event_type
    """,
)
def ch_sql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_TOPK_SQL, _tables(spark, sf_dir, "events"))
    return df.select(
        "event_type", _arr_digest("top3").alias("top3"), "n"
    )


# The full simple -State/-Merge family as a two-level rollup: partial
# states per (event_type, bucket), merged per event_type. count merges
# by SUMMING, avg carries a (sum, count) struct — the exact shapes
# Spark's own map-side combine produces, so the rollup re-merges at
# 100 TB without touching raw rows.
_STATE_FAMILY_SQL = """
SELECT event_type, sumMerge(s) AS total, countMerge(c) AS n,
       avgMerge(a) AS m, minMerge(mn) AS lo, maxMerge(mx) AS hi
FROM (
  SELECT event_type, user_id % 10 AS b, sumState(user_id) AS s,
         countState(user_id) AS c, avgState(user_id) AS a,
         minState(user_id) AS mn, maxState(user_id) AS mx
  FROM fastnetmon.events GROUP BY event_type, b
) GROUP BY event_type ORDER BY event_type
"""


@query(
    "ch_sql_state_merge_rollup",
    """
    SELECT event_type, CAST(sum(user_id) AS BIGINT) AS total,
           count(user_id) AS n, avg(user_id) AS m,
           CAST(min(user_id) AS BIGINT) AS lo,
           CAST(max(user_id) AS BIGINT) AS hi
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def ch_sql_state_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_STATE_FAMILY_SQL, _tables(spark, sf_dir, "events"))


# arrayJoin() in expression position (CH's explode idiom): token
# frequencies by splitting document text inline — the expansion is
# hoisted to one explode stage before WHERE/GROUP BY (ch_sql.py's
# arrayJoin pre-pass), so the call composes inside any expression.
_ARRAYJOIN_TOKENS_SQL = """
SELECT arrayJoin(splitByChar(' ', text)) AS tok, count(*) AS n
FROM fastnetmon.documents
WHERE lang = 'en'
GROUP BY tok
HAVING count(*) >= 50
ORDER BY n DESC, tok
LIMIT 50
"""


@query(
    "ch_sql_arrayjoin_expression",
    """
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE lang = 'en'
    )
    SELECT tok, count(*) AS n FROM toks GROUP BY tok
    HAVING count(*) >= 50 ORDER BY n DESC, tok LIMIT 50
    """,
)
def ch_sql_arrayjoin_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _ARRAYJOIN_TOKENS_SQL, _tables(spark, sf_dir, "documents")
    )


# ANSI spellings sharing keywords with CH builtins (EXTRACT unit FROM,
# TRIM spec FROM, substring FROM/FOR, position IN, ::-postfix casts)
# plus WHERE resolving a select alias (CH expression-alias extension):
# one pass over events, all map-side except the final group-by.
_ANSI_SPELLINGS_SQL = """
SELECT EXTRACT(month FROM ts) AS mo,
       trim(BOTH 'ce' FROM event_type) AS et,
       substring(event_type FROM 1 FOR 3) AS pre,
       position('i' IN event_type) AS pos_i,
       (user_id % 7)::Int16 AS bucket,
       count(*) AS n,
       min(event_id)::Int64 AS mn
FROM fastnetmon.events
WHERE bucket < 5
GROUP BY mo, et, pre, pos_i, bucket
ORDER BY mo, et, pre, pos_i, bucket
"""


@query(
    "ch_sql_ansi_spellings",
    """
    SELECT EXTRACT(month FROM ts) AS mo,
           trim(BOTH 'ce' FROM event_type) AS et,
           substring(event_type FROM 1 FOR 3) AS pre,
           position('i' IN event_type) AS pos_i,
           CAST(user_id % 7 AS SMALLINT) AS bucket,
           count(*) AS n,
           CAST(min(event_id) AS BIGINT) AS mn
    FROM events
    WHERE (user_id % 7) < 5
    GROUP BY mo, et, pre, pos_i, bucket
    ORDER BY mo, et, pre, pos_i, bucket
    """,
)
def ch_sql_ansi_spellings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ANSI_SPELLINGS_SQL, _tables(spark, sf_dir, "events"))


# Comma-separated FROM list (ANSI-89 cross join; the WHERE equality is
# pushed back into a hash equi-join by Catalyst) + the analytic window
# family (percent_rank/cume_dist/first_value) over a named WINDOW —
# head-of-distribution orders per market segment.
_COMMA_JOIN_ANALYTIC_SQL = """
SELECT seg, okey, pr, cd, fv
FROM (
  SELECT c.c_mktsegment AS seg, o.o_orderkey AS okey,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd,
         first_value(o.o_orderkey) OVER w AS fv
  FROM fastnetmon.orders o, fastnetmon.customer c
  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
  WINDOW w AS (PARTITION BY c.c_mktsegment
               ORDER BY o.o_totalprice DESC, o.o_orderkey)
)
WHERE pr <= 0.001
ORDER BY seg, okey
"""


@query(
    "ch_sql_comma_join_analytic",
    """
    SELECT seg, okey, pr, cd, fv
    FROM (
      SELECT c.c_mktsegment AS seg, o.o_orderkey AS okey,
             percent_rank() OVER w AS pr,
             cume_dist() OVER w AS cd,
             first_value(o.o_orderkey) OVER w AS fv
      FROM orders o, customer c
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      WINDOW w AS (PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey)
    )
    WHERE pr <= 0.001
    ORDER BY seg, okey
    """,
)
def ch_sql_comma_join_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _COMMA_JOIN_ANALYTIC_SQL, _tables(spark, sf_dir, "orders", "customer")
    )


# Statistics aggregate family + toStartOfInterval time grids. Results
# round to 6 decimals on BOTH sides: the engines' variance algorithms
# differ in summation order, so agreement is at ~1e-12 relative — far
# inside the 1e-6 grid (the playbook rule for cross-engine floats).
_STATS_AGG_SQL = """
SELECT toStartOfInterval(ts, INTERVAL 6 hour) AS bucket,
       round(stddevPop(value), 6) AS sp,
       round(varSamp(value), 6) AS vs,
       round(corr(value, user_id), 6) AS cr,
       round(avgWeighted(value, user_id), 6) AS aw,
       count(*) AS n
FROM fastnetmon.events
GROUP BY bucket
ORDER BY bucket
"""


@query(
    "ch_sql_stats_aggregates",
    """
    SELECT CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600)
                AS TIMESTAMP) AS bucket,
           round(stddev_pop(value), 6) AS sp,
           round(var_samp(value), 6) AS vs,
           round(corr(value, user_id), 6) AS cr,
           round(sum(value * user_id) / sum(user_id), 6) AS aw,
           count(*) AS n
    FROM events
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def ch_sql_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_STATS_AGG_SQL, _tables(spark, sf_dir, "events"))


# dictGet dictionary lookups: nation acts as an in-RAM dictionary
# keyed by its first column; o_custkey % 30 deliberately generates
# keys 25-29 with no dictionary row, exercising the CH missing-key
# semantics (attribute-type default '' and dictHas = false). The
# whole family compiles to one broadcast LEFT JOIN — never a
# per-row probe.
_DICTGET_SQL = """
SELECT dictGet('nation', 'n_name', modulo(o_custkey, 30)) AS nm,
       dictHas('nation', modulo(o_custkey, 30)) AS known,
       count(*) AS n,
       min(o_orderkey) AS mn
FROM fastnetmon.orders
GROUP BY nm, known
ORDER BY nm, known
"""


@query(
    "ch_sql_dictget_lookup",
    """
    SELECT coalesce(n.n_name, '') AS nm,
           n.n_nationkey IS NOT NULL AS known,
           count(*) AS n,
           min(o.o_orderkey) AS mn
    FROM orders o LEFT JOIN nation n ON o.o_custkey % 30 = n.n_nationkey
    GROUP BY nm, known
    ORDER BY nm, known
    """,
)
def ch_sql_dictget_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _DICTGET_SQL, _tables(spark, sf_dir, "orders", "nation")
    )


# Behavioral-analytics aggregates (functions/funnel.py). The funnel
# DP is a JVM-side F.aggregate fold over each user's sorted relevant
# events; the DuckDB oracle spells the DEFAULT-mode equivalence
# independently as EXISTS chains (e1 <= e2 <= e3, chain bounded by
# the start's window) — see the module docstring for the proof that
# the greedy chain-start-overwrite DP equals the existential form.
_WINDOW_FUNNEL_SQL = """
SELECT lvl, count(*) AS users
FROM (
  SELECT user_id,
         toInt64(windowFunnel(14400)(ts, event_type = 'view',
                 event_type = 'click', event_type = 'purchase')) AS lvl
  FROM fastnetmon.events
  GROUP BY user_id
)
GROUP BY lvl
ORDER BY lvl
"""


@query(
    "ch_sql_window_funnel",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    lv AS (
      SELECT u.user_id, (CASE
        WHEN EXISTS (
          SELECT 1 FROM events e1
          JOIN events e2 ON e2.user_id = e1.user_id
          JOIN events e3 ON e3.user_id = e1.user_id
          WHERE e1.user_id = u.user_id
            AND e1.event_type = 'view' AND e2.event_type = 'click'
            AND e3.event_type = 'purchase'
            AND e1.ts <= e2.ts AND e2.ts <= e3.ts
            AND e3.ts <= e1.ts + INTERVAL 14400 SECOND) THEN 3
        WHEN EXISTS (
          SELECT 1 FROM events e1
          JOIN events e2 ON e2.user_id = e1.user_id
          WHERE e1.user_id = u.user_id
            AND e1.event_type = 'view' AND e2.event_type = 'click'
            AND e1.ts <= e2.ts
            AND e2.ts <= e1.ts + INTERVAL 14400 SECOND) THEN 2
        WHEN EXISTS (
          SELECT 1 FROM events e1
          WHERE e1.user_id = u.user_id
            AND e1.event_type = 'view') THEN 1
        ELSE 0 END)::BIGINT AS lvl
      FROM u)
    SELECT lvl, count(*) AS users
    FROM lv GROUP BY lvl ORDER BY lvl
    """,
)
def ch_sql_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_WINDOW_FUNNEL_SQL, _tables(spark, sf_dir, "events"))


# retention + sequenceMatch/sequenceCount rolled up corpus-wide. The
# sequenceCount oracle uses the C->P boundary identity: successive
# non-overlapping '(?1).*(?2)' chains over the condensed considered-
# event sequence = adjacent (click, purchase) pairs in that sequence.
_RETENTION_SEQ_SQL = """
SELECT sum(r[1]) AS r_base,
       sum(r[2]) AS r_click,
       sum(r[3]) AS r_purchase,
       sum(toUInt8(sm)) AS seq_users,
       sum(sc) AS seq_chains
FROM (
  SELECT user_id,
         retention(event_type = 'signup', event_type = 'click',
                   event_type = 'purchase') AS r,
         sequenceMatch('(?1).*(?2)')(ts, event_type = 'signup',
                 event_type = 'purchase') AS sm,
         sequenceCount('(?1).*(?2)')(ts, event_type = 'click',
                 event_type = 'purchase') AS sc
  FROM fastnetmon.events
  GROUP BY user_id
)
"""


@query(
    "ch_sql_retention_sequence",
    """
    WITH per_u AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id),
    sm AS (
      SELECT a.user_id, max(CASE WHEN EXISTS (
               SELECT 1 FROM events b WHERE b.user_id = a.user_id
                 AND b.event_type = 'purchase' AND a.ts < b.ts)
             THEN 1 ELSE 0 END) AS m
      FROM events a WHERE a.event_type = 'signup' GROUP BY a.user_id),
    sc AS (
      SELECT user_id,
             count(*) FILTER (WHERE event_type = 'purchase'
                              AND prev = 'click') AS n
      FROM (SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts) AS prev
            FROM events
            WHERE event_type IN ('click', 'purchase'))
      GROUP BY user_id)
    SELECT sum(per_u.s)::BIGINT AS r_base,
           sum(CASE WHEN per_u.s = 1 AND per_u.c = 1
                    THEN 1 ELSE 0 END)::BIGINT AS r_click,
           sum(CASE WHEN per_u.s = 1 AND per_u.p = 1
                    THEN 1 ELSE 0 END)::BIGINT AS r_purchase,
           sum(coalesce(sm.m, 0))::BIGINT AS seq_users,
           sum(coalesce(sc.n, 0))::BIGINT AS seq_chains
    FROM per_u
    LEFT JOIN sm ON sm.user_id = per_u.user_id
    LEFT JOIN sc ON sc.user_id = per_u.user_id
    """,
)
def ch_sql_retention_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_RETENTION_SEQ_SQL, _tables(spark, sf_dir, "events"))


# Map-keyed aggregates: sumMap/minMap/maxMap fold per-row key/value
# arrays into a (sorted keys, folded values) tuple per group,
# accessed positionally via tupleElement. Counts use a literal-1
# value array so every folded number is an exact integer (the
# playbook's cross-engine float rule); min/max over doubles are
# order-free and exact.
_SUMMAP_SQL = """
SELECT modulo(user_id, 7) AS grp,
       tupleElement(sumMap([event_type], [toInt64(1)]), 1) AS ks,
       tupleElement(sumMap([event_type], [toInt64(1)]), 2) AS counts,
       tupleElement(minMap([event_type], [value]), 2) AS mins,
       tupleElement(maxMap([event_type], [value]), 2) AS maxs
FROM fastnetmon.events
GROUP BY grp
ORDER BY grp
"""


@query(
    "ch_sql_summap_by_group",
    """
    WITH per AS (
      SELECT user_id % 7 AS grp, event_type AS et,
             count(*)::BIGINT AS c, min(value) AS mn, max(value) AS mx
      FROM events GROUP BY 1, 2)
    SELECT grp,
           array_to_string(list(et ORDER BY et), ',') AS ks,
           array_to_string(list(c ORDER BY et), ',') AS counts,
           array_to_string(list_transform(list(mn ORDER BY et),
             x -> printf('%.6f', x)), ',') AS mins,
           array_to_string(list_transform(list(mx ORDER BY et),
             x -> printf('%.6f', x)), ',') AS maxs
    FROM per GROUP BY grp ORDER BY grp
    """,
)
def ch_sql_summap_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_SUMMAP_SQL, _tables(spark, sf_dir, "events"))
    return df.select(
        "grp",
        _arr_digest("ks").alias("ks"),
        _arr_digest("counts").alias("counts"),
        _arr_digest("mins", "%.6f").alias("mins"),
        _arr_digest("maxs", "%.6f").alias("maxs"),
    )


# General aggregate-combinator grammar (round 6): suffix-composed
# spellings — If / Array / OrNull / ForEach on arbitrary known bases,
# plus the per-row arrayReduce('agg', arr). Every summed quantity is an
# integer-valued double (l_quantity), so cross-engine sums are exact
# regardless of fold order (the playbook's float rule); the ForEach
# fold over collect_list order is likewise order-free.
_COMBINATOR_SQL = """
SELECT rflag,
       sumIf(q, d > 0.05) AS qty_hidisc,
       countIf(t > 0.04) AS n_taxed,
       sumArray(arr) AS sum_arr,
       minArray(arr) AS min_arr,
       avgArray(arr) AS avg_arr,
       sumForEach(arr) AS sum_each,
       sumOrNull(q) AS sum_q,
       maxArrayIf(arr, t > 0.04) AS max_taxed,
       max(rsum) AS max_rowsum
FROM (SELECT l_returnflag AS rflag, l_quantity AS q,
             l_discount AS d, l_tax AS t,
             [l_quantity, l_quantity + 1] AS arr,
             arrayReduce('sum', [l_quantity, l_quantity + 1]) AS rsum
      FROM fastnetmon.lineitem)
GROUP BY rflag
ORDER BY rflag
"""


@query(
    "ch_sql_agg_combinators",
    """
    SELECT l_returnflag AS rflag,
           sum(CASE WHEN l_discount > 0.05 THEN l_quantity END) AS qty_hidisc,
           count(*) FILTER (WHERE l_tax > 0.04) AS n_taxed,
           sum(l_quantity + l_quantity + 1) AS sum_arr,
           min(l_quantity) AS min_arr,
           sum(l_quantity + l_quantity + 1) / (2 * count(*)) AS avg_arr,
           printf('%.2f,%.2f', sum(l_quantity),
                  sum(l_quantity + 1)) AS sum_each,
           sum(l_quantity) AS sum_q,
           max(CASE WHEN l_tax > 0.04 THEN l_quantity + 1 END) AS max_taxed,
           max(l_quantity + l_quantity + 1) AS max_rowsum
    FROM lineitem
    GROUP BY rflag
    ORDER BY rflag
    """,
)
def ch_sql_agg_combinators(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_COMBINATOR_SQL, _tables(spark, sf_dir, "lineitem"))
    return df.withColumn("sum_each", _arr_digest("sum_each", "%.2f"))


# Map(K, V) family (round 6): map literals, mapFromArrays, m['key']
# subscripts, mapKeys/mapValues/mapContains, mapFilter lambdas — the
# modern-CH surface the reference's v1.5.4 column codec predates
# (ch/lib/column/column.go:22-187 has no Map case). The map is built
# from per-group aggregates so every value is a deterministic integer;
# DuckDB replays the extracted scalars directly (its 1.0.0 MAP
# subscript returns a LIST, so the oracle computes the scalars without
# the map detour — same values, same names).
_MAP_SQL = """
SELECT etype,
       m['n'] AS n_events,
       m['users'] AS n_users,
       mapKeys(m) AS ks,
       mapValues(mapFilter((k, v) -> v > 0, m)) AS vs,
       mapContains(m, 'n') AS has_n,
       mapContains(m, 'zz') AS has_zz,
       mapUpdate(m, map('n', 0 - 1))['n'] AS n_overridden
FROM (SELECT event_type AS etype,
             map('n', count(*), 'users', uniqExact(user_id)) AS m
      FROM fastnetmon.events
      GROUP BY event_type)
ORDER BY etype
"""


@query(
    "ch_sql_map_functions",
    """
    SELECT event_type AS etype,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           'n,users' AS ks,
           CAST(count(*) AS VARCHAR) || ','
             || CAST(count(DISTINCT user_id) AS VARCHAR) AS vs,
           true AS has_n,
           false AS has_zz,
           CAST(-1 AS BIGINT) AS n_overridden
    FROM events
    GROUP BY event_type
    ORDER BY etype
    """,
)
def ch_sql_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_MAP_SQL, _tables(spark, sf_dir, "events"))
    return df.withColumn("ks", _arr_digest("ks")).withColumn(
        "vs", _arr_digest("vs")
    )


# file() table function (round 6): read external parquet in place —
# the CH idiom for ad-hoc data (sql-reference/table-functions/file).
# Same scan path spark.read uses everywhere else, so pushdown/pruning
# apply; on a cluster the location would be s3:// with the identical
# plan. The oracle reads the same parquet through its registered view.
def ch_sql_file_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        f"""
        SELECT o_orderpriority,
               count(*) AS n,
               countDistinct(o_custkey) AS nc,
               min(o_orderdate) AS first_day
        FROM file('{sf_dir}/orders.parquet', 'Parquet')
        WHERE o_totalprice > 1000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        {},
    )


query(
    "ch_sql_file_read",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           count(DISTINCT o_custkey) AS nc,
           min(o_orderdate) AS first_day
    FROM orders
    WHERE o_totalprice > 1000
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)(ch_sql_file_read)


# Round-6 function tranche exercised end-to-end: format() braces,
# OrZero conversions, toDecimal64 scale casts, groupBitOr, parametric
# uniqUpTo — each against the native DuckDB spelling.
_R6_FUNCS_SQL = """
SELECT format('{}|{}', o_orderstatus, o_orderpriority) AS tag,
       groupBitOr(o_custkey) AS bo,
       uniqUpTo(3)(o_orderstatus) AS u3,
       toFloat64(min(toDecimal64(o_totalprice, 2))) AS minp,
       max(toInt64OrZero(substring(toString(o_orderdate), 1, 4))) AS yr_max,
       countIf(isNotNull(o_orderdate)) AS n_dated
FROM fastnetmon.orders
GROUP BY tag
ORDER BY tag
"""


@query(
    "ch_sql_round6_functions",
    """
    SELECT format('{}|{}', o_orderstatus, o_orderpriority) AS tag,
           bit_or(o_custkey) AS bo,
           least(count(DISTINCT o_orderstatus), 4) AS u3,
           CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS minp,
           max(coalesce(try_cast(substring(CAST(o_orderdate AS VARCHAR), 1, 4)
             AS BIGINT), 0)) AS yr_max,
           count(*) FILTER (WHERE o_orderdate IS NOT NULL) AS n_dated
    FROM orders
    GROUP BY tag
    ORDER BY tag
    """,
)
def ch_sql_round6_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_R6_FUNCS_SQL, _tables(spark, sf_dir, "orders"))


# Vector-math family over the embeddings table (round 6): norms,
# distances to the label-0 centroid proxy (the first vector), and
# arrayAUC ranking label against the norm signal. The DuckDB side
# casts every float element to DOUBLE before folding so both engines
# run the identical IEEE sequence (fold order is list order in both);
# outputs rounded to 6 decimals like the TF-IDF precedent.
_VECTOR_SQL = """
SELECT label,
       count(*) AS n,
       round(min(L2Norm(embedding)), 6) AS min_norm,
       round(max(L1Norm(embedding)), 6) AS max_l1,
       round(min(cosineDistance(embedding,
                 arrayMap(x -> 1.0, embedding))), 6) AS min_cd
FROM fastnetmon.embeddings
GROUP BY label
ORDER BY label
"""


@query(
    "ch_sql_vector_functions",
    """
    WITH e AS (
      SELECT label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT label,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS l2,
             list_sum(list_transform(v, x -> abs(x))) AS l1,
             1.0 - list_sum(v) /
               (sqrt(list_sum(list_transform(v, x -> x * x)))
                * sqrt(CAST(len(v) AS DOUBLE))) AS cd
      FROM e
    )
    SELECT label,
           count(*) AS n,
           round(min(l2), 6) AS min_norm,
           round(max(l1), 6) AS max_l1,
           round(min(cd), 6) AS min_cd
    FROM m
    GROUP BY label
    ORDER BY label
    """,
)
def ch_sql_vector_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_VECTOR_SQL, _tables(spark, sf_dir, "embeddings"))


# LTTB downsampling end-to-end (round 6): per-type event series
# reduced to 12 points. Full-value oracle (round 7): the greedy bucket
# walk makes exactly k-2 = 10 sequential choices, so the recursion
# UNROLLS into 10 chained argmax CTEs in DuckDB — each picks the
# max-triangle-area point of bucket i given the previous pick and the
# next bucket's centroid, with the identical IEEE expression shape the
# Spark fold evaluates. The y series is floor(value) so every centroid
# sum is exact (integer-valued doubles sum order-independently) and
# both engines produce bit-identical areas — the same exactness
# technique as the geohash dyadic-midpoint oracle. Ties break to the
# first point in x-order on both sides (the fold's strict >).
_LTTB_SQL = """
SELECT etype, tupleElement(p, 'x') AS x,
       round(tupleElement(p, 'y'), 6) AS y
FROM (SELECT event_type AS etype,
             largestTriangleThreeBuckets(12)(toUnixTimestamp(ts),
                                             floor(value)) AS pts
      FROM fastnetmon.events
      GROUP BY event_type) ARRAY JOIN pts AS p
ORDER BY etype, x
"""


def _lttb_oracle(k: int = 12) -> str:
    nb = k - 2
    # area(prev p, candidate b, next anchor a) — operand order mirrors
    # functions/ch_compat._lttb.area exactly
    area = (
        "abs((p.x - a.ax) * (b.y - p.y)"
        " - (p.x - b.x) * (a.ay - p.y))"
    )

    sels = []
    for i in range(1, nb + 1):
        prev = "p0" if i == 1 else f"sel{i - 1}"
        sels.append(f"""
    sel{i} AS (
      SELECT etype, x, y FROM (
        SELECT b.etype, b.x, b.y,
          row_number() OVER (PARTITION BY b.etype ORDER BY
            {area} DESC,
            b.rn ASC) AS rk
        FROM buckets b
        JOIN {prev} p ON p.etype = b.etype
        JOIN anchors a ON a.etype = b.etype AND a.i = {i}
        WHERE b.i = {i}
      ) WHERE rk = 1
    )""")
    sel_union = "\n      UNION ALL\n".join(
        f"      SELECT etype, CAST(x AS DOUBLE) AS x, y FROM sel{i}"
        for i in range(1, nb + 1)
    )
    return f"""
    WITH pts AS (
      SELECT event_type AS etype,
             CAST(floor(epoch(ts)) AS BIGINT) AS x,
             floor(value) AS y
      FROM events
    ),
    ord AS (
      SELECT etype, x, y,
             row_number() OVER (PARTITION BY etype ORDER BY x, y) AS rn,
             count(*) OVER (PARTITION BY etype) AS n
      FROM pts
    ),
    buckets AS (
      -- bucket i covers rn in [2 + floor((i-1)m/{nb}), 1 + floor(im/{nb})],
      -- m = n - 2: the same floor boundaries the Spark fold slices
      SELECT o.etype, g.i, o.rn, o.x, o.y
      FROM ord o
      JOIN (SELECT unnest(generate_series(1, {nb})) AS i) g
        ON o.rn >= 2 + floor((g.i - 1) * (o.n - 2) / {float(nb)})
       AND o.rn <= 1 + floor(g.i * (o.n - 2) / {float(nb)})
      WHERE o.n > {k}
    ),
    centroids AS (
      SELECT etype, i,
             CAST(sum(x) AS DOUBLE) / count(*) AS cx,
             sum(y) / count(*) AS cy
      FROM buckets GROUP BY etype, i
    ),
    last_pts AS (SELECT etype, x, y FROM ord WHERE rn = n AND n > {k}),
    p0 AS (SELECT etype, x, y FROM ord WHERE rn = 1 AND n > {k}),
    anchors AS (
      -- the next anchor for bucket i: bucket i+1's centroid, or the
      -- series' last point for the final bucket
      SELECT c.etype, c.i,
             CASE WHEN c.i = {nb} THEN CAST(l.x AS DOUBLE)
                  ELSE nx.cx END AS ax,
             CASE WHEN c.i = {nb} THEN l.y ELSE nx.cy END AS ay
      FROM centroids c
      JOIN last_pts l ON l.etype = c.etype
      LEFT JOIN centroids nx
        ON nx.etype = c.etype AND nx.i = c.i + 1
    ),{",".join(sels)}
    SELECT etype, CAST(x AS DOUBLE) AS x, round(y, 6) AS y FROM ord
    WHERE n <= {k}
    UNION ALL
    SELECT etype, x, round(y, 6) AS y FROM (
      SELECT etype, CAST(x AS DOUBLE) AS x, y FROM p0
      UNION ALL
{sel_union}
      UNION ALL
      SELECT etype, CAST(x AS DOUBLE) AS x, y FROM last_pts
    )
    ORDER BY etype, x
    """


@query("ch_sql_lttb_downsample", _lttb_oracle())
def ch_sql_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_LTTB_SQL, _tables(spark, sf_dir, "events"))


# Round-6b everyday tranche, calendar/math/JSON half: toMonday /
# toDayOfYear / toWeek ISO / timeSlot grids, bitTest parity, gcd, and
# the JSON introspection family over the events props column — each
# against the native DuckDB spelling (sums cast to BIGINT: DuckDB
# integer sum returns HUGEINT, the numbers_rollup hash lesson).
_R6B_FUNCS_SQL = """
SELECT event_type,
       count(*) AS n,
       min(toMonday(toDate(ts))) AS first_monday,
       max(toDayOfYear(toDate(ts))) AS max_doy,
       max(toWeek(toDate(ts), 3)) AS max_isoweek,
       sum(bitTest(user_id, 0)) AS odd_users,
       min(timeSlot(ts)) AS first_slot,
       sum(gcd(user_id, 12)) AS g12,
       max(JSONLength(props)) AS jl,
       countIf(JSONType(props, 'k') = 'Int64') AS jk_int
FROM fastnetmon.events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_round6b_functions",
    """
    SELECT event_type,
           count(*) AS n,
           min(CAST(date_trunc('week', ts) AS DATE)) AS first_monday,
           max(dayofyear(ts)) AS max_doy,
           max(week(ts)) AS max_isoweek,
           CAST(sum(user_id & 1) AS BIGINT) AS odd_users,
           min(CAST(to_timestamp(epoch(ts) - epoch(ts) % 1800)
               AS TIMESTAMP)) AS first_slot,
           CAST(sum(gcd(user_id, 12)) AS BIGINT) AS g12,
           CAST(max(len(json_keys(props))) AS BIGINT) AS jl,
           CAST(count(*) FILTER (WHERE json_type(props, '$.k') = 'UBIGINT')
               AS BIGINT) AS jk_int
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def ch_sql_round6b_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_R6B_FUNCS_SQL, _tables(spark, sf_dir, "events"))


# Round-6b everyday tranche, string-search half over documents:
# replaceOne splice, countSubstrings length-delta scan, hasToken
# separator-bounded match, multiSearchFirstIndex leftmost-needle, and
# the ILIKE operator — DuckDB replicates replaceOne with its default
# (non-global) regexp_replace and hasToken with the same boundary
# regex.
_R6B_STRINGS_SQL = """
SELECT lang,
       count(*) AS n,
       sum(countSubstrings(text, 'the')) AS n_the,
       countIf(hasToken(text, 'table')) AS with_table,
       sum(multiSearchFirstIndex(text, ['table', 'row', 'value'])) AS msfi,
       sum(lengthUTF8(replaceOne(text, 'a', '@@'))) AS len_rep,
       countIf(source ILIKE 'SRC1%') AS src1
FROM fastnetmon.documents
GROUP BY lang
ORDER BY lang
"""


@query(
    "ch_sql_string_search",
    r"""
    SELECT lang,
           count(*) AS n,
           CAST(sum((length(text) - length(replace(text, 'the', '')))
               / 3) AS BIGINT) AS n_the,
           CAST(count(*) FILTER (WHERE regexp_matches(text,
               '(^|[^A-Za-z0-9_])table($|[^A-Za-z0-9_])'))
               AS BIGINT) AS with_table,
           CAST(sum(
             CASE
               WHEN position('table' IN text) = 0
                AND position('row' IN text) = 0
                AND position('value' IN text) = 0 THEN 0
               ELSE CASE least(
                 CASE WHEN position('table' IN text) = 0 THEN 999999
                      ELSE position('table' IN text) END,
                 CASE WHEN position('row' IN text) = 0 THEN 999999
                      ELSE position('row' IN text) END,
                 CASE WHEN position('value' IN text) = 0 THEN 999999
                      ELSE position('value' IN text) END)
                 WHEN CASE WHEN position('table' IN text) = 0 THEN 999999
                           ELSE position('table' IN text) END THEN 1
                 WHEN CASE WHEN position('row' IN text) = 0 THEN 999999
                           ELSE position('row' IN text) END THEN 2
                 ELSE 3
               END
             END) AS BIGINT) AS msfi,
           CAST(sum(length(regexp_replace(text, 'a', '@@'))) AS BIGINT)
               AS len_rep,
           CAST(count(*) FILTER (WHERE source ILIKE 'SRC1%') AS BIGINT)
               AS src1
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
)
def ch_sql_string_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_R6B_STRINGS_SQL, _tables(spark, sf_dir, "documents"))


# Statistical-test aggregates end-to-end (round 6): two-sample tests
# over the events value column split by user parity, plus regression
# and bounding-box slopes. The oracle rebuilds each statistic from
# first principles in DuckDB — conditional moments for the t-tests,
# average-tie window ranks for Mann-Whitney U, ECDF gap maxima for
# the KS distance — and both sides round to 6 decimals (the corr/
# covar precedent: double-sum association differs between engines in
# the last ulps).
_STAT_TESTS_SQL = """
SELECT event_type,
       round(tupleElement(studentTTest(value, user_id % 2),
             't_statistic'), 6) AS t_stat,
       round(tupleElement(welchTTest(value, user_id % 2),
             't_statistic'), 6) AS w_stat,
       round(tupleElement(mannWhitneyUTest(value, user_id % 2),
             'u_statistic'), 1) AS u_stat,
       round(tupleElement(kolmogorovSmirnovTest(value, user_id % 2),
             'd_statistic'), 6) AS d_stat,
       round(tupleElement(simpleLinearRegression(toFloat64(user_id),
             value), 'k'), 6) AS slope,
       round(boundingRatio(toFloat64(user_id), value), 6) AS br,
       round(entropy(toInt64(value) % 4), 6) AS ent
FROM fastnetmon.events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_stat_tests",
    """
    WITH base AS (
      SELECT event_type, value, user_id % 2 AS idx, user_id
      FROM events
    ),
    mom AS (
      SELECT event_type,
             count(*) FILTER (WHERE idx = 0) AS n0,
             count(*) FILTER (WHERE idx = 1) AS n1,
             avg(value) FILTER (WHERE idx = 0) AS m0,
             avg(value) FILTER (WHERE idx = 1) AS m1,
             var_samp(value) FILTER (WHERE idx = 0) AS v0,
             var_samp(value) FILTER (WHERE idx = 1) AS v1,
             regr_slope(value, CAST(user_id AS DOUBLE)) AS slope,
             (max(value) - min(value))
               / (max(CAST(user_id AS DOUBLE))
                  - min(CAST(user_id AS DOUBLE))) AS br,
             entropy(CAST(trunc(value) AS BIGINT) % 4) AS ent
      FROM base GROUP BY event_type
    ),
    ranked AS (
      SELECT event_type, value, idx,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn
      FROM base
    ),
    aranked AS (
      SELECT event_type, idx,
             avg(rn) OVER (PARTITION BY event_type, value) AS arank
      FROM ranked
    ),
    u AS (
      SELECT event_type,
             sum(arank) FILTER (WHERE idx = 0) AS r0
      FROM aranked GROUP BY event_type
    ),
    ecdf AS (
      SELECT event_type, value,
             max(c0) AS c0m, max(c1) AS c1m
      FROM (
        SELECT event_type, value,
               count(*) FILTER (WHERE idx = 0)
                 OVER (PARTITION BY event_type ORDER BY value) AS c0,
               count(*) FILTER (WHERE idx = 1)
                 OVER (PARTITION BY event_type ORDER BY value) AS c1
        FROM base
      ) GROUP BY event_type, value
    ),
    ks AS (
      SELECT e.event_type,
             max(abs(e.c0m / CAST(m.n0 AS DOUBLE)
                     - e.c1m / CAST(m.n1 AS DOUBLE))) AS d
      FROM ecdf e JOIN mom m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT m.event_type,
           round((m.m0 - m.m1) / sqrt(
             (((m.n0 - 1) * m.v0 + (m.n1 - 1) * m.v1)
              / (m.n0 + m.n1 - 2))
             * (1.0 / m.n0 + 1.0 / m.n1)), 6) AS t_stat,
           round((m.m0 - m.m1)
             / sqrt(m.v0 / m.n0 + m.v1 / m.n1), 6) AS w_stat,
           round(u.r0 - m.n0 * (m.n0 + 1) / 2.0, 1) AS u_stat,
           round(ks.d, 6) AS d_stat,
           round(m.slope, 6) AS slope,
           round(m.br, 6) AS br,
           round(m.ent, 6) AS ent
    FROM mom m
    JOIN u ON u.event_type = m.event_type
    JOIN ks ON ks.event_type = m.event_type
    ORDER BY m.event_type
    """,
)
def ch_sql_stat_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_STAT_TESTS_SQL, _tables(spark, sf_dir, "events"))


# Interval / order-dependent aggregates end-to-end (round 6):
# synthetic [ts, ts + trunc(value) % 100 s] intervals per event type —
# union length via the DuckDB gaps-and-islands rebuild, concurrency
# peak via the +1/-1 sweep, positive-delta sum via lag. Tie-break on
# (ts, value) matches the engine's lexicographic sort_array tape.
_INTERVAL_AGGS_SQL = """
SELECT event_type,
       round(intervalLengthSum(toFloat64(toUnixTimestamp(ts)),
             toFloat64(toUnixTimestamp(ts)) + intDiv(toInt64(value), 1)
               % 100), 1) AS ils,
       maxIntersections(toFloat64(toUnixTimestamp(ts)),
             toFloat64(toUnixTimestamp(ts)) + intDiv(toInt64(value), 1)
               % 100) AS mi,
       round(deltaSumTimestamp(value, ts), 4) AS dst,
       round(exponentialMovingAverage(3600)(value,
             toFloat64(toUnixTimestamp(ts))), 4) AS ema
FROM fastnetmon.events
GROUP BY event_type
ORDER BY event_type
"""


@query(
    "ch_sql_interval_aggs",
    """
    WITH iv AS (
      -- floor(epoch): Spark's toUnixTimestamp truncates to whole
      -- seconds; events.ts carries microseconds
      SELECT event_type,
             floor(epoch(ts)) AS s,
             floor(epoch(ts))
               + CAST(trunc(value) AS BIGINT) % 100 AS e,
             value, ts
      FROM events
    ),
    flag AS (
      SELECT event_type, s, e,
             CASE WHEN s > max(e) OVER (PARTITION BY event_type
                    ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e) OVER (PARTITION BY event_type
                    ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    isl AS (
      SELECT event_type, s, e,
             sum(new_island) OVER (PARTITION BY event_type
               ORDER BY s, e) AS grp
      FROM flag
    ),
    ils AS (
      SELECT event_type,
             sum(mx - mn) AS total
      FROM (SELECT event_type, grp, min(s) AS mn, max(e) AS mx
            FROM isl GROUP BY event_type, grp)
      GROUP BY event_type
    ),
    ev AS (
      SELECT event_type, s AS t, 1 AS d FROM iv
      UNION ALL
      SELECT event_type, e AS t, -1 AS d FROM iv
    ),
    mi AS (
      SELECT event_type, max(cur) AS best
      FROM (SELECT event_type,
                   sum(d) OVER (PARTITION BY event_type
                     ORDER BY t, d
                     ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cur
            FROM ev)
      GROUP BY event_type
    ),
    dst AS (
      SELECT event_type,
             sum(CASE WHEN value > pv THEN value - pv ELSE 0 END)
               AS total
      FROM (SELECT event_type, value,
                   lag(value) OVER (PARTITION BY event_type
                     ORDER BY ts, value) AS pv
            FROM iv)
      GROUP BY event_type
    ),
    ema AS (
      SELECT event_type,
             sum(value * pow(2.0, (s - mx) / 3600.0))
               / sum(pow(2.0, (s - mx) / 3600.0)) AS v
      FROM (SELECT event_type, value, s,
                   max(s) OVER (PARTITION BY event_type) AS mx
            FROM iv)
      GROUP BY event_type
    )
    SELECT ils.event_type,
           round(ils.total, 1) AS ils,
           CAST(mi.best AS BIGINT) AS mi,
           round(dst.total, 4) AS dst,
           round(ema.v, 4) AS ema
    FROM ils
    JOIN mi ON mi.event_type = ils.event_type
    JOIN dst ON dst.event_type = ils.event_type
    JOIN ema ON ema.event_type = ils.event_type
    ORDER BY ils.event_type
    """,
)
def ch_sql_interval_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_INTERVAL_AGGS_SQL, _tables(spark, sf_dir, "events"))


# Categorical association aggregates (round 6): cramersV /
# cramersVBiasCorrected / theilsU / contingency over the documents
# (lang, source) pair, grouped by a small derived key. The oracle
# rebuilds each statistic from the contingency cell counts in DuckDB
# — Pearson chi-squared from (o-e)^2/e over cells, the Bergsma-Wicher
# correction, and the natural-log uncertainty coefficient — and both
# sides round to 6 decimals (the stat-tests precedent).
_ASSOCIATION_SQL = """
SELECT n_chars % 3 AS grp,
       round(cramersV(lang, source), 6) AS v,
       round(cramersVBiasCorrected(lang, source), 6) AS vbc,
       round(theilsU(lang, source), 6) AS u,
       round(contingency(lang, source), 6) AS cg
FROM fastnetmon.documents
GROUP BY n_chars % 3
ORDER BY grp
"""


@query(
    "ch_sql_association_stats",
    """
    WITH pairs AS (
      SELECT n_chars % 3 AS grp, lang AS x, source AS y FROM documents
    ),
    cells AS (
      SELECT grp, x, y, CAST(count(*) AS DOUBLE) AS c
      FROM pairs GROUP BY grp, x, y
    ),
    rows_ AS (SELECT grp, x, sum(c) AS rc FROM cells GROUP BY grp, x),
    cols_ AS (SELECT grp, y, sum(c) AS cc FROM cells GROUP BY grp, y),
    tot AS (
      SELECT grp, sum(c) AS n,
             CAST(count(DISTINCT x) AS DOUBLE) AS r,
             CAST(count(DISTINCT y) AS DOUBLE) AS cdim
      FROM cells GROUP BY grp
    ),
    agg AS (
      SELECT c.grp,
             sum(pow(c.c - r.rc*co.cc/t.n, 2) / (r.rc*co.cc/t.n))
               AS chi2,
             sum((c.c/t.n) * ln(c.c/co.cc)) AS s
      FROM cells c
      JOIN rows_ r ON c.grp = r.grp AND c.x = r.x
      JOIN cols_ co ON c.grp = co.grp AND c.y = co.y
      JOIN tot t ON c.grp = t.grp
      GROUP BY c.grp
    ),
    hx AS (
      SELECT r.grp, -sum((r.rc/t.n)*ln(r.rc/t.n)) AS hx
      FROM rows_ r JOIN tot t ON r.grp = t.grp GROUP BY r.grp
    )
    SELECT t.grp,
      round(sqrt(agg.chi2/t.n/least(t.r-1, t.cdim-1)), 6) AS v,
      round(sqrt(greatest(0.0,
              agg.chi2/t.n - (t.r-1)*(t.cdim-1)/(t.n-1))
            / least(t.r - pow(t.r-1,2)/(t.n-1) - 1,
                    t.cdim - pow(t.cdim-1,2)/(t.n-1) - 1)), 6) AS vbc,
      round((hx.hx + agg.s) / hx.hx, 6) AS u,
      round(sqrt(agg.chi2/(agg.chi2 + t.n)), 6) AS cg
    FROM tot t
    JOIN agg ON agg.grp = t.grp
    JOIN hx ON hx.grp = t.grp
    ORDER BY t.grp
    """,
)
def ch_sql_association_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ASSOCIATION_SQL, _tables(spark, sf_dir, "documents"))


# Geo function family (round 6): great-circle/WGS-84 distances,
# central angle, point-in-polygon ray cast over a literal square, and
# the geohash encode/decode round trip — all over deterministic
# pseudo-coordinates derived from orders keys. The DuckDB oracle
# re-spells the haversine trig directly and builds the geohash from
# its closed form (bit k of the geohash is binary digit k of the
# bisected coordinate fraction — floor((frac) * 2^(k+1)) % 2), and the
# decoded cell center from the same fraction; every midpoint is a
# dyadic rational, so both engines produce bit-identical centers.
_GEO_SQL = """
SELECT st,
       count(*) AS n,
       round(avg(greatCircleDistance(lon1, lat1, lon2, lat2)), 2)
         AS gcd_avg,
       round(avg(geoDistance(lon1, lat1, lon2, lat2)), 2) AS gd_avg,
       round(avg(greatCircleAngle(lon1, lat1, lon2, lat2)), 6)
         AS gca_avg,
       sum(toInt64(pointInPolygon((px, py),
         [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])))
         AS in_sq,
       min(geohashEncode(lon1, lat1, 6)) AS gh_min,
       round(min(tupleElement(
         geohashDecode(geohashEncode(lon1, lat1, 6)), 1)), 6)
         AS dec_lon_min
FROM (
  SELECT o_orderstatus AS st,
         (o_orderkey % 360) - 179.5 AS lon1,
         (o_custkey % 170) - 84.5 AS lat1,
         ((o_orderkey * 7) % 360) - 179.5 AS lon2,
         ((o_custkey * 3) % 170) - 84.5 AS lat2,
         ((o_orderkey * 3) % 20) - 4.5 AS px,
         ((o_custkey * 5) % 20) - 4.5 AS py
  FROM fastnetmon.orders
  WHERE o_orderkey % 7 = 0
)
GROUP BY st
ORDER BY st
"""


@query(
    "ch_sql_geo_functions",
    """
    WITH base AS (
      SELECT o_orderstatus AS st,
             (o_orderkey % 360) - 179.5 AS lon1,
             (o_custkey % 170) - 84.5 AS lat1,
             ((o_orderkey * 7) % 360) - 179.5 AS lon2,
             ((o_custkey * 3) % 170) - 84.5 AS lat2,
             ((o_orderkey * 3) % 20) - 4.5 AS px,
             ((o_custkey * 5) % 20) - 4.5 AS py
      FROM orders
      WHERE o_orderkey % 7 = 0
    ),
    geo AS (
      SELECT st, px, py,
        2*asin(least(1.0, sqrt(
          pow(sin(radians(lat2-lat1)/2), 2)
          + cos(radians(lat1))*cos(radians(lat2))
            *pow(sin(radians(lon2-lon1)/2), 2)))) AS ang,
        6378137.0 - 21385.0
          * pow(sin(radians((lat1+lat2)/2)), 2) AS wgs_r,
        array_to_string(list_transform(range(6), j ->
          substring('0123456789bcdefghjkmnpqrstuvwxyz',
            1 + CAST(list_sum(list_transform(range(5), b ->
              (CAST(floor(CASE WHEN (5*j+b) % 2 = 0
                THEN ((lon1+180)/360) * power(2, ((5*j+b)//2) + 1)
                ELSE ((lat1+90)/180) * power(2, ((5*j+b-1)//2) + 1)
                END) AS BIGINT) % 2)
              * CAST(power(2, 4-b) AS BIGINT))) AS INT), 1)), '')
          AS gh,
        -180 + 360*(floor(((lon1+180)/360) * 32768) + 0.5)/32768
          AS dec_lon
      FROM base
    )
    SELECT st,
           count(*) AS n,
           round(avg(ang * 6371000.0), 2) AS gcd_avg,
           round(avg(ang * wgs_r), 2) AS gd_avg,
           round(avg(degrees(ang)), 6) AS gca_avg,
           CAST(sum(CASE WHEN px > 0 AND px < 10 AND py > 0 AND py < 10
               THEN 1 ELSE 0 END) AS BIGINT) AS in_sq,
           min(gh) AS gh_min,
           round(min(dec_lon), 6) AS dec_lon_min
    FROM geo
    GROUP BY st
    ORDER BY st
    """,
)
def ch_sql_geo_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_GEO_SQL, _tables(spark, sf_dir, "orders"))


# String-similarity family (round 6c): edit distance, character-set
# Jaccard, byte Hamming over padded fixed-width prefixes, and the
# 4-gram Dice distance, computed over adjacent-document pairs (lead()
# within source). DuckDB oracles: levenshtein / jaccard / mismatches
# builtins plus a hand-spelled 4-gram list pipeline. The OSA
# damerauLevenshtein stays pytest-pinned (tests/
# test_ch_round6c_functions.py) — DuckDB's damerau_levenshtein is the
# FULL Damerau variant ('ca'->'abc' = 2, OSA = 3), so no SQL oracle
# can replay it.
_STRING_SIMILARITY_SQL = """
SELECT src,
       count(*) AS n,
       round(avg(editDistance(a, b)), 4) AS ed_avg,
       round(avg(stringJaccardIndex(a, b)), 6) AS jac_avg,
       round(avg(byteHammingDistance(rightPad(a, 16, 'x'),
                                     rightPad(b, 16, 'x'))), 4)
         AS ham_avg,
       round(avg(ngramDistance(a, b)), 6) AS ng_avg
FROM (
  SELECT source AS src,
         substring(text, 1, 24) AS a,
         lead(substring(text, 1, 24))
           OVER (PARTITION BY source ORDER BY doc_id) AS b
  FROM fastnetmon.documents
)
WHERE b IS NOT NULL AND length(a) >= 4 AND length(b) >= 4
GROUP BY src
ORDER BY src
"""


@query(
    "ch_sql_string_similarity",
    """
    WITH pairs AS (
      SELECT source AS src,
             substring(text, 1, 24) AS a,
             lead(substring(text, 1, 24))
               OVER (PARTITION BY source ORDER BY doc_id) AS b
      FROM documents
    ),
    f AS (
      SELECT * FROM pairs
      WHERE b IS NOT NULL AND length(a) >= 4 AND length(b) >= 4
    ),
    g AS (
      SELECT src,
        levenshtein(a, b) AS ed,
        jaccard(a, b) AS jac,
        mismatches(rpad(a, 16, 'x'), rpad(b, 16, 'x')) AS ham,
        1.0 - 2.0 * len(list_intersect(
            list_distinct(list_transform(range(1, length(a)-2),
                                         i -> substring(a, i, 4))),
            list_distinct(list_transform(range(1, length(b)-2),
                                         i -> substring(b, i, 4)))))
          / (len(list_distinct(list_transform(range(1, length(a)-2),
                                              i -> substring(a, i, 4))))
             + len(list_distinct(list_transform(range(1, length(b)-2),
                                                i -> substring(b, i, 4)))))
          AS ng
      FROM f
    )
    SELECT src, count(*) AS n,
           round(avg(ed), 4) AS ed_avg,
           round(avg(jac), 6) AS jac_avg,
           round(avg(CAST(ham AS DOUBLE)), 4) AS ham_avg,
           round(avg(ng), 6) AS ng_avg
    FROM g GROUP BY src ORDER BY src
    """,
)
def ch_sql_string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _STRING_SIMILARITY_SQL, _tables(spark, sf_dir, "documents")
    )


# Calendar/epoch bridge family (round 6c): age()/timeDiff() complete-
# unit arithmetic, Modified-Julian-Day conversion, the epoch64
# millisecond bridges, the snowflake-ID round trip, and
# formatReadableTimeDelta — over synthetic millisecond timestamps
# derived from event ids (sidesteps the events.ts TIMESTAMP(NANOS)
# read quirk; the nanos path is covered by ch_sql_url_time_functions).
_CALENDAR_BRIDGES_SQL = """
SELECT event_type AS et,
       count(*) AS n,
       sum(age('day', t1, t2)) AS age_d,
       sum(age('hour', t1, t2)) AS age_h,
       sum(timeDiff(t1, t2)) AS td_s,
       min(toModifiedJulianDay(toDate(t1))) AS mjd_min,
       max(toUnixTimestamp64Milli(t2)) AS ms_max,
       sum(toInt64(snowflakeToDateTime(dateTimeToSnowflake(t1)) = t1))
         AS snow_ok,
       min(formatReadableTimeDelta(event_id % 200000)) AS frd_min
FROM (
  SELECT event_type, event_id,
    fromUnixTimestamp64Milli(1600000000000
      + (event_id % 100000) * 3600123) AS t1,
    fromUnixTimestamp64Milli(1600000000000
      + ((event_id * 7) % 90000) * 7200456) AS t2
  FROM fastnetmon.events
)
GROUP BY event_type
ORDER BY et
"""


@query(
    "ch_sql_calendar_bridges",
    """
    WITH base AS (
      SELECT event_type AS et, event_id,
        make_timestamp((1600000000000
          + (event_id % 100000) * 3600123) * 1000) AS t1,
        make_timestamp((1600000000000
          + ((event_id * 7) % 90000) * 7200456) * 1000) AS t2,
        event_id % 200000 AS v
      FROM events
    ),
    parts AS (
      SELECT et, t1, t2, v,
        trunc((epoch(t2) - epoch(t1)) / 86400.0) AS aged,
        trunc((epoch(t2) - epoch(t1)) / 3600.0) AS ageh,
        CAST(trunc(epoch(t2) - epoch(t1)) AS BIGINT) AS td,
        v // 86400 AS dd, (v % 86400) // 3600 AS hh,
        (v % 3600) // 60 AS mm, v % 60 AS ss
      FROM base
    ),
    frd AS (
      SELECT et, t1, t2, aged, ageh, td,
        CASE WHEN v = 0 THEN '0 seconds' ELSE
          array_to_string(list_filter([
            CASE WHEN dd > 0 THEN CAST(dd AS VARCHAR) || ' ' ||
              (CASE WHEN dd = 1 THEN 'day' ELSE 'days' END) END,
            CASE WHEN hh > 0 THEN CAST(hh AS VARCHAR) || ' ' ||
              (CASE WHEN hh = 1 THEN 'hour' ELSE 'hours' END) END,
            CASE WHEN mm > 0 THEN CAST(mm AS VARCHAR) || ' ' ||
              (CASE WHEN mm = 1 THEN 'minute' ELSE 'minutes' END) END,
            CASE WHEN ss > 0 THEN CAST(ss AS VARCHAR) || ' ' ||
              (CASE WHEN ss = 1 THEN 'second' ELSE 'seconds' END) END
          ], x -> x IS NOT NULL), ', ')
        END AS frd
      FROM parts
    )
    SELECT et, count(*) AS n,
           -- outer CASTs: DuckDB sum(BIGINT) -> HUGEINT -> float64
           CAST(sum(CAST(aged AS BIGINT)) AS BIGINT) AS age_d,
           CAST(sum(CAST(ageh AS BIGINT)) AS BIGINT) AS age_h,
           CAST(sum(td) AS BIGINT) AS td_s,
           min(datediff('day', DATE '1858-11-17', CAST(t1 AS DATE)))
             AS mjd_min,
           max(epoch_ms(t2)) AS ms_max,
           count(*) AS snow_ok,
           min(frd) AS frd_min
    FROM frd
    GROUP BY et
    ORDER BY et
    """,
)
def ch_sql_calendar_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(
        _CALENDAR_BRIDGES_SQL, _tables(spark, sf_dir, "events")
    )


# Jaro / Jaro-Winkler similarity (round 6c) over an inline VALUES
# table: Spark evaluates nested higher-order-function lambdas
# interpreted (~100 ms/row for the two-pass Jaro fold), so the family
# gets a SMALL dedicated oracle row instead of riding the documents-
# wide string-similarity sweep; DuckDB's jaro_similarity /
# jaro_winkler_similarity are exact behavioral oracles (transposition
# floor, 0.7 boost threshold, both-empty -> 0).
_JARO_SQL = """
SELECT a, b,
       round(jaroSimilarity(a, b), 6) AS jaro,
       round(jaroWinklerSimilarity(a, b), 6) AS jw,
       editDistance(a, b) AS ed
FROM (VALUES ('MARTHA', 'MARHTA'), ('DWAYNE', 'DUANE'),
             ('CRATE', 'TRACE'), ('DIXON', 'DICKSONX'),
             ('JELLYFISH', 'SMELLYFISH'), ('ab', 'ba'),
             ('', 'abc'), ('same', 'same'), ('a', 'a'),
             ('ABCDEF', 'ABQRST'), ('abcdefgh', 'abdcefgh'),
             ('cbdcceded', 'bdc')) AS v(a, b)
ORDER BY a, b
"""


@query(
    "ch_sql_jaro_similarity",
    """
    SELECT a, b,
           round(jaro_similarity(a, b), 6) AS jaro,
           round(jaro_winkler_similarity(a, b), 6) AS jw,
           levenshtein(a, b) AS ed
    FROM (VALUES ('MARTHA', 'MARHTA'), ('DWAYNE', 'DUANE'),
                 ('CRATE', 'TRACE'), ('DIXON', 'DICKSONX'),
                 ('JELLYFISH', 'SMELLYFISH'), ('ab', 'ba'),
                 ('', 'abc'), ('same', 'same'), ('a', 'a'),
                 ('ABCDEF', 'ABQRST'), ('abcdefgh', 'abdcefgh'),
                 ('cbdcceded', 'bdc')) AS v(a, b)
    ORDER BY a, b
    """,
)
def ch_sql_jaro_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_JARO_SQL, _tables(spark, sf_dir, "documents"))


# Round-6d aggregates end-to-end: groupConcat (digested order-
# insensitively — md5 of the re-sorted splits, since collected order
# is partition-dependent in BOTH engines), exact low/high quantile
# edges, DISTINCT-qualified names, date constructors, and the
# TO_DAYS-compatible day-number bridges. DuckDB oracle: string_agg +
# list_sort for the digest, the sorted-list element formula for the
# quantile edges, make_date/strftime/datediff for the calendar side.
_ROUND6D_SQL = """
SELECT st,
       MD5(arrayStringConcat(
         arraySort(splitByChar('|', groupConcat('|')(pri))), ','))
         AS concat_md5,
       round(quantileExactLow(0.25)(price), 2) AS q25_low,
       round(quantileExactHigh(0.75)(price), 2) AS q75_high,
       countDistinct(pri) AS nd,
       round(avgDistinct(ok % 5), 4) AS avg_d,
       toString(min(makeDate(1992 + ok % 30, 1 + ok % 12, 1 + ok % 28)))
         AS d_min,
       max(toYYYYMMDDhhmmss(makeDateTime(2020, 1 + ok % 12,
         1 + ok % 28, ok % 24, ok % 60, ok % 60))) AS ts_max,
       sum(toDaysSinceYearZero(d)) AS days_sum,
       sum(toInt64(fromDaysSinceYearZero(toDaysSinceYearZero(d)) = d))
         AS rt_ok,
       sum(toRelativeDayNum(d)) AS rel_sum
FROM (
  SELECT o_orderstatus AS st, o_orderpriority AS pri,
         o_totalprice AS price, o_orderkey AS ok, o_orderdate AS d
  FROM fastnetmon.orders
  WHERE o_orderkey % 3 = 0
)
GROUP BY st
ORDER BY st
"""


@query(
    "ch_sql_round6d_functions",
    """
    WITH base AS (
      SELECT o_orderstatus AS st, o_orderpriority AS pri,
             o_totalprice AS price, o_orderkey AS ok, o_orderdate AS d
      FROM orders
      WHERE o_orderkey % 3 = 0
    ),
    q AS (
      SELECT st,
             list_sort(list(price)) AS sp,
             count(*) AS n,
             md5(array_to_string(list_sort(string_split(
               string_agg(pri, '|'), '|')), ',')) AS concat_md5,
             count(DISTINCT pri) AS nd,
             sum(DISTINCT ok % 5) * 1.0
               / count(DISTINCT ok % 5) AS avg_d,
             min(make_date(CAST(1992 + ok % 30 AS INT),
                 CAST(1 + ok % 12 AS INT),
                 CAST(1 + ok % 28 AS INT))) AS d_min,
             max(CAST(strftime(make_timestamp(
                 CAST(2020 AS BIGINT), 1 + ok % 12, 1 + ok % 28,
                 ok % 24, ok % 60, CAST(ok % 60 AS DOUBLE)),
                 '%Y%m%d%H%M%S') AS BIGINT)) AS ts_max,
             sum(datediff('day', DATE '0001-01-01', d) + 366)
               AS days_sum,
             count(*) AS rt_ok,
             sum(datediff('day', DATE '1970-01-01', d)) AS rel_sum
      FROM base GROUP BY st
    )
    SELECT st,
           concat_md5,
           round(sp[CAST(floor(0.25 * (n - 1)) AS INT) + 1], 2)
             AS q25_low,
           round(sp[CAST(ceil(0.75 * (n - 1)) AS INT) + 1], 2)
             AS q75_high,
           nd,
           round(avg_d, 4) AS avg_d,
           -- VARCHAR: DuckDB DATE -> pandas datetime64 vs Spark's
           -- datetime.date object; render both sides as ISO text
           CAST(d_min AS VARCHAR) AS d_min,
           ts_max,
           -- CASTs: sum(BIGINT) -> HUGEINT -> float64 otherwise
           CAST(days_sum AS BIGINT) AS days_sum,
           rt_ok,
           CAST(rel_sum AS BIGINT) AS rel_sum
    FROM q
    ORDER BY st
    """,
)
def ch_sql_round6d_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND6D_SQL, _tables(spark, sf_dir, "orders"))


# Round-6e scalar tranche end-to-end: URL dissection completions over
# a synthesized URL (the oracle derives each field from the same
# construction rather than re-implementing the regexes — an
# independent spelling), JSON keys/paths, INTERVAL constructors +
# the timestamp* alias family, and the Lanczos/A&S special-function
# math pinned against DuckDB's lgamma/gamma at 4 decimals (erf has no
# DuckDB twin; it is pytest-pinned against Python math.erf instead).
_ROUND6E_SQL = """
WITH base AS (
  SELECT event_id AS id, ts, value AS v, props,
         concat('https://user', toString(user_id % 50),
                '.app.example.com:',
                toString(8000 + user_id % 100),
                '/', event_type,
                '?k=', toString(event_id % 7),
                '#s', toString(event_id % 3)) AS url
  FROM fastnetmon.events
  WHERE event_id % 11 = 0
)
SELECT id,
       netloc(url) AS nl,
       pathFull(url) AS pf,
       fragment(url) AS fr,
       port(url) AS prt,
       domainWithoutWWW(url) AS dom,
       firstSignificantSubdomain(url) AS fss,
       arrayStringConcat(JSONExtractKeys(props), ',') AS jk,
       JSON_VALUE(props, '$.k') AS jv,
       dateTrunc('second', ts + toIntervalDay(3)) AS d3,
       dateTrunc('second', ts + toIntervalMonth(1)) AS m1,
       timestampDiff('day', makeDate(2024, 1, 1), ts) AS td,
       round(lgamma(1 + v), 4) AS lg,
       round(tgamma(1 + id % 5), 4) AS tg
FROM base
ORDER BY id
LIMIT 300
"""


@query(
    "ch_sql_round6e_functions",
    """
    WITH base AS (
      SELECT event_id AS id, ts, value AS v, props,
             'user' || CAST(user_id % 50 AS VARCHAR) AS hu,
             8000 + user_id % 100 AS prt0,
             event_type AS et,
             event_id % 7 AS qk,
             event_id % 3 AS fs
      FROM events
      WHERE event_id % 11 = 0
    )
    SELECT id,
           hu || '.app.example.com:' || CAST(prt0 AS VARCHAR) AS nl,
           '/' || et || '?k=' || CAST(qk AS VARCHAR)
              || '#s' || CAST(fs AS VARCHAR) AS pf,
           's' || CAST(fs AS VARCHAR) AS fr,
           CAST(prt0 AS INT) AS prt,
           hu || '.app.example.com' AS dom,
           'example' AS fss,
           array_to_string(json_keys(props), ',') AS jk,
           json_extract_string(props, '$.k') AS jv,
           date_trunc('second', ts + INTERVAL 3 DAY) AS d3,
           date_trunc('second', ts + INTERVAL 1 MONTH) AS m1,
           datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS td,
           round(lgamma(1 + v), 4) AS lg,
           round(gamma(1 + id % 5), 4) AS tg
    FROM base
    ORDER BY id
    LIMIT 300
    """,
)
def ch_sql_round6e_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND6E_SQL, _tables(spark, sf_dir, "events"))


# Round-6f aggregate tranche end-to-end: Spearman rankCorr (oracle
# re-derives average-tie ranks with window functions — an independent
# spelling), the known-variance meanZTest z statistic + CI edge
# (oracle inlines the closed form with the literal z* quantile),
# the exponentialTimeDecayed family as its permutation-invariant
# closed form sum(v·e^((t-tmax)/x)), and corrMatrix against a
# hand-assembled DuckDB corr() list-of-lists.
_ROUND6F_SQL = """
SELECT event_type AS et, user_id % 20 AS ub,
       round(rankCorr(value, event_id % 97), 6) + 0.0 AS rc,
       round(tupleElement(
           meanZTest(2.0, 2.0, 0.95)(value, event_id % 2),
           'z_statistic'), 6) AS mz,
       round(tupleElement(
           meanZTest(2.0, 2.0, 0.95)(value, event_id % 2),
           'confidence_interval_low'), 6) AS cil,
       round(exponentialTimeDecayedSum(86400.0)(
           value, toUnixTimestamp(ts)), 4) AS ets,
       round(exponentialTimeDecayedAvg(86400.0)(
           value, toUnixTimestamp(ts)), 6) AS eta,
       arrayMap(r -> arrayMap(x -> round(x, 6), r),
                corrMatrix(value, event_id % 97, user_id)) AS cm
FROM fastnetmon.events
GROUP BY et, ub
ORDER BY et, ub
"""


@query(
    "ch_sql_round6f_aggregates",
    """
    WITH base AS (
      SELECT event_type AS et, user_id % 20 AS ub, value AS v,
             event_id % 97 AS w, user_id AS u,
             event_id % 2 AS si, floor(epoch(ts)) AS tt
      FROM events
    ), ranked AS (
      SELECT *,
        RANK() OVER (PARTITION BY et, ub ORDER BY v)
          + (COUNT(*) OVER (PARTITION BY et, ub, v) - 1) / 2.0 AS rv,
        RANK() OVER (PARTITION BY et, ub ORDER BY w)
          + (COUNT(*) OVER (PARTITION BY et, ub, w) - 1) / 2.0 AS rw,
        MAX(tt) OVER (PARTITION BY et, ub) AS mt
      FROM base
    )
    SELECT et, ub,
      round(corr(rv, rw), 6) + 0.0 AS rc,
      round((avg(CASE WHEN si = 0 THEN v END)
             - avg(CASE WHEN si <> 0 THEN v END))
            / sqrt(2.0 / count(CASE WHEN si = 0 THEN v END)
                   + 2.0 / count(CASE WHEN si <> 0 THEN v END)),
            6) AS mz,
      round((avg(CASE WHEN si = 0 THEN v END)
             - avg(CASE WHEN si <> 0 THEN v END))
            - 1.959963984540054
              * sqrt(2.0 / count(CASE WHEN si = 0 THEN v END)
                     + 2.0 / count(CASE WHEN si <> 0 THEN v END)),
            6) AS cil,
      round(sum(v * exp((tt - mt) / 86400.0)), 4) AS ets,
      round(sum(v * exp((tt - mt) / 86400.0))
            / sum(exp((tt - mt) / 86400.0)), 6) AS eta,
      -- per-cell coalesce: zero-variance corr is NULL in BOTH engines
      -- and must render as a 'null' cell, not null out the whole digest
      array_to_string([
        coalesce(printf('%.6f', round(corr(v, v), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(v, w), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(v, u), 6)), 'null'),
        coalesce(printf('%.6f', round(corr(w, v), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(w, w), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(w, u), 6)), 'null'),
        coalesce(printf('%.6f', round(corr(u, v), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(u, w), 6)), 'null') || ','
          || coalesce(printf('%.6f', round(corr(u, u), 6)), 'null')
      ], ';') AS cm
    FROM ranked
    GROUP BY et, ub
    ORDER BY et, ub
    """,
)
def ch_sql_round6f_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_ROUND6F_SQL, _tables(spark, sf_dir, "events"))
    return df.withColumn("cm", _arr2_digest("cm", "%.6f"))


# Round-6g network tranche end-to-end: IPv6 canonicalization
# round-trips over synthesized addresses (the oracle derives the
# canonical text / raw hex / cut form from the same construction —
# nonzero groups by construction keep the built text already
# canonical), IPv4-mapped bridging, validators, and MAC round-trips.
_ROUND6G_SQL = """
WITH base AS (
  SELECT event_id AS id,
         1 + user_id % 65535 AS xg, 1 + event_id % 65535 AS yg,
         user_id % 256 AS a, event_id % 256 AS b,
         (user_id + event_id) % 256 AS c, (user_id * 7) % 256 AS d,
         (event_id * 3) % 256 AS e, (user_id + 5) % 256 AS f
  FROM fastnetmon.events WHERE event_id % 13 = 0
), built AS (
  SELECT id, xg, yg, a, b, c,
     concat('2001:db8:', lower(hex(xg)), '::', lower(hex(yg))) AS v6,
     concat(toString(a), '.', toString(b), '.',
            toString(c), '.', toString(d)) AS ip4,
     upper(concat(leftPad(hex(a), 2, '0'), ':',
                  leftPad(hex(b), 2, '0'), ':',
                  leftPad(hex(c), 2, '0'), ':',
                  leftPad(hex(d), 2, '0'), ':',
                  leftPad(hex(e), 2, '0'), ':',
                  leftPad(hex(f), 2, '0'))) AS mac
  FROM base
)
SELECT id,
  IPv6NumToString(IPv6StringToNum(v6)) AS canon,
  lower(hex(IPv6StringToNum(v6))) AS raw,
  IPv6NumToString(IPv4ToIPv6(IPv4StringToNum(ip4))) AS mapped,
  isIPv4String(ip4) AS ok4,
  isIPv6String(v6) AS ok6,
  cutIPv6(IPv6StringToNum(v6), 10, 0) AS cut10,
  MACNumToString(MACStringToNum(mac)) AS mrt,
  MACStringToOUI(mac) AS oui
FROM built
ORDER BY id
"""


@query(
    "ch_sql_network_functions",
    """
    WITH base AS (
      SELECT event_id AS id,
             1 + user_id % 65535 AS xg, 1 + event_id % 65535 AS yg,
             user_id % 256 AS a, event_id % 256 AS b,
             (user_id + event_id) % 256 AS c,
             (user_id * 7) % 256 AS d,
             (event_id * 3) % 256 AS e, (user_id + 5) % 256 AS f
      FROM events WHERE event_id % 13 = 0
    )
    SELECT id,
      '2001:db8:' || lower(to_hex(xg)) || '::'
         || lower(to_hex(yg)) AS canon,
      '20010db8' || lpad(lower(to_hex(xg)), 4, '0')
         || '0000000000000000'
         || lpad(lower(to_hex(yg)), 4, '0') AS raw,
      '::ffff:' || a || '.' || b || '.' || c || '.' || d AS mapped,
      true AS ok4,
      true AS ok6,
      '2001:db8:' || lower(to_hex(xg)) || '::' AS cut10,
      upper(lpad(lower(to_hex(a)), 2, '0') || ':'
            || lpad(lower(to_hex(b)), 2, '0') || ':'
            || lpad(lower(to_hex(c)), 2, '0') || ':'
            || lpad(lower(to_hex(d)), 2, '0') || ':'
            || lpad(lower(to_hex(e)), 2, '0') || ':'
            || lpad(lower(to_hex(f)), 2, '0')) AS mrt,
      a * 65536 + b * 256 + c AS oui
    FROM base
    ORDER BY id
    """,
)
def ch_sql_network_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND6G_SQL, _tables(spark, sf_dir, "events"))
# Round-6h tranche end-to-end: weighted exact quantiles (the oracle
# replays CH's cumulative-weight threshold rule with window
# functions), the ANOVA F statistic as its closed form over group
# sums, groupArrayIntersect via the present-in-every-row spelling,
# hasSubsequence as a LIKE '%c%e%' chain, extractAllGroupsHorizontal
# against DuckDB's grouped regexp_extract_all, and the five-minute
# grid against time_bucket.
_ROUND6H_SQL = """
SELECT event_type AS et,
  round(quantileExactWeighted(0.5)(value, 1 + event_id % 7), 6) AS qw,
  arrayMap(x -> round(x, 6),
           quantilesExactWeighted(0.25, 0.9)(value,
                                             1 + event_id % 7)) AS qws,
  round(tupleElement(analysisOfVariance(value, user_id % 4),
                     'f_statistic'), 6) AS af,
  groupArrayIntersect([event_id % 3, user_id % 3, 7]) AS gi,
  countIf(hasSubsequence(event_type, 'ce')) AS hs,
  min(toStartOfFiveMinutes(ts)) AS t5,
  any(extractAllGroupsHorizontal('a=1, b=2', '(\\\\w)=(\\\\d)')) AS gh
FROM fastnetmon.events
GROUP BY et
ORDER BY et
"""


@query(
    "ch_sql_round6h_aggregates",
    """
    WITH base AS (
      SELECT event_type AS et, value AS v,
             1 + event_id % 7 AS w, user_id % 4 AS g,
             event_id % 3 AS k1, user_id % 3 AS k2, ts,
             event_type LIKE '%c%e%' AS hs_row,
             row_number() OVER () AS rid
      FROM events
    ), cum AS (
      SELECT *, sum(w) OVER (PARTITION BY et ORDER BY v, rid) AS cw,
             sum(w) OVER (PARTITION BY et) AS tw
      FROM base
    ), qs AS (
      SELECT et,
        round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 6) AS qw,
        round(min(CASE WHEN cw >= 0.25 * tw THEN v END), 6) AS q25,
        round(min(CASE WHEN cw >= 0.9 * tw THEN v END), 6) AS q90
      FROM cum GROUP BY et
    ), gstats AS (
      SELECT et, g, count(*) AS ng, sum(v) AS sg
      FROM base GROUP BY et, g
    ), tstats AS (
      SELECT et, sum(sg * sg / ng) AS t,
             count(*)::DOUBLE AS k
      FROM gstats GROUP BY et
    ), tot AS (
      SELECT et, count(*)::DOUBLE AS n, sum(v) AS s,
             sum(v * v) AS q
      FROM base GROUP BY et
    ), anova AS (
      SELECT t.et,
        round(((t.t - tot.s * tot.s / tot.n) / (t.k - 1))
              / ((tot.q - t.t) / (tot.n - t.k)), 6) AS af
      FROM tstats t JOIN tot USING (et)
    ), rowsets AS (
      SELECT et, rid, u.u AS elem
      FROM base, unnest(list_distinct([k1, k2, 7])) AS u(u)
    ), counts AS (
      SELECT et, count(*) AS nrows FROM base GROUP BY et
    ), inter AS (
      SELECT r.et, list_sort(list(r.elem)) AS gi
      FROM (SELECT et, elem, count(*) AS c
            FROM rowsets GROUP BY et, elem) r
      JOIN counts USING (et)
      WHERE r.c = counts.nrows
      GROUP BY r.et
    )
    SELECT b.et, qs.qw,
      printf('%.6f,%.6f', qs.q25, qs.q90) AS qws, anova.af,
      array_to_string(inter.gi, ',') AS gi,
      (count(*) FILTER (WHERE b.hs_row))::BIGINT AS hs,
      min(time_bucket(INTERVAL 5 MINUTE, b.ts)) AS t5,
      array_to_string(regexp_extract_all('a=1, b=2', '(\\w)=(\\d)', 1), ',')
        || ';'
        || array_to_string(regexp_extract_all('a=1, b=2', '(\\w)=(\\d)', 2),
                           ',') AS gh
    FROM base b
    JOIN qs USING (et)
    JOIN anova ON anova.et = b.et
    JOIN inter ON inter.et = b.et
    GROUP BY b.et, qs.qw, qs.q25, qs.q90, anova.af, inter.gi
    ORDER BY b.et
    """,
)
def ch_sql_round6h_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_ROUND6H_SQL, _tables(spark, sf_dir, "events"))
    return df.select(
        "et",
        "qw",
        _arr_digest("qws", "%.6f").alias("qws"),
        "af",
        _arr_digest("gi").alias("gi"),
        "hs",
        "t5",
        _arr2_digest("gh").alias("gh"),
    )


# Round-6i scalar tranche end-to-end: positiveModulo vs the
# ((a % b) + b) % b spelling, widthBucket vs its floor closed form,
# bitHammingDistance vs bit_count(xor), constructed-identity array
# similarity/Levenshtein cases, and the proportions z statistic as
# its closed form.
_ROUND6I_SQL = """
SELECT event_id AS id,
  positiveModulo(toInt64(user_id) - 500, 7) AS pm,
  widthBucket(value, 0, 500, 10) AS wb,
  bitHammingDistance(event_id, user_id) AS bh,
  round(arrayJaccardIndex([event_id % 5, 9], [user_id % 5, 9]),
        6) AS aj,
  arrayLevenshteinDistance([event_id % 3, 1, user_id % 3],
                           [user_id % 3, 1, event_id % 3]) AS al,
  round(tupleElement(
      proportionsZTest(toFloat64(1 + event_id % 50), 25.0,
                       100.0, 100.0, 0.95, 'unpooled'),
      'z_statistic'), 6) AS pz
FROM fastnetmon.events
WHERE event_id % 17 = 0
ORDER BY id
"""


@query(
    "ch_sql_round6i_functions",
    """
    WITH base AS (
      SELECT event_id AS id, user_id AS u, value AS v,
             (1 + event_id % 50) / 100.0 AS p1
      FROM events WHERE event_id % 17 = 0
    )
    SELECT id,
      ((u - 500) % 7 + 7) % 7 AS pm,
      CASE WHEN v < 0 THEN 0 WHEN v >= 500 THEN 11
           ELSE floor(v / 500 * 10)::BIGINT + 1 END AS wb,
      bit_count(xor(id, u)) AS bh,
      round(CASE WHEN id % 5 = u % 5 THEN 1.0 ELSE 1.0 / 3 END,
            6) AS aj,
      CASE WHEN id % 3 = u % 3 THEN 0 ELSE 2 END AS al,
      round((p1 - 0.25)
            / sqrt(p1 * (1 - p1) / 100.0 + 0.25 * 0.75 / 100.0),
            6) AS pz
    FROM base
    ORDER BY id
    """,
)
def ch_sql_round6i_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND6I_SQL, _tables(spark, sf_dir, "events"))
# sequenceNextNode end-to-end: the oracle re-derives the "what
# happened next" answers with window functions — forward/first_match
# (lead(1) of the first matching event), forward/head with a
# two-step chain (rows 1-2 must match; row 3 answers), and
# backward/last_match (in backward scan order the LAST match is the
# EARLIEST event in time; the answer is the event immediately before
# it, i.e. lag(1)).
_SEQ_NEXT_SQL = """
SELECT user_id AS u,
  sequenceNextNode('forward', 'first_match')(
      ts, event_type, event_type = 'click',
      event_type = 'click') AS after_click,
  sequenceNextNode('forward', 'head')(
      ts, event_type, event_type = 'view',
      event_type = 'view', event_type = 'click') AS after_vc,
  sequenceNextNode('backward', 'last_match')(
      ts, event_type, event_type = 'purchase',
      event_type = 'purchase') AS before_purchase
FROM fastnetmon.events
WHERE user_id % 7 = 0
GROUP BY u
ORDER BY u
"""


@query(
    "ch_sql_sequence_next_node",
    """
    WITH base AS (
      SELECT user_id AS u, event_type AS et,
             row_number() OVER w AS rn,
             lead(event_type) OVER w AS nxt,
             lag(event_type) OVER w AS prv
      FROM events WHERE user_id % 7 = 0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)
    ), fm AS (
      SELECT b.u, any_value(b.nxt) AS after_click
      FROM base b
      JOIN (SELECT u, min(rn) AS rn FROM base
            WHERE et = 'click' GROUP BY u) m
        ON b.u = m.u AND b.rn = m.rn
      GROUP BY b.u
    ), hd AS (
      SELECT u,
        CASE WHEN any_value(CASE WHEN rn = 1 THEN et END) = 'view'
              AND any_value(CASE WHEN rn = 2 THEN et END) = 'click'
             THEN any_value(CASE WHEN rn = 3 THEN et END) END
          AS after_vc
      FROM base GROUP BY u
    ), lm AS (
      SELECT b.u, any_value(b.prv) AS before_purchase
      FROM base b
      JOIN (SELECT u, min(rn) AS rn FROM base
            WHERE et = 'purchase' GROUP BY u) m
        ON b.u = m.u AND b.rn = m.rn
      GROUP BY b.u
    )
    SELECT us.u, fm.after_click, hd.after_vc, lm.before_purchase
    FROM (SELECT DISTINCT u FROM base) us
    LEFT JOIN fm ON fm.u = us.u
    LEFT JOIN hd ON hd.u = us.u
    LEFT JOIN lm ON lm.u = us.u
    ORDER BY us.u
    """,
)
def ch_sql_sequence_next_node(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_SEQ_NEXT_SQL, _tables(spark, sf_dir, "events"))


# CH sampling-key hashes end-to-end (round 7): intHash64 / intHash32
# are SAMPLE BY keys and therefore byte-compatible with CH's spec
# (fmix64 of x^seed; Wang 64->32 with CH's salt). The Spark side runs
# them as the one Arrow hash kernel (functions/hash_np.py, numpy
# uint64 arithmetic). The oracle replays the same math in DuckDB
# HUGEINT through staged CTE columns. URLHash moved to its own value-exact
# query (ch_sql_cityhash64) when it was retargeted onto genuine
# CityHash64 — a per-row CityHash over all 100k bench rows does not
# belong in the sampling-key microbenchmark.
_SAMPLING_HASH_SQL = """
SELECT et,
       count(*) AS n,
       min(h64) AS h64_min,
       max(h64) AS h64_max,
       uniqExact(h64) AS h64_uniq,
       sum(h32u) AS h32_sum,
       max(h32e) AS h32e_max
FROM (
  SELECT event_type AS et,
         intHash64(user_id) AS h64,
         intHash32(user_id) AS h32u,
         intHash32(event_id) AS h32e
  FROM fastnetmon.events
)
GROUP BY et
ORDER BY et
"""


def _sampling_hash_oracle() -> str:
    h64 = str(2**64)
    h63 = str(2**63)
    h32 = str(2**32)
    # constants DERIVED from the hex spec here (a hand-transcribed
    # decimal cost one round-trip of debugging)
    seed64 = 0x4CF2D2BAAE6DA887
    salt32 = 0x75D9543DE018BF45
    m1l, m1h = 0xFF51AFD7ED558CCD & 0xFFFFFFFF, 0xFF51AFD7ED558CCD >> 32
    m2l, m2h = 0xC4CEB9FE1A85EC53 & 0xFFFFFFFF, 0xC4CEB9FE1A85EC53 >> 32

    def ih64(src: str, p: str) -> list[str]:
        # fmix64(x ^ seed); constants split into 32-bit halves exactly
        # like the Spark decimal decomposition
        return [
            f"xor({src}, CAST({seed64} AS HUGEINT)) AS {p}1",
            f"xor({p}1, {p}1 // 8589934592) AS {p}2",
            f"(({p}2 * {m1l})"
            f" + (({p}2 * {m1h}) % {h32}) * {h32}) % {h64} AS {p}3",
            f"xor({p}3, {p}3 // 8589934592) AS {p}4",
            f"(({p}4 * {m2l})"
            f" + (({p}4 * {m2h}) % {h32}) * {h32}) % {h64} AS {p}5",
            f"xor({p}5, {p}5 // 8589934592) AS {p}6",
        ]

    def ih32(src: str, p: str) -> list[str]:
        # Wang 64->32 over x ^ salt; (k>>31)|(k<<33) is a
        # disjoint-bit OR, spelled as + ; small multiplies fit
        # HUGEINT directly
        return [
            f"xor({src}, CAST({salt32} AS HUGEINT)) AS {p}0",
            f"(({h64} - 1 - {p}0) + ({p}0 * 262144) % {h64}) % {h64}"
            f" AS {p}1",
            f"xor({p}1, ({p}1 // 2147483648)"
            f" + ({p}1 * 8589934592) % {h64}) AS {p}2",
            f"({p}2 * 21) % {h64} AS {p}3",
            f"xor({p}3, {p}3 // 2048) AS {p}4",
            f"({p}4 + ({p}4 * 64) % {h64}) % {h64} AS {p}5",
            f"xor({p}5, {p}5 // 4194304) AS {p}6",
            f"{p}6 % {h32} AS {p}7",
        ]

    # ih64 has 6 steps, ih32 has 8 — pad the shorter chain
    a_steps = ih64("xu", "a") + [None, None]
    c_steps = ih32("xu", "c")
    d_steps = ih32("eu", "d")
    ctes = []
    prev = "b0"
    for i in range(8):
        cols = [s for s in (a_steps[i], c_steps[i], d_steps[i]) if s]
        ctes.append(
            f"s{i} AS (SELECT *, {', '.join(cols)} FROM {prev})"
        )
        prev = f"s{i}"
    cte_sql = ",\n    ".join(ctes)
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             CAST(user_id AS HUGEINT) AS xu,
             CAST(event_id AS HUGEINT) AS eu
      FROM events
    ),
    {cte_sql},
    fin AS (
      SELECT et, a6, c7, d7,
             CASE WHEN a6 >= {h63} THEN a6 - {h64} ELSE a6 END AS a6s
      FROM {prev}
    )
    SELECT et,
           count(*) AS n,
           CAST(min(a6s) AS BIGINT) AS h64_min,
           CAST(max(a6s) AS BIGINT) AS h64_max,
           count(DISTINCT a6) AS h64_uniq,
           CAST(sum(c7) AS BIGINT) AS h32_sum,
           CAST(max(d7) AS BIGINT) AS h32e_max
    FROM fin
    GROUP BY et
    ORDER BY et
    """


@query("ch_sql_sampling_hashes", _sampling_hash_oracle())
def ch_sql_sampling_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_SAMPLING_HASH_SQL, _tables(spark, sf_dir, "events"))


# Byte-exact cityHash64 / URLHash end-to-end (round 8): the string
# hash CH uses for SAMPLE BY keys, URL bucketing and wire checksums
# (reference spec: clickhouse-go/lib/cityhash102/cityhash.go:122-248;
# engine rendering: functions/cityhash.py). Each probe row explodes
# into TWO hashed strings through ONE URLHash call site — a
# variable-length probe sweeping EVERY length class of the algorithm
# (empty, 1-3, 4-8, 9-16, 17-32, 33-64, and the >64 chunk loop at 1,
# 2 and 3 iterations; probes never end in /?#, so URLHash == plain
# cityHash64 on them) and a URL exercising the trailing-separator
# trim. The query keeps a single URLHash call site, which hashes
# every row through the CityHash model in the Arrow hash kernel. The
# oracle replays the full algorithm in
# DuckDB HUGEINT: CityEmitter emits one straight-line chain per
# length class (546 staged CTE columns) and CASE-selects per row, so
# the driver compare is value-exact against an independent rendering,
# not stored constants. Row subset (event_id % 10) keeps the
# interpreted per-row projection a microbenchmark: the correctness
# signal is in the length-class coverage, not the row count.
_CITY_PAD = "=+~" * 70  # deterministic ASCII filler, > 196 chars

_CITYHASH_SQL = f"""
SELECT et,
       countIf(kind = 'p') AS n_probe,
       countIf(kind = 'u') AS n_url,
       minIf(h, kind = 'p') AS ch_min,
       maxIf(h, kind = 'p') AS ch_max,
       uniqExactIf(h, kind = 'p') AS ch_uniq,
       minIf(h, kind = 'u') AS uh_min,
       maxIf(h, kind = 'u') AS uh_max,
       uniqExactIf(h, kind = 'u') AS uh_uniq
FROM (
  SELECT et,
         substring(tagged, 1, 1) AS kind,
         URLHash(substring(tagged, 3, 500)) AS h
  FROM (
    SELECT event_type AS et,
           arrayJoin(array(
             concat('p|', substring(
               concat(event_type, toString(user_id), '{_CITY_PAD}'),
               1, toInt32(event_id % 197))),
             concat('u|', 'https://ex.com/p', toString(user_id % 50),
               multiIf(event_id % 3 = 0, '/', event_id % 3 = 1, '#',
                       '')))) AS tagged
    FROM fastnetmon.events
    WHERE event_id % 10 = 0
  )
)
GROUP BY et
ORDER BY et
"""


def _cityhash_oracle() -> str:
    from ..functions.cityhash import CityEmitter, staged_ctes

    em = CityEmitter("z")
    h = em.full_dispatch("e", "ne", 197)
    hs = em.signed(h)
    ctes, last = staged_ctes(em, "b1")
    return f"""
    WITH b0 AS (
      SELECT event_type AS et, 'p' AS kind,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_CITY_PAD}',
                    1, CAST(event_id % 197 AS INTEGER)) AS s
      FROM events WHERE event_id % 10 = 0
      UNION ALL
      SELECT event_type AS et, 'u' AS kind,
             'https://ex.com/p' || CAST(user_id % 50 AS VARCHAR)
               || (CASE WHEN event_id % 3 = 0 THEN '/'
                        WHEN event_id % 3 = 1 THEN '#' ELSE '' END) AS s
      FROM events WHERE event_id % 10 = 0
    ),
    b1 AS (
      SELECT et, kind,
             regexp_replace(s, '[/?#]$', '') AS e,
             length(regexp_replace(s, '[/?#]$', '')) AS ne
      FROM b0
    ),
    {ctes}
    SELECT et,
           count(*) FILTER (kind = 'p') AS n_probe,
           count(*) FILTER (kind = 'u') AS n_url,
           min({hs}) FILTER (kind = 'p') AS ch_min,
           max({hs}) FILTER (kind = 'p') AS ch_max,
           count(DISTINCT {h}) FILTER (kind = 'p') AS ch_uniq,
           min({hs}) FILTER (kind = 'u') AS uh_min,
           max({hs}) FILTER (kind = 'u') AS uh_max,
           count(DISTINCT {h}) FILTER (kind = 'u') AS uh_uniq
    FROM {last} GROUP BY et ORDER BY et
    """


# Canonical SipHash-2-4 (zero key) end-to-end (round 8): the probe
# sweeps lengths 0..23 — every tail remainder (0..7), the word-free
# short path, and the 1- and 2-word chains (multi-word state carry).
# The oracle replays the full ARX network in DuckDB HUGEINT
# (SipEmitter, word count CASE-dispatched; 383 staged CTE columns —
# DuckDB's 1000-deep binder limit caps the probe at 2 words, longer
# inputs are pinned against the Python model in tests/test_siphash).
_SIP_PAD = "=+~=+~=+~=+~=+~=+~=+~=+~"  # 24 chars ASCII filler

_SIPHASH_SQL = f"""
SELECT et,
       count(*) AS n,
       min(sh) AS sh_min,
       max(sh) AS sh_max,
       uniqExact(sh) AS sh_uniq
FROM (
  SELECT event_type AS et,
         sipHash64(substring(
             concat(event_type, toString(user_id), '{_SIP_PAD}'),
             1, toInt32(event_id % 24))) AS sh
  FROM fastnetmon.events
  WHERE event_id % 10 = 3
)
GROUP BY et
ORDER BY et
"""


def _siphash_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.siphash import SipEmitter

    em = SipEmitter("y")
    h = em.dispatch("e", "ne", 23)
    hs = em.signed(h)
    ctes, last = staged_ctes(em, "b1")
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_SIP_PAD}',
                    1, CAST(event_id % 24 AS INTEGER)) AS e
      FROM events WHERE event_id % 10 = 3
    ),
    b1 AS (SELECT *, length(e) AS ne FROM b0),
    {ctes}
    SELECT et, count(*) AS n,
           min({hs}) AS sh_min, max({hs}) AS sh_max,
           count(DISTINCT {h}) AS sh_uniq
    FROM {last} GROUP BY et ORDER BY et
    """


# Canonical MurmurHash64A + MurmurHash3 x86_32 end-to-end (round 8):
# probe lengths 0..31 cover the word-free path, 1-3 full words and
# every tail remainder of both block sizes (8 and 4). Oracle replays
# both ARX-free multiply-mix networks in DuckDB HUGEINT
# (MurmurEmitter, word-count CASE dispatch).
_MURMUR_PAD = "=+~" * 11  # 33 chars ASCII filler

_MURMUR_SQL = f"""
SELECT et,
       count(*) AS n,
       min(m2) AS m2_min,
       max(m2) AS m2_max,
       uniqExact(m2) AS m2_uniq,
       min(m3) AS m3_min,
       max(m3) AS m3_max,
       uniqExact(m3) AS m3_uniq
FROM (
  SELECT event_type AS et,
         murmurHash2_64(substring(
             concat(event_type, toString(user_id), '{_MURMUR_PAD}'),
             1, toInt32(event_id % 32))) AS m2,
         murmurHash3_32(substring(
             concat(toString(user_id), event_type, '{_MURMUR_PAD}'),
             1, toInt32(event_id % 32))) AS m3
  FROM fastnetmon.events
  WHERE event_id % 10 = 7
)
GROUP BY et
ORDER BY et
"""


def _murmur_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.murmur import MurmurEmitter

    em = MurmurEmitter("w")
    m2 = em.m2_dispatch("e2", "n2", 31)
    m2s = em.signed64(m2)
    m3 = em.m3_dispatch("e3", "n3", 31)
    ctes, last = staged_ctes(em, "b1")
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_MURMUR_PAD}',
                    1, CAST(event_id % 32 AS INTEGER)) AS e2,
             substr(CAST(user_id AS VARCHAR) || event_type
                      || '{_MURMUR_PAD}',
                    1, CAST(event_id % 32 AS INTEGER)) AS e3
      FROM events WHERE event_id % 10 = 7
    ),
    b1 AS (SELECT *, length(e2) AS n2, length(e3) AS n3 FROM b0),
    {ctes}
    SELECT et, count(*) AS n,
           min({m2s}) AS m2_min, max({m2s}) AS m2_max,
           count(DISTINCT {m2}) AS m2_uniq,
           CAST(min({m3}) AS BIGINT) AS m3_min,
           CAST(max({m3}) AS BIGINT) AS m3_max,
           count(DISTINCT {m3}) AS m3_uniq
    FROM {last} GROUP BY et ORDER BY et
    """


# Canonical XXH64 + XXH32 (seed 0, raw bytes) end-to-end (round 8):
# probe lengths 0..79 cover the accumulator-free short path, 1-2
# 32-byte stripes (XXH64) / up to 4 16-byte stripes (XXH32), all
# trailing 8/4/1-byte chunk counts, and the stripe->tail handoff.
# The oracle replays both lane pipelines in DuckDB HUGEINT
# (XxEmitter, stripe count CASE-dispatched).
_XX_PAD = "=+~" * 27  # 81 chars ASCII filler

_XXHASH_SQL = f"""
SELECT et,
       count(*) AS n,
       min(x64) AS x64_min,
       max(x64) AS x64_max,
       uniqExact(x64) AS x64_uniq,
       min(x32) AS x32_min,
       max(x32) AS x32_max,
       uniqExact(x32) AS x32_uniq
FROM (
  SELECT event_type AS et,
         xxHash64(substring(
             concat(event_type, toString(user_id), '{_XX_PAD}'),
             1, toInt32(event_id % 80))) AS x64,
         xxHash32(substring(
             concat(toString(user_id), event_type, '{_XX_PAD}'),
             1, toInt32(event_id % 80))) AS x32
  FROM fastnetmon.events
  WHERE event_id % 10 = 5
)
GROUP BY et
ORDER BY et
"""


def _xxhash_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.xxhash import XxEmitter

    em = XxEmitter("x")
    x64 = em.xxh64_dispatch("e4", "n4", 79)
    x64s = em.signed64(x64)
    x32 = em.xxh32_dispatch("e3", "n3", 79)
    ctes, last = staged_ctes(em, "b1")
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_XX_PAD}',
                    1, CAST(event_id % 80 AS INTEGER)) AS e4,
             substr(CAST(user_id AS VARCHAR) || event_type
                      || '{_XX_PAD}',
                    1, CAST(event_id % 80 AS INTEGER)) AS e3
      FROM events WHERE event_id % 10 = 5
    ),
    b1 AS (SELECT *, length(e4) AS n4, length(e3) AS n3 FROM b0),
    {ctes}
    SELECT et, count(*) AS n,
           min({x64s}) AS x64_min, max({x64s}) AS x64_max,
           count(DISTINCT {x64}) AS x64_uniq,
           CAST(min({x32}) AS BIGINT) AS x32_min,
           CAST(max({x32}) AS BIGINT) AS x32_max,
           count(DISTINCT {x32}) AS x32_uniq
    FROM {last} GROUP BY et ORDER BY et
    """


@query("ch_sql_xxhash", _xxhash_oracle())
def ch_sql_xxhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_XXHASH_SQL, tabs)


@query("ch_sql_murmur_hashes", _murmur_oracle())
def ch_sql_murmur_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_MURMUR_SQL, tabs)


@query("ch_sql_siphash64", _siphash_oracle())
def ch_sql_siphash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_SIPHASH_SQL, tabs)


@query("ch_sql_cityhash64", _cityhash_oracle())
def ch_sql_cityhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_CITYHASH_SQL, tabs)


# Numeric hash-argument parity end-to-end (rounds 9-10): CH hashes a
# numeric argument through IntHash64Impl when the function's Impl
# sets use_int_hash_for_pods (cityHash64 — FunctionsHashing.h
# executeIntType), and over the native little-endian layout for the
# rest of the byte-exact family (sip/xx/murmur); the engine resolves
# each argument through the compiler's HashArg marker + dtype env.
# Since round 10 COMPUTED numeric expressions type through the env's
# zero-row probe frame, so cityHash64(user_id + event_id) and
# xxHash64(user_id * 3 + 7) hash Int64 layouts like CH — both probed
# here. The oracle replays each algorithm in DuckDB HUGEINT through
# the u64-mode emitters (functions/hash_numeric.py — byte k of the
# stream is arithmetic on the value, the length class is statically
# 8; cityHash64-on-numeric replays as the IntHash64Emitter fmix
# chain). Each side renders the algorithms independently of the
# Spark kernels, so the driver compare is value-exact, not stored
# constants.
_NUMHASH_SQL = """
SELECT et,
       count(*) AS n,
       min(ch) AS ch_min, max(ch) AS ch_max, uniqExact(ch) AS ch_uniq,
       min(chx) AS chx_min, max(chx) AS chx_max,
       min(sh) AS sh_min, max(sh) AS sh_max,
       min(x64) AS x64_min, max(x64) AS x64_max,
       min(x64x) AS x64x_min, max(x64x) AS x64x_max,
       min(m2) AS m2_min, max(m2) AS m2_max,
       min(x32) AS x32_min, max(x32) AS x32_max,
       min(m3) AS m3_min, max(m3) AS m3_max
FROM (
  SELECT event_type AS et,
         cityHash64(user_id) AS ch,
         cityHash64(user_id + event_id) AS chx,
         sipHash64(user_id) AS sh,
         xxHash64(user_id) AS x64,
         xxHash64(user_id * 3 + 7) AS x64x,
         murmurHash2_64(event_id) AS m2,
         xxHash32(event_id) AS x32,
         murmurHash3_32(user_id) AS m3
  FROM fastnetmon.events
  WHERE event_id % 10 = 9
)
GROUP BY et
ORDER BY et
"""


def _numeric_hash_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.hash_numeric import (
        IntHash64Emitter,
        MurmurU64Emitter,
        SipU64Emitter,
        XxU64Emitter,
    )

    p64 = 1 << 64
    city = IntHash64Emitter("zc")
    ch = city.signed(city.int_hash64("u"))
    chx = city.signed(city.int_hash64("ux"))
    c1, l1 = staged_ctes(city, "b2")
    sip = SipU64Emitter("zs")
    sh = sip.signed(sip.chain("u", "8", 1))
    c2, l2 = staged_ctes(sip, l1)
    xx = XxU64Emitter("zx")
    x64 = xx.signed64(xx.xxh64_chain("u", "8", 0))
    x64x = xx.signed64(xx.xxh64_chain("uy", "8", 0))
    c3, l3 = staged_ctes(xx, l2)
    xx32 = XxU64Emitter("zy")
    x32 = xx32.xxh32_chain("ev", "8", 0)
    c4, l4 = staged_ctes(xx32, l3)
    m2e = MurmurU64Emitter("zm")
    m2 = m2e.signed64(m2e.m2_chain("ev", "8", 1))
    c5, l5 = staged_ctes(m2e, l4)
    m3e = MurmurU64Emitter("zn")
    m3 = m3e.m3_chain("u", "8", 2)
    c6, l6 = staged_ctes(m3e, l5)
    return f"""
    WITH b1 AS (
      SELECT event_type AS et,
             (CAST(user_id AS HUGEINT) % {p64} + {p64}) % {p64} AS u,
             (CAST(event_id AS HUGEINT) % {p64} + {p64}) % {p64} AS ev
      FROM events WHERE event_id % 10 = 9
    ),
    b2 AS (
      SELECT *, (u + ev) % {p64} AS ux, (u * 3 + 7) % {p64} AS uy
      FROM b1
    ),
    {c1},
    {c2},
    {c3},
    {c4},
    {c5},
    {c6}
    SELECT et, count(*) AS n,
           min({ch}) AS ch_min, max({ch}) AS ch_max,
           count(DISTINCT {ch}) AS ch_uniq,
           min({chx}) AS chx_min, max({chx}) AS chx_max,
           min({sh}) AS sh_min, max({sh}) AS sh_max,
           min({x64}) AS x64_min, max({x64}) AS x64_max,
           min({x64x}) AS x64x_min, max({x64x}) AS x64x_max,
           min({m2}) AS m2_min, max({m2}) AS m2_max,
           CAST(min({x32}) AS BIGINT) AS x32_min,
           CAST(max({x32}) AS BIGINT) AS x32_max,
           CAST(min({m3}) AS BIGINT) AS m3_min,
           CAST(max({m3}) AS BIGINT) AS m3_max
    FROM {l6} GROUP BY et ORDER BY et
    """


@query("ch_sql_numeric_hashes", _numeric_hash_oracle())
def ch_sql_numeric_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_NUMHASH_SQL, tabs)


# Canonical MurmurHash3 x64_128 + gccMurmurHash end-to-end (round 9):
# probe lengths 0..47 sweep the block-free path, 1-2 16-byte blocks,
# and every 15-remainder tail class of x64_128 (including the
# k2-free <=8 tails and the k2 tail start at 9); gcc rides the
# MurmurHash64A machinery at the libstdc++ seed over lengths 0..31.
# Oracles replay both in DuckDB HUGEINT (Murmur128Emitter /
# MurmurEmitter, block count CASE-dispatched). murmurHash3_128's hex
# rendering shares the same two 64-bit halves and is pinned in
# tests/test_murmur3_128.py.
_M3_PAD = "=+~" * 16  # 48 chars ASCII filler

_MURMUR3_SQL = f"""
SELECT et,
       count(*) AS n,
       min(m3) AS m3_min,
       max(m3) AS m3_max,
       uniqExact(m3) AS m3_uniq,
       min(mg) AS mg_min,
       max(mg) AS mg_max,
       uniqExact(mg) AS mg_uniq
FROM (
  SELECT event_type AS et,
         murmurHash3_64(substring(
             concat(event_type, toString(user_id), '{_M3_PAD}'),
             1, toInt32(event_id % 48))) AS m3,
         gccMurmurHash(substring(
             concat(toString(user_id), event_type, '{_M3_PAD}'),
             1, toInt32(event_id % 32))) AS mg
  FROM fastnetmon.events
  WHERE event_id % 10 = 2
)
GROUP BY et
ORDER BY et
"""


def _murmur3_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.murmur import GCC_SEED, MurmurEmitter
    from ..functions.murmur3_128 import Murmur128Emitter

    em = Murmur128Emitter("v")
    m3 = em.dispatch64("e3", "n3", 47)
    m3s = em.signed64(m3)
    c1, l1 = staged_ctes(em, "b1")
    gm = MurmurEmitter("vg")
    mg = gm.m2_dispatch("eg", "ng", 31, GCC_SEED)
    mgs = gm.signed64(mg)
    c2, l2 = staged_ctes(gm, l1)
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_M3_PAD}',
                    1, CAST(event_id % 48 AS INTEGER)) AS e3,
             substr(CAST(user_id AS VARCHAR) || event_type
                      || '{_M3_PAD}',
                    1, CAST(event_id % 32 AS INTEGER)) AS eg
      FROM events WHERE event_id % 10 = 2
    ),
    b1 AS (SELECT *, length(e3) AS n3, length(eg) AS ng FROM b0),
    {c1},
    {c2}
    SELECT et, count(*) AS n,
           min({m3s}) AS m3_min, max({m3s}) AS m3_max,
           count(DISTINCT {m3}) AS m3_uniq,
           min({mgs}) AS mg_min, max({mgs}) AS mg_max,
           count(DISTINCT {mg}) AS mg_uniq
    FROM {l2} GROUP BY et ORDER BY et
    """


@query("ch_sql_murmur3_hashes", _murmur3_oracle())
def ch_sql_murmur3_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_MURMUR3_SQL, tabs)


# Canonical MurmurHash2-32 pair end-to-end (round 9): murmurHash2_32
# (seed 0) and kafkaMurmurHash (Kafka's seed + toPositive mask — the
# 32-bit core is pinned against Kafka's published UtilsTest vectors
# in tests/test_murmur3_128.py). Probe lengths 0..23 cover the
# word-free path, 1-5 full words and every 4-byte tail remainder.
_K_PAD = "=+~" * 8  # 24 chars ASCII filler

_KAFKA_SQL = f"""
SELECT et,
       count(*) AS n,
       min(m2) AS m2_min,
       max(m2) AS m2_max,
       uniqExact(m2) AS m2_uniq,
       min(kf) AS kf_min,
       max(kf) AS kf_max,
       uniqExact(kf) AS kf_uniq
FROM (
  SELECT event_type AS et,
         murmurHash2_32(substring(
             concat(event_type, toString(user_id), '{_K_PAD}'),
             1, toInt32(event_id % 24))) AS m2,
         kafkaMurmurHash(substring(
             concat(toString(user_id), event_type, '{_K_PAD}'),
             1, toInt32(event_id % 24))) AS kf
  FROM fastnetmon.events
  WHERE event_id % 10 = 4
)
GROUP BY et
ORDER BY et
"""


def _kafka_oracle() -> str:
    from ..functions.cityhash import staged_ctes
    from ..functions.murmur import KAFKA_SEED, MurmurEmitter

    em = MurmurEmitter("u")
    m2 = em.m2_32_dispatch("e2", "n2", 23)
    c1, l1 = staged_ctes(em, "b1")
    km = MurmurEmitter("uk")
    kf0 = km.m2_32_dispatch("ek", "nk", 23, KAFKA_SEED)
    # toPositive: AND 0x7fffffff == mod 2^31 on the non-negative
    # UInt32 carrier
    kf = km.emit(f"({kf0} % {1 << 31})")
    c2, l2 = staged_ctes(km, l1)
    return f"""
    WITH b0 AS (
      SELECT event_type AS et,
             substr(event_type || CAST(user_id AS VARCHAR)
                      || '{_K_PAD}',
                    1, CAST(event_id % 24 AS INTEGER)) AS e2,
             substr(CAST(user_id AS VARCHAR) || event_type
                      || '{_K_PAD}',
                    1, CAST(event_id % 24 AS INTEGER)) AS ek
      FROM events WHERE event_id % 10 = 4
    ),
    b1 AS (SELECT *, length(e2) AS n2, length(ek) AS nk FROM b0),
    {c1},
    {c2}
    SELECT et, count(*) AS n,
           CAST(min({m2}) AS BIGINT) AS m2_min,
           CAST(max({m2}) AS BIGINT) AS m2_max,
           count(DISTINCT {m2}) AS m2_uniq,
           CAST(min({kf}) AS BIGINT) AS kf_min,
           CAST(max({kf}) AS BIGINT) AS kf_max,
           count(DISTINCT {kf}) AS kf_uniq
    FROM {l2} GROUP BY et ORDER BY et
    """


@query("ch_sql_kafka_hashes", _kafka_oracle())
def ch_sql_kafka_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_KAFKA_SQL, tabs)


# Multi-argument combine chains end-to-end (round 9): CH's
# combineHashes folds h = H(h_prev LE || h_i LE) — pytest pins it
# per family (test_xxhash/test_murmur/test_murmur3_128); this probe
# gives the driver the same signal. Two BIGINT columns run through
# hash(col_a, col_b) for five families; the oracle replays per-arg
# u64-mode hashing then the 16-byte (8-byte for kafka) pair chain
# via the pair-stream emitters (functions/hash_numeric.py — every
# word read in the pair chain lands at position 1 or 1+width, so the
# fetch compiles to a CASE on the position). cityHash64's combine is
# Hash128to64 directly (no byte stream), replayed as the emitter's
# hl16.
_COMBINE_SQL = """
SELECT et,
       count(*) AS n,
       min(cc) AS cc_min, max(cc) AS cc_max, uniqExact(cc) AS cc_uniq,
       min(sc) AS sc_min, max(sc) AS sc_max,
       min(xc) AS xc_min, max(xc) AS xc_max,
       min(mc) AS mc_min, max(mc) AS mc_max,
       min(kc) AS kc_min, max(kc) AS kc_max
FROM (
  SELECT event_type AS et,
         cityHash64(user_id, event_id) AS cc,
         sipHash64(user_id, event_id) AS sc,
         xxHash64(user_id, event_id) AS xc,
         murmurHash3_64(user_id, event_id) AS mc,
         kafkaMurmurHash(user_id, event_id) AS kc
  FROM fastnetmon.events
  WHERE event_id % 10 = 6
)
GROUP BY et
ORDER BY et
"""


def _combine_oracle() -> str:
    from ..functions.cityhash import CityEmitter, staged_ctes
    from ..functions.hash_numeric import (
        IntHash64Emitter,
        Murmur128PairEmitter,
        Murmur128U64Emitter,
        MurmurPairEmitter,
        MurmurU64Emitter,
        SipPairEmitter,
        SipU64Emitter,
        XxU64Emitter,
    )
    from ..functions.murmur import KAFKA_SEED

    p64 = 1 << 64
    p31 = 1 << 31
    parts: list[tuple[str, str]] = []

    def stage(em, base: str) -> str:
        ctes, last = staged_ctes(em, base)
        parts.append((ctes, last))
        return last

    # cityHash64(a, b) on numerics: per-arg IntHash64Impl
    # (use_int_hash_for_pods), combined via Hash128to64 (round 10 —
    # the per-arg CityHash64-of-LE-bytes replay was the r9 model the
    # ADVICE corrected)
    city = IntHash64Emitter("pc")
    cc = city.signed(
        city.hl16(city.int_hash64("u"), city.int_hash64("ev"))
    )
    last = stage(city, "b1")

    sipu = SipU64Emitter("ps")
    s1 = sipu.chain("u", "8", 1)
    s2 = sipu.chain("ev", "8", 1)
    last = stage(sipu, last)
    sipp = SipPairEmitter("pt", s1, s2)
    sc = sipp.signed(sipp.chain("pair", "16", 2))
    last = stage(sipp, last)

    # xxHash64's combineHashes is Hash128to64 of the two per-arg
    # hashes (ImplXxHash64 — NOT the pair-rehash pattern; round 10)
    xxu = XxU64Emitter("px")
    x1 = xxu.xxh64_chain("u", "8", 0)
    x2 = xxu.xxh64_chain("ev", "8", 0)
    last = stage(xxu, last)
    xxp = CityEmitter("py")
    xc = xxp.signed(xxp.hl16(x1, x2))
    last = stage(xxp, last)

    m3u = Murmur128U64Emitter("pm")
    a1, b1 = m3u.chain("u", "8", 0)
    m1 = m3u.emit(f"xor({a1}, {b1})")
    a2, b2 = m3u.chain("ev", "8", 0)
    m2 = m3u.emit(f"xor({a2}, {b2})")
    last = stage(m3u, last)
    m3p = Murmur128PairEmitter("pn", m1, m2)
    pa, pb = m3p.chain("pair", "16", 1)
    mc = m3p.signed64(m3p.emit(f"xor({pa}, {pb})"))
    last = stage(m3p, last)

    kfu = MurmurU64Emitter("pk")
    k1 = kfu.emit(f"({kfu.m2_32_chain('u', '8', 2, KAFKA_SEED)} % {p31})")
    k2 = kfu.emit(f"({kfu.m2_32_chain('ev', '8', 2, KAFKA_SEED)} % {p31})")
    last = stage(kfu, last)
    kfp = MurmurPairEmitter("pl", k1, k2, width=4)
    kc = kfp.emit(
        f"({kfp.m2_32_chain('pair', '8', 2, KAFKA_SEED)} % {p31})"
    )
    last = stage(kfp, last)

    ctes = ",\n    ".join(c for c, _ in parts)
    return f"""
    WITH b1 AS (
      SELECT event_type AS et,
             (CAST(user_id AS HUGEINT) % {p64} + {p64}) % {p64} AS u,
             (CAST(event_id AS HUGEINT) % {p64} + {p64}) % {p64} AS ev
      FROM events WHERE event_id % 10 = 6
    ),
    {ctes}
    SELECT et, count(*) AS n,
           min({cc}) AS cc_min, max({cc}) AS cc_max,
           count(DISTINCT {cc}) AS cc_uniq,
           min({sc}) AS sc_min, max({sc}) AS sc_max,
           min({xc}) AS xc_min, max({xc}) AS xc_max,
           min({mc}) AS mc_min, max({mc}) AS mc_max,
           CAST(min({kc}) AS BIGINT) AS kc_min,
           CAST(max({kc}) AS BIGINT) AS kc_max
    FROM {last} GROUP BY et ORDER BY et
    """


@query("ch_sql_hash_combine_chains", _combine_oracle())
def ch_sql_hash_combine_chains(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tabs = _tables(spark, sf_dir, "events")
    return run_ch_query(_COMBINE_SQL, tabs)


# Round-7 function tranche end-to-end: map ordering digests, LpNorm,
# the marker-heuristic detectLanguage, the ngram/wordShingle
# Sim/MinHash fingerprint spellings (poly-hash carriers — the oracle
# replays the identical vote fold / k-min combine through the shared
# DuckDB helpers), and the A/B minimum-sample-size closed forms (the
# z-quantile is a plan literal computed once in Python and spliced
# into BOTH engines, so the arithmetic replays exactly). Char-gram
# fingerprints run on a fixed text prefix: the vote fold is
# O(grams x bits) per row and the prefix keeps the oracle row cheap
# without losing any code path.
def _round7_oracle() -> str:
    from ..functions.hashing import (
        POLY_MOD,
        poly_hash_duckdb,
        token_shingles_duckdb,
        tokens_duckdb,
    )
    from ..functions.stats_tests import _norm_ppf
    from ..operators.text import LANG_MARKERS

    z = _norm_ppf(1.0 - 0.05 / 2.0) + _norm_ppf(0.8)
    conv = f"{z!r} * {z!r} * (0.25 * 0.75 + 0.30 * 0.70) / (0.05 * 0.05)"
    cont = f"2 * {z!r} * {z!r} * 10.0 * 10.0 / (100.0 * 0.05 * 100.0 * 0.05)"

    def simhash_sql(grams: str) -> str:
        h = poly_hash_duckdb("g")
        return f"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(0, 30), j ->
            CASE WHEN (
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform({grams}, g ->
                  CASE WHEN (({h}) >> j) % 2 = 1
                       THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)),
                (a, b) -> a + b) >= 0
            ) THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
          (a, b) -> a + b)"""

    def minhash_sql(grams: str, k: int, which: str) -> str:
        h = poly_hash_duckdb("g")
        hs = f"list_sort(list_distinct(list_transform({grams}, g -> {h})))"
        if which == "lo":
            sl = f"({hs})[1 : {k}]"
        else:
            sl = (
                f"({hs})[greatest(len({hs}) - {k} + 1, 1) : len({hs})]"
            )
        return (
            f"list_reduce(list_prepend(CAST(7 AS BIGINT), {sl}), "
            f"(a, h) -> (a * 31 + h) % {POLY_MOD})"
        )

    def char_grams(src: str, n: int) -> str:
        return (
            f"CASE WHEN length({src}) >= {n} THEN "
            f"list_transform(range(1, length({src}) - {n} + 2), "
            f"i -> substring({src}, i, {n})) "
            f"ELSE CAST([] AS VARCHAR[]) END"
        )

    langs = list(LANG_MARKERS)
    score_exprs = []
    tok_p = tokens_duckdb("substring(text, 1, 200)")
    for la, ms in LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in ms)
        score_exprs.append(
            f"len(list_filter({tok_p}, x -> list_contains([{mk}],"
            f" lower(x)))) AS score_{la}"
        )
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    case = "'und'"
    for la in reversed(langs):
        case = (
            f"CASE WHEN score_{la} = {best} THEN '{la}' ELSE {case} END"
        )
    ng = char_grams("substring(text, 1, 120)", 3)
    wg = token_shingles_duckdb("substring(text, 1, 200)", 2)
    # URL hierarchy replay: same cut-after-separator-run rule (the
    # protocol+authority prefix is excluded from cutting)
    sep = "('/', '?', '#')"
    url_hier = f"""
    urls AS (
      SELECT doc_id,
             'https://ex' || CAST(doc_id % 3 AS VARCHAR) || '.com/'
               || source || '/p' || CAST(doc_id % 7 AS VARCHAR)
               || (CASE WHEN doc_id % 4 = 0 THEN '/'
                        WHEN doc_id % 4 = 1 THEN '?x=1' ELSE '' END)
               AS u
      FROM documents WHERE doc_id % 7 = 0
    ),
    parts AS (
      SELECT doc_id, u,
             regexp_extract(u, '^([a-z][a-z0-9+.\\-]*://[^/?#]*)', 1)
               AS b
      FROM urls
    ),
    hier AS (
      SELECT doc_id, u, b, substring(u, length(b) + 1) AS rest,
             list_filter(range(1, length(substring(u, length(b) + 1)) + 1),
               i -> substring(substring(u, length(b) + 1), i, 1) IN {sep}
                 AND (i = length(substring(u, length(b) + 1))
                      OR NOT substring(substring(u, length(b) + 1),
                                       i + 1, 1) IN {sep})) AS cuts
      FROM parts
    ),
    hlists AS (
      SELECT doc_id,
        CASE WHEN length(rest) = 0 THEN [u] ELSE
          list_concat(
            list_transform(cuts, i -> b || substring(rest, 1, i)),
            CASE WHEN length(rest) > 0
                 AND NOT substring(rest, length(rest), 1) IN {sep}
                 THEN [b || rest] ELSE [] END)
        END AS h,
        list_filter(
          list_concat(
            list_transform(cuts, i -> substring(rest, 1, i)),
            CASE WHEN length(rest) > 0
                 AND NOT substring(rest, length(rest), 1) IN {sep}
                 THEN [rest] ELSE [] END),
          e -> e <> '/') AS p
      FROM hier
    )"""
    return f"""
    WITH s AS (
      SELECT doc_id, text,
             doc_id % 5 AS d5, doc_id % 3 AS d3,
             {", ".join(score_exprs)}
      FROM documents WHERE doc_id % 7 = 0
    ),{url_hier}
    SELECT doc_id,
      'a,z' AS msk,
      CAST(d3 AS VARCHAR) || ',' || CAST(d5 AS VARCHAR) AS msv,
      round(pow(pow(abs(CAST(d3 AS DOUBLE)), 3.0)
                + pow(abs(CAST(d5 AS DOUBLE)), 3.0)
                + pow(2.0, 3.0), 1.0/3.0), 6) AS lp3,
      CASE WHEN {best} <= 0 THEN 'und' ELSE {case} END AS dl,
      {simhash_sql(ng)} AS nsh,
      {simhash_sql(wg)} AS wsh,
      {minhash_sql(ng, 6, "lo")} AS nmh_lo,
      {minhash_sql(ng, 6, "hi")} AS nmh_hi,
      {minhash_sql(wg, 4, "lo")} AS wmh_lo,
      round({conv}, 4) AS mss_conv,
      round({cont}, 4) AS mss_cont,
      array_to_string(hl.h, '|') AS uh,
      array_to_string(hl.p, '|') AS ph
    FROM s JOIN hlists hl USING (doc_id)
    ORDER BY doc_id
    LIMIT 200
    """


_ROUND7_SQL = """
SELECT doc_id,
  arrayStringConcat(mapKeys(mapSort(
    map('z', doc_id % 5, 'a', doc_id % 3))), ',') AS msk,
  arrayStringConcat(arrayMap(x -> toString(x),
    mapValues(mapSort(map('z', doc_id % 5, 'a', doc_id % 3)))), ',')
    AS msv,
  round(LpNorm([toFloat64(doc_id % 3), toFloat64(doc_id % 5), 2.0],
               3), 6) AS lp3,
  detectLanguage(substring(text, 1, 200)) AS dl,
  ngramSimHash(substring(text, 1, 120)) AS nsh,
  wordShingleSimHash(substring(text, 1, 200), 2) AS wsh,
  tupleElement(ngramMinHash(substring(text, 1, 120)), 1) AS nmh_lo,
  tupleElement(ngramMinHash(substring(text, 1, 120)), 2) AS nmh_hi,
  tupleElement(wordShingleMinHash(substring(text, 1, 200), 2, 4), 1)
    AS wmh_lo,
  round(tupleElement(
    minSampleSizeConversion(0.25, 0.05, 0.8, 0.05), 1), 4) AS mss_conv,
  round(tupleElement(
    minSampleSizeContinous(100.0, 10.0, 0.05, 0.8, 0.05), 1), 4)
    AS mss_cont,
  arrayStringConcat(URLHierarchy(concat('https://ex', toString(doc_id % 3),
    '.com/', source, '/p', toString(doc_id % 7),
    multiIf(doc_id % 4 = 0, '/', doc_id % 4 = 1, '?x=1', ''))), '|') AS uh,
  arrayStringConcat(URLPathHierarchy(concat('https://ex',
    toString(doc_id % 3), '.com/', source, '/p', toString(doc_id % 7),
    multiIf(doc_id % 4 = 0, '/', doc_id % 4 = 1, '?x=1', ''))), '|') AS ph
FROM fastnetmon.documents
WHERE doc_id % 7 = 0
ORDER BY doc_id
LIMIT 200
"""


@query("ch_sql_round7_functions", _round7_oracle())
def ch_sql_round7_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7_SQL, _tables(spark, sf_dir, "documents"))


# categoricalInformationValue end-to-end (round 7): the credit-scoring
# IV of two category columns against a binary tag, per user bucket.
# Exactness design: BOTH engines fold the per-category terms in
# ascending-category order from a 0.0 seed (Spark iterates the
# distinct values of the SORTED tape; the oracle list-collects terms
# ORDER BY category and list_reduces from a prepended 0.0), so the
# doubles are bit-identical and the %.6f digest never wobbles.
_CATEGORICAL_IV_SQL = """
SELECT user_id % 3 AS g,
       count(*) AS n,
       categoricalInformationValue(event_type,
                                   toString(user_id % 4),
                                   event_id % 2) AS iv
FROM fastnetmon.events
GROUP BY g
ORDER BY g
"""


def _categorical_iv_oracle() -> str:
    def chain(cat_expr: str, label: str) -> str:
        return f"""
    pc_{label} AS (
      SELECT g, {cat_expr} AS cat,
             CAST(sum(CASE WHEN tag <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS cn1,
             CAST(sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS cn0
      FROM base GROUP BY g, {cat_expr}
    ),
    terms_{label} AS (
      SELECT p.g,
             list(CASE WHEN p.cn1 > 0 AND p.cn0 > 0 THEN
                    (p.cn1 / t.n1 - p.cn0 / t.n0)
                    * ln((p.cn1 / t.n1) / (p.cn0 / t.n0))
                  ELSE 0.0 END ORDER BY p.cat) AS ts
      FROM pc_{label} p JOIN tot t USING (g) GROUP BY p.g
    ),
    iv_{label} AS (
      SELECT g, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ts),
                            (a, b) -> a + b) AS v
      FROM terms_{label}
    )"""

    return f"""
    WITH base AS (
      SELECT user_id % 3 AS g, event_type AS c1,
             CAST(user_id % 4 AS VARCHAR) AS c2,
             event_id % 2 AS tag
      FROM events
    ),
    tot AS (
      SELECT g,
             CAST(sum(CASE WHEN tag <> 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n1,
             CAST(sum(CASE WHEN tag = 0 THEN 1 ELSE 0 END) AS DOUBLE)
               AS n0,
             count(*) AS n
      FROM base GROUP BY g
    ),{chain("c1", "a")},{chain("c2", "b")}
    SELECT t.g, t.n,
           printf('%.6f', iv_a.v) || ',' || printf('%.6f', iv_b.v)
             AS iv
    FROM tot t
    JOIN iv_a ON iv_a.g = t.g
    JOIN iv_b ON iv_b.g = t.g
    ORDER BY t.g
    """


@query("ch_sql_categorical_iv", _categorical_iv_oracle())
def ch_sql_categorical_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = run_ch_query(_CATEGORICAL_IV_SQL, _tables(spark, sf_dir, "events"))
    return df.withColumn("iv", _arr_digest("iv", "%.6f"))


# Round-7b function tranche end-to-end: the toRelative*Num bucket
# family (DateLUT closed forms), fromModifiedJulianDay, clamp,
# toDecimalString, Int128 arithmetic past the BIGINT range, byte/bit
# slicing (bit shifts replayed arithmetically in DuckDB), array
# shingles, the asymmetric ngramSearch, and a UUIDv7 timestamp
# roundtrip (ms -> v7 hex -> UUIDv7ToDateTime -> ms).
_ROUND7B_SQL = """
SELECT event_id AS eid,
       toRelativeMonthNum(ts) AS rm,
       toRelativeQuarterNum(ts) AS rq,
       toRelativeWeekNum(ts) AS rw,
       toRelativeHourNum(ts) AS rh,
       toString(fromModifiedJulianDay(
         toInt32(40000 + event_id % 20000))) AS fmjd,
       clamp(value, 2.0, 8.0) AS cl,
       toDecimalString(value, 3) AS tds,
       toString(toInt128('12345678901234567890123456789012345')
                + event_id) AS i128,
       byteSlice(event_type, 2, 3) AS bs,
       hex(bitSlice(event_type, 3, 12)) AS bsl,
       arrayStringConcat(arrayMap(w -> arrayStringConcat(w, '-'),
         arrayShingles([toString(event_id % 5), toString(event_id % 7),
                        toString(event_id % 11),
                        toString(event_id % 13)], 2)), '|') AS sh,
       round(ngramSearch(props,
         concat('k": ', toString(event_id % 10))), 6) AS ns,
       toUnixTimestamp64Milli(UUIDv7ToDateTime(concat(
         substring(lower(leftPad(hex(toUnixTimestamp64Milli(ts)),
                                 12, '0')), 1, 8),
         '-',
         substring(lower(leftPad(hex(toUnixTimestamp64Milli(ts)),
                                 12, '0')), 9, 4),
         '-7000-8000-000000000000'))) AS u7ms
FROM fastnetmon.events
WHERE event_id % 37 = 0
ORDER BY eid
"""


def _round7b_oracle() -> str:
    def byte_at(k: int) -> str:
        # 0 past the end, like the engine's zero-extended bit reads
        return (
            f"CASE WHEN length(event_type) >= {k} "
            f"THEN ascii(substring(event_type, {k}, 1)) ELSE 0 END"
        )

    b1, b2, b3 = byte_at(1), byte_at(2), byte_at(3)
    grams = (
        "list_distinct(CASE WHEN length({s}) >= 4 THEN "
        "list_transform(range(1, length({s}) - 2), "
        "i -> substring({s}, i, 4)) ELSE [{s}] END)"
    )
    gh = grams.format(s="props")
    gn = grams.format(s="needle")
    return f"""
    WITH base AS (
      SELECT event_id, CAST(ts AS DATE) AS d, ts, event_type, value,
             props,
             'k": ' || CAST(event_id % 10 AS VARCHAR) AS needle
      FROM events WHERE event_id % 37 = 0
    )
    SELECT event_id AS eid,
           CAST(year(d) * 12 + month(d) AS BIGINT) AS rm,
           CAST(year(d) * 4 + (month(d) - 1) // 3 AS BIGINT) AS rq,
           CAST((datediff('day', DATE '1970-01-01', d) + 8
                 - isodow(d)) // 7 AS BIGINT) AS rw,
           CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS rh,
           CAST(DATE '1858-11-17'
                + CAST(40000 + event_id % 20000 AS INTEGER)
                AS VARCHAR) AS fmjd,
           least(greatest(value, 2.0), 8.0) AS cl,
           printf('%.3f', value) AS tds,
           CAST(CAST('12345678901234567890123456789012345' AS HUGEINT)
                + event_id AS VARCHAR) AS i128,
           substring(event_type, 2, 3) AS bs,
           upper(lpad(to_hex(({b1} * 4 + {b2} // 64) % 256), 2, '0')
                 || lpad(to_hex((({b2} * 4 + {b3} // 64) % 256)
                                & 240), 2, '0')) AS bsl,
           printf('%d-%d|%d-%d|%d-%d',
                  event_id % 5, event_id % 7, event_id % 7,
                  event_id % 11, event_id % 11, event_id % 13) AS sh,
           round(CAST(len(list_filter({gn},
                    g -> list_contains({gh}, g))) AS DOUBLE)
                 / len({gn}), 6) AS ns,
           epoch_ms(ts) AS u7ms
    FROM base
    ORDER BY eid
    """


@query("ch_sql_round7b_functions", _round7b_oracle())
def ch_sql_round7b_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7B_SQL, _tables(spark, sf_dir, "events"))


# Base58 end-to-end: encode a 5-12 byte key built from document
# columns, plus the decode round-trip. DuckDB replays the positional
# big-base conversion in closed form — the key folds into ONE
# HUGEINT (max 12 bytes = 96 bits < 128), base-58 digits come from
# literal power tables (58^k, 256^k precomputed driver-side), and
# leading zero digits are stripped like the spec says. Inputs are
# ASCII (no leading 0x00 bytes -> no '1' prefix leg; that leg is
# pinned against the canonical unhex('0000287FB4CD') vector in
# tests/test_ch_round7b_functions.py).
_BASE58_SQL = """
SELECT doc_id,
       base58Encode(concat(source, ':', toString(doc_id))) AS e58,
       base58Decode(base58Encode(
         concat(source, ':', toString(doc_id)))) AS rt
FROM fastnetmon.documents
WHERE doc_id % 23 = 0
ORDER BY doc_id
"""


def _base58_oracle() -> str:
    p256 = ", ".join(
        f"CAST('{256 ** k}' AS HUGEINT)" for k in range(15)
    )
    p58 = ", ".join(
        f"CAST('{58 ** k}' AS HUGEINT)" for k in range(21)
    )
    alpha = (
        "123456789ABCDEFGHJKLMNPQRSTUVWXYZ"
        "abcdefghijkmnopqrstuvwxyz"
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             source || ':' || CAST(doc_id AS VARCHAR) AS s
      FROM documents WHERE doc_id % 23 = 0
    ),
    nums AS (
      SELECT doc_id, s,
        list_reduce(
          list_prepend(CAST(0 AS HUGEINT),
            list_transform(range(1, length(s) + 1),
              i -> CAST(ascii(substring(s, CAST(i AS INT), 1))
                        AS HUGEINT)
                   * ([{p256}])[length(s) - i + 1])),
          (a, b) -> a + b) AS n
      FROM base
    ),
    digs AS (
      SELECT doc_id, s, n,
        list_transform(range(0, 21),
          j -> CAST((n // ([{p58}])[21 - j]) % 58 AS INT)) AS d
      FROM nums
    )
    SELECT doc_id,
      CASE WHEN n = 0 THEN '' ELSE
        array_to_string(
          list_transform(
            range(coalesce(list_position(
                    list_transform(d, x -> x > 0), true), 22), 22),
            k -> substring('{alpha}', d[CAST(k AS INT)] + 1, 1)),
          '')
      END AS e58,
      s AS rt
    FROM digs
    ORDER BY doc_id
    """


@query("ch_sql_base58_roundtrip", _base58_oracle())
def ch_sql_base58_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_BASE58_SQL, _tables(spark, sf_dir, "documents"))


# seriesPeriodDetectFFT end-to-end: per-group sawtooth series with a
# data-dependent period; the DuckDB oracle replays the same direct
# DFT periodogram (the picked bin is the sawtooth fundamental, which
# dominates its harmonics by >= 2x, so libm cos/sin ulp differences
# between the JVM and DuckDB cannot flip the argmax).
_SERIES_FFT_SQL = """
SELECT g,
       seriesPeriodDetectFFT(arrayMap(i -> toFloat64(i % (2 + g)),
                                      range(60))) AS p,
       seriesPeriodDetectFFT(arrayMap(i -> toFloat64(i % (3 + g)),
                                      range(60))) AS p2,
       seriesPeriodDetectFFT(arrayWithConstant(12, 1.0)) AS pconst
FROM (SELECT DISTINCT user_id % 4 AS g FROM fastnetmon.events)
ORDER BY g
"""


def _series_fft_oracle() -> str:
    def dft(period_expr: str) -> str:
        xs = (
            f"list_transform(range(0, 60), "
            f"i -> CAST(i % ({period_expr}) AS DOUBLE))"
        )
        comp = {}
        for fn in ("cos", "sin"):
            comp[fn] = (
                f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
                f"list_transform(range(0, 60), i -> "
                f"({xs})[CAST(i + 1 AS INT)] "
                f"* {fn}(2 * pi() * k * i / 60.0))), "
                f"(a, b) -> a + b)"
            )
        mags = (
            f"list_transform(range(1, 31), k -> "
            f"pow({comp['cos']}, 2) + pow({comp['sin']}, 2))"
        )
        return (
            f"60.0 / list_position({mags}, "
            f"list_aggregate({mags}, 'max'))"
        )

    return f"""
    WITH gs AS (SELECT DISTINCT user_id % 4 AS g FROM events)
    SELECT g,
           {dft("2 + g")} AS p,
           {dft("3 + g")} AS p2,
           CAST(NULL AS DOUBLE) AS pconst
    FROM gs
    ORDER BY g
    """


@query("ch_sql_series_period_fft", _series_fft_oracle())
def ch_sql_series_period_fft(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_SERIES_FFT_SQL, _tables(spark, sf_dir, "events"))


# Round-7c end-to-end: map arithmetic digested to key:value strings,
# the interpolated weighted quantile (midpoint convention — c_i =
# (cum_i - w_i/2)/W, clamped ends; DuckDB replays it with windowed
# cumulative weights + FILTERed arg_min/arg_max brackets), sigmoid,
# and groupArraySample at n >= group size (the sample plumbing
# reduces to the whole group — sorted digest matches exactly; the
# seeded-ranking determinism itself is pinned in pytest, since CH's
# RNG stream is engine-private on both sides).
_ROUND7C_SQL = """
SELECT g,
       arrayStringConcat(arrayMap(k ->
         concat(k, ':', toString(mapElement(
           mapAdd(map('x', g, 'y', 1), map('y', g)), k))),
         mapKeys(mapAdd(map('x', g, 'y', 1), map('y', g)))), ',')
         AS ma,
       arrayStringConcat(arrayMap(k -> toString(mapElement(
         mapPopulateSeries(mapFromArrays([1, 2 + g % 2],
                                         [g, 7]), 4), k)),
         [1, 2, 3, 4]), ',') AS mp,
       qiw, qhi, sg, gs
FROM (
  SELECT g,
         round(quantileInterpolatedWeighted(0.5)(
           value, 1 + event_id % 3), 6) AS qiw,
         round(quantileInterpolatedWeighted(0.9)(
           value, 1 + event_id % 3), 6) AS qhi,
         round(min(sigmoid(value - 5.0)), 6) AS sg,
         arrayStringConcat(arrayMap(x -> toString(x),
           arraySort(groupArraySample(100000)(event_id % 97))), ',')
           AS gs
  FROM (SELECT user_id % 7 AS g, value, event_id
        FROM fastnetmon.events)
  GROUP BY g
)
ORDER BY g
"""


def _round7c_oracle() -> str:
    return """
    WITH base AS (
      SELECT user_id % 7 AS g, value AS v,
             1 + event_id % 3 AS w, event_id
      FROM events
    ),
    pts AS (
      SELECT g, v, w,
             sum(w) OVER (PARTITION BY g ORDER BY v, w
                          ROWS UNBOUNDED PRECEDING) - w / 2.0 AS c
      FROM base
    ),
    tg AS (
      SELECT g, sum(w) AS tw FROM base GROUP BY g
    ),
    qs AS (
      SELECT p.g,
             max(CASE WHEN p.c <  0.5 * t.tw THEN p.c END) AS c0m,
             arg_max(p.v, p.c) FILTER (p.c <  0.5 * t.tw) AS v0m,
             min(CASE WHEN p.c >= 0.5 * t.tw THEN p.c END) AS c1m,
             arg_min(p.v, p.c) FILTER (p.c >= 0.5 * t.tw) AS v1m,
             max(CASE WHEN p.c <  0.9 * t.tw THEN p.c END) AS c0h,
             arg_max(p.v, p.c) FILTER (p.c <  0.9 * t.tw) AS v0h,
             min(CASE WHEN p.c >= 0.9 * t.tw THEN p.c END) AS c1h,
             arg_min(p.v, p.c) FILTER (p.c >= 0.9 * t.tw) AS v1h,
             arg_max(p.v, p.c) AS vlast
      FROM pts p JOIN tg t USING (g)
      GROUP BY p.g
    ),
    agg AS (
      SELECT g,
             min(1.0 / (1.0 + exp(-(v - 5.0)))) AS sg
      FROM base GROUP BY g
    ),
    sampn AS (
      -- sorted NUMERIC digest rendered as strings, matching Spark's
      -- arraySort-then-toString order (numeric sort, string render)
      SELECT g,
             array_to_string(
               list_transform(list_sort(list(event_id % 97)),
                              x -> CAST(x AS VARCHAR)), ',') AS gs
      FROM base GROUP BY g
    )
    SELECT q.g,
           printf('x:%d,y:%d', q.g, 1 + q.g) AS ma,
           array_to_string(list_transform(range(1, 5),
             k -> CAST(CASE WHEN k = 1 THEN q.g
                            WHEN k = 2 + q.g % 2 THEN 7
                            ELSE 0 END AS VARCHAR)), ',') AS mp,
           round(CASE WHEN q.c1m IS NULL THEN q.vlast
                      WHEN q.c0m IS NULL THEN q.v1m
                      ELSE q.v0m + (q.v1m - q.v0m)
                           * (0.5 * t.tw - q.c0m)
                           / (q.c1m - q.c0m) END, 6) AS qiw,
           round(CASE WHEN q.c1h IS NULL THEN q.vlast
                      WHEN q.c0h IS NULL THEN q.v1h
                      ELSE q.v0h + (q.v1h - q.v0h)
                           * (0.9 * t.tw - q.c0h)
                           / (q.c1h - q.c0h) END, 6) AS qhi,
           round(a.sg, 6) AS sg,
           s.gs AS gs
    FROM qs q
    JOIN tg t USING (g)
    JOIN agg a ON a.g = q.g
    JOIN sampn s ON s.g = q.g
    ORDER BY q.g
    """


@query("ch_sql_round7c_functions", _round7c_oracle())
def ch_sql_round7c_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7C_SQL, _tables(spark, sf_dir, "events"))


# Round-7d end-to-end: array set ops (sorted digests — distinct-order
# conventions differ between engines), the URL parameter tail over
# constructed URLs, JSON validity probes, GENUINE halfMD5 (DuckDB
# folds the same first-8-MD5-bytes hex into HUGEINT), the
# human-size / time-delta parsers, Sunday/Monday week boundaries via
# the 7b fromModifiedJulianDay date generator, and arrayNormalizedGini
# (the cum-sum identity acc = sum_i (n-i+1) * l_i replayed with
# list_transform positions).
_ROUND7D_SQL = """
SELECT doc_id,
       arrayStringConcat(arrayMap(x -> toString(x), arraySort(
         arrayUnion([doc_id % 5, doc_id % 7],
                    [doc_id % 7, doc_id % 3]))), ',') AS au,
       arrayStringConcat(arrayMap(x -> toString(x), arraySort(
         arraySymmetricDifference([doc_id % 5, doc_id % 7],
                                  [doc_id % 7, doc_id % 3]))), ',')
         AS asd,
       toString(toStartOfWeek(fromModifiedJulianDay(
         toInt32(58000 + doc_id % 400)))) AS sow,
       toString(toStartOfWeek(fromModifiedJulianDay(
         toInt32(58000 + doc_id % 400)), 1)) AS sowm,
       toString(toLastDayOfWeek(fromModifiedJulianDay(
         toInt32(58000 + doc_id % 400)))) AS ldw,
       cutWWW(concat('https://www.ex', toString(doc_id % 3),
                     '.com/p?a=', toString(doc_id % 4), '&',
                     source, '=1#z')) AS cw,
       queryStringAndFragment(concat('https://www.ex.com/p?a=',
         toString(doc_id % 4), '&', source, '=1#z')) AS qsf,
       arrayStringConcat(extractURLParameters(
         concat('https://ex.com/p?a=', toString(doc_id % 4), '&',
                source, '=1#z')), ';') AS eup,
       arrayStringConcat(extractURLParameterNames(
         concat('https://ex.com/p?a=', toString(doc_id % 4), '&',
                source, '=1')), ';') AS eun,
       isValidJSON(multiIf(doc_id % 3 = 0, '{"k": 1}', '{bad'))
         AS vj,
       JSONArrayLength(toJSONString(range(1 + doc_id % 4))) AS jal,
       toString(halfMD5(concat(source, ':', toString(doc_id))))
         AS hm,
       parseReadableSize(concat(
         toDecimalString((1 + doc_id % 99) / 10.0, 1),
         multiIf(doc_id % 4 = 0, ' B', doc_id % 4 = 1, ' KiB',
                 doc_id % 4 = 2, ' MB', ' GiB'))) AS prs,
       round(parseTimeDelta(concat(toString(doc_id % 5), 'h ',
         toString(doc_id % 60), 'm')), 6) AS ptd,
       round(tupleElement(arrayNormalizedGini(
         arrayMap(i -> toFloat64((doc_id * 7 + i) % 13), range(6)),
         arrayMap(i -> toFloat64((doc_id + i) % 4), range(6))),
         'normalized'), 6) AS gini
FROM fastnetmon.documents
WHERE doc_id % 29 = 0
ORDER BY doc_id
"""


def _round7d_oracle() -> str:
    hex_fold = (
        "list_reduce(list_prepend(CAST(0 AS HUGEINT), "
        "list_transform(range(1, 17), "
        "i -> CAST(strpos('0123456789abcdef', "
        "substring(md5(s2), CAST(i AS INT), 1)) - 1 AS HUGEINT))), "
        "(a, d) -> a * 16 + d)"
    )
    # labels ordered by prediction desc (struct sort on (p, l), then
    # reversed), gini via the positional identity
    gini = """
      list_transform(
        list_reverse(list_sort(
          list_transform(range(0, 6), i -> {'p': CAST((doc_id * 7 + i) % 13 AS DOUBLE),
                                            'l': CAST((doc_id + i) % 4 AS DOUBLE)}))),
        e -> e.l)"""
    ideal = (
        "list_reverse(list_sort(list_transform(range(0, 6), "
        "i -> CAST((doc_id + i) % 4 AS DOUBLE))))"
    )

    def gini_sum(lst: str) -> str:
        return (
            f"(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
            f"list_transform(range(1, 7), "
            f"i -> ({lst})[CAST(i AS INT)] * (6 - i + 1))), "
            f"(a, b) -> a + b) "
            f"/ list_reduce(list_prepend(CAST(0 AS DOUBLE), {lst}), "
            f"(a, b) -> a + b) - 3.5) / 6.0"
        )

    return f"""
    WITH base AS (
      SELECT doc_id, source,
             source || ':' || CAST(doc_id AS VARCHAR) AS s2,
             DATE '1858-11-17'
               + CAST(58000 + doc_id % 400 AS INTEGER) AS d,
             printf('%.1f', (1 + doc_id % 99) / 10.0) AS szn,
             CASE doc_id % 4 WHEN 0 THEN 1.0
                             WHEN 1 THEN 1024.0
                             WHEN 2 THEN 1000000.0
                             ELSE 1073741824.0 END AS szm
      FROM documents WHERE doc_id % 29 = 0
    )
    SELECT doc_id,
           array_to_string(list_transform(list_sort(list_distinct(
             [doc_id % 5, doc_id % 7, doc_id % 3])),
             x -> CAST(x AS VARCHAR)), ',') AS au,
           coalesce(array_to_string(list_transform(list_sort(
             list_distinct(
             list_filter([doc_id % 5, doc_id % 7, doc_id % 3],
               x -> NOT (list_contains([doc_id % 5, doc_id % 7], x)
                         AND list_contains([doc_id % 7, doc_id % 3],
                                           x))))),
             x -> CAST(x AS VARCHAR)), ','), '') AS asd,
           CAST(d - CAST(isodow(d) % 7 AS INTEGER) AS VARCHAR)
             AS sow,
           CAST(d - CAST(isodow(d) - 1 AS INTEGER) AS VARCHAR)
             AS sowm,
           CAST(d - CAST(isodow(d) % 7 - 6 AS INTEGER) AS VARCHAR)
             AS ldw,
           'https://ex' || CAST(doc_id % 3 AS VARCHAR)
             || '.com/p?a=' || CAST(doc_id % 4 AS VARCHAR) || '&'
             || source || '=1#z' AS cw,
           '?a=' || CAST(doc_id % 4 AS VARCHAR) || '&' || source
             || '=1#z' AS qsf,
           'a=' || CAST(doc_id % 4 AS VARCHAR) || ';' || source
             || '=1' AS eup,
           'a;' || source AS eun,
           doc_id % 3 = 0 AS vj,
           CAST(1 + doc_id % 4 AS BIGINT) AS jal,
           CAST({hex_fold} AS VARCHAR) AS hm,
           CAST(ceil(CAST(szn AS DOUBLE) * szm) AS BIGINT) AS prs,
           round((doc_id % 5) * 3600.0 + (doc_id % 60) * 60.0, 6)
             AS ptd,
           round({gini_sum(gini)} / nullif({gini_sum(ideal)}, 0),
                 6) AS gini
    FROM base
    ORDER BY doc_id
    """


@query("ch_sql_round7d_functions", _round7d_oracle())
def ch_sql_round7d_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7D_SQL, _tables(spark, sf_dir, "documents"))


# Round-7e end-to-end: the groupBitmap set aggregates (DuckDB replays
# AND as bool_and membership per candidate value, XOR as odd
# membership counts — the candidate universes are the small literal
# moduli), the weighted Timing-quantile alias on the exact-weighted
# walk, and the -If combinator over two-argument bases (corr via
# FILTER, avgWeighted via the guarded ratio).
_ROUND7E_SQL = """
SELECT g,
       groupBitmapAnd(bitmapBuild([event_id % 4, 1, 2])) AS ba,
       groupBitmapOr(bitmapBuild([event_id % 6])) AS bo,
       groupBitmapXor(bitmapBuild([event_id % 8])) AS bx,
       round(quantileTimingWeighted(0.5)(
         value, 1 + event_id % 3), 6) AS qtw,
       round(avgWeightedIf(value, toFloat64(1 + event_id % 5),
                           event_id % 2 = 0), 6) AS awi,
       round(corrIf(value, toFloat64(event_id % 97),
                    event_id % 3 > 0), 6) AS ci
FROM (SELECT user_id % 6 AS g, event_id, value
      FROM fastnetmon.events)
GROUP BY g
ORDER BY g
"""


def _round7e_oracle() -> str:
    and_terms = " + ".join(
        f"(CASE WHEN bool_and(list_contains([event_id % 4, 1, 2],"
        f" {v})) THEN 1 ELSE 0 END)"
        for v in (0, 1, 2, 3)
    )
    xor_terms = " + ".join(
        f"(sum(CASE WHEN event_id % 8 = {v} THEN 1 ELSE 0 END) % 2)"
        for v in range(8)
    )
    return f"""
    WITH base AS (
      SELECT user_id % 6 AS g, event_id, value AS v,
             1 + event_id % 3 AS wt
      FROM events
    ),
    pts AS (
      SELECT g, v, wt,
             sum(wt) OVER (PARTITION BY g ORDER BY v, wt
                           ROWS UNBOUNDED PRECEDING) AS cum
      FROM base
    ),
    tg AS (SELECT g, 0.5 * sum(wt) AS t FROM base GROUP BY g),
    qs AS (
      SELECT p.g, arg_min(p.v, p.cum) FILTER (p.cum >= t.t) AS qtw
      FROM pts p JOIN tg t USING (g) GROUP BY p.g
    ),
    agg AS (
      SELECT g,
             CAST({and_terms} AS BIGINT) AS ba,
             CAST(count(DISTINCT event_id % 6) AS BIGINT) AS bo,
             CAST({xor_terms} AS BIGINT) AS bx,
             round(sum(CASE WHEN event_id % 2 = 0
                            THEN v * (1 + event_id % 5) END)
                   / sum(CASE WHEN event_id % 2 = 0
                              THEN 1.0 * (1 + event_id % 5) END), 6)
               AS awi,
             round(corr(v, CAST(event_id % 97 AS DOUBLE))
                   FILTER (event_id % 3 > 0), 6) AS ci
      FROM base GROUP BY g
    )
    SELECT a.g, a.ba, a.bo, a.bx, round(q.qtw, 6) AS qtw, a.awi,
           a.ci
    FROM agg a JOIN qs q ON q.g = a.g
    ORDER BY a.g
    """


@query("ch_sql_round7e_aggregates", _round7e_oracle())
def ch_sql_round7e_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7E_SQL, _tables(spark, sf_dir, "events"))


# Round-7f end-to-end: Excel-convention exact quantiles (DuckDB
# replays the identical h = q*(n±1)(+1) clamp-and-interpolate closed
# form over sorted lists — NOT quantile_cont, whose lerp spelling
# could differ in the last ulp) and arrayAUCPR (average precision;
# the oracle replays the positional identity
# sum_k l_k * prefix(l)_k / k / npos over the same
# (score desc, label desc) scan order).
_ROUND7F_SQL = """
SELECT g,
       qi, qe,
       round(arrayAUCPR(
         arrayMap(i -> toFloat64((g * 3 + i) % 7), range(12)),
         arrayMap(i -> toInt64(if((i + g) % 3 = 0, 1, 0)),
                  range(12))), 6) AS ap
FROM (
  SELECT user_id % 5 AS g,
         round(quantileExactInclusive(0.25)(value), 6) AS qi,
         round(quantileExactExclusive(0.75)(value), 6) AS qe
  FROM fastnetmon.events
  GROUP BY g
)
ORDER BY g
"""


def _round7f_oracle() -> str:
    def excel_q(lv: float, inclusive: bool) -> str:
        n = "CAST(len(vs) AS DOUBLE)"
        h = (
            f"({lv} * ({n} - 1) + 1)"
            if inclusive
            else f"({lv} * ({n} + 1))"
        )
        h = f"greatest(least({h}, {n}), 1.0)"
        return (
            f"round((SELECT vs[CAST(floor({h}) AS INT)] "
            f"+ ({h} - floor({h})) "
            f"* (vs[CAST(least(floor({h}) + 1, len(vs)) AS INT)] "
            f"- vs[CAST(floor({h}) AS INT)])), 6)"
        )

    # labels in (score desc, label desc) scan order, then the
    # positional average-precision identity
    ls = (
        "list_transform(list_reverse(list_sort("
        "list_transform(range(0, 12), "
        "i -> {'s': CAST((g * 3 + i) % 7 AS DOUBLE), "
        "'l': CAST(CASE WHEN (i + g) % 3 = 0 THEN 1 ELSE 0 END"
        " AS DOUBLE)}))), e -> e.l)"
    )
    ap = (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(range(1, 13), k -> "
        f"ls[CAST(k AS INT)] "
        f"* list_aggregate(ls[1:CAST(k AS INT)], 'sum') / k)), "
        f"(a, b) -> a + b) "
        f"/ list_aggregate(ls, 'sum')"
    )
    return f"""
    WITH base AS (
      SELECT user_id % 5 AS g, value AS v FROM events
    ),
    tapes AS (
      SELECT g, list_sort(list(v)) AS vs FROM base GROUP BY g
    ),
    qs AS (
      SELECT g,
             {excel_q(0.25, True)} AS qi,
             {excel_q(0.75, False)} AS qe
      FROM tapes
    ),
    aps AS (
      SELECT g, {ap} AS apv
      FROM (SELECT DISTINCT g, {ls} AS ls FROM base)
    )
    SELECT q.g, q.qi, q.qe, round(a.apv, 6) AS ap
    FROM qs q JOIN aps a ON a.g = q.g
    ORDER BY q.g
    """


@query("ch_sql_round7f_functions", _round7f_oracle())
def ch_sql_round7f_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_ROUND7F_SQL, _tables(spark, sf_dir, "events"))


# Parametric-If composition end-to-end: the -If mask over parametric
# aggregates (quantileExactIf / quantileExactWeightedIf / topKIf /
# uniqUpToIf) and the map-aggregate -If (sumMapIf over the
# single-Map overload). DuckDB replays with FILTERed equivalents:
# quantile_cont for the exact quantile, the windowed threshold walk
# for the weighted form, the (count desc, value asc) deterministic
# topK pick, least(distinct, n+1) for uniqUpTo, and a keyed GROUP BY
# re-aggregation for the map digest.
_PARAMETRIC_IF_SQL = """
SELECT g,
       round(quantileExactIf(0.5)(value, event_type = 'click'), 4)
         AS q50,
       round(quantileExactWeightedIf(0.5)(
         value, 1 + event_id % 3, event_id % 2 = 0), 6) AS qw,
       arrayStringConcat(arrayMap(x -> toString(x),
         topKIf(3)(event_id % 7, event_type != 'click')), ',') AS tk,
       uniqUpToIf(5)(event_id % 9, event_type = 'click') AS uu,
       arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
         sumMapIf(map(event_type, event_id % 5),
                  event_id % 3 = 0), 1)), ',') AS smk,
       arrayStringConcat(arrayMap(x -> toString(x), tupleElement(
         sumMapIf(map(event_type, event_id % 5),
                  event_id % 3 = 0), 2)), ',') AS smv
FROM (SELECT user_id % 4 AS g, event_id, event_type, value
      FROM fastnetmon.events)
GROUP BY g
ORDER BY g
"""


def _parametric_if_oracle() -> str:
    return """
    WITH base AS (
      SELECT user_id % 4 AS g, event_id, event_type, value AS v
      FROM events
    ),
    wpts AS (
      SELECT g, v, 1 + event_id % 3 AS wt,
             sum(1 + event_id % 3) OVER (
               PARTITION BY g ORDER BY v, 1 + event_id % 3
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM base WHERE event_id % 2 = 0
    ),
    wtot AS (
      SELECT g, 0.5 * sum(wt) AS t
      FROM wpts GROUP BY g
    ),
    wq AS (
      SELECT p.g, arg_min(p.v, p.cum) FILTER (p.cum >= t.t) AS qw
      FROM wpts p JOIN wtot t USING (g) GROUP BY p.g
    ),
    tkf AS (
      SELECT g, event_id % 7 AS tv, count(*) AS c
      FROM base WHERE event_type != 'click' GROUP BY g, 2
    ),
    tk AS (
      SELECT g,
             array_to_string((list(tv ORDER BY c DESC, tv))[1:3],
                             ',') AS tk
      FROM tkf GROUP BY g
    ),
    smf AS (
      SELECT g, event_type AS mk, sum(event_id % 5) AS mv
      FROM base WHERE event_id % 3 = 0 GROUP BY g, event_type
    ),
    sm AS (
      SELECT g,
             array_to_string(list(mk ORDER BY mk), ',') AS smk,
             array_to_string(list(CAST(mv AS VARCHAR) ORDER BY mk),
                             ',') AS smv
      FROM smf GROUP BY g
    ),
    agg AS (
      SELECT g,
             round(quantile_cont(v, 0.5)
                   FILTER (event_type = 'click'), 4) AS q50,
             CAST(least(count(DISTINCT event_id % 9)
                        FILTER (event_type = 'click'), 6)
                  AS BIGINT) AS uu
      FROM base GROUP BY g
    )
    SELECT a.g, a.q50, round(w.qw, 6) AS qw, t.tk, a.uu,
           s.smk, s.smv
    FROM agg a
    JOIN wq w ON w.g = a.g
    JOIN tk t ON t.g = a.g
    JOIN sm s ON s.g = a.g
    ORDER BY a.g
    """


@query("ch_sql_parametric_if", _parametric_if_oracle())
def ch_sql_parametric_if(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_ch_query(_PARAMETRIC_IF_SQL, _tables(spark, sf_dir, "events"))
