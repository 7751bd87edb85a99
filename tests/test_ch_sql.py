"""ClickHouse-dialect front end: the reference's EXACT generated query
text (main.go:238-279 format) must run and agree with the DataFrame-
native pipeline on the same data."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def host_metrics(spark):
    """Small synthetic host_metrics frame in the reference schema."""
    rows = []
    for i in range(200):
        host = f"10.0.{i % 4}.{i % 250}"
        rows.append((host, 100 + i, 2 * i, 3 * i))
    df = spark.createDataFrame(
        rows, "host string, packets_incoming long, bits_incoming long, flows_incoming long"
    ).withColumn(
        "metricDateTime",
        F.current_timestamp() - F.make_dt_interval(secs=F.lit(3600)),
    ).withColumn("metricDate", F.to_date("metricDateTime"))
    return df.cache()


def reference_query(agg: str, period: int, net_ip: str, n_ips: int) -> str:
    """The exact string main.go:238-279 generates (subset of metrics)."""
    fields = ", ".join(
        f"toInt64({agg}({m}))"
        for m in ("packets_incoming", "bits_incoming", "flows_incoming")
    )
    in_clause = (
        f"(IPv4StringToNum(host) >= IPv4StringToNum('{net_ip}') and "
        f"IPv4StringToNum(host) <= IPv4StringToNum('{net_ip}') + {n_ips})"
    )
    date_condition = (
        f"metricDate >= toDate(now() - {period}) and "
        f"(metricDateTime >= now() - {period})"
    )
    return (
        f"select count(*), {fields} FROM fastnetmon.host_metrics "
        f"WHERE {date_condition} AND {in_clause}"
    )


def test_reference_query_runs_and_matches_native(spark, host_metrics):
    from baseline_magician_spark.functions.ip import ip4_to_long
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    sql = reference_query("avg", 7 * 24 * 3600, "10.0.0.0", 1024)
    out = run_ch_query(sql, {"host_metrics": host_metrics}).collect()
    assert len(out) == 1
    row = out[0]

    native = (
        host_metrics.where(
            (ip4_to_long("host") >= 167772160)
            & (ip4_to_long("host") <= 167772160 + 1024)
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("packets_incoming").cast("long").alias("p"),
            F.avg("bits_incoming").cast("long").alias("b"),
            F.avg("flows_incoming").cast("long").alias("f"),
        )
        .first()
    )
    assert tuple(row) == (native.n, native.p, native.b, native.f)


def test_max_aggregation_and_group_by(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    out = run_ch_query(
        "select metricDate, count(*), toInt64(max(packets_incoming)) "
        "FROM fastnetmon.host_metrics GROUP BY metricDate",
        {"host_metrics": host_metrics},
    ).collect()
    assert len(out) == 1  # all rows share one date
    assert out[0][1] == 200 and out[0][2] == 299


def test_projection_without_aggregates(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    out = run_ch_query(
        "select host, packets_incoming * 2 FROM fastnetmon.host_metrics "
        "WHERE packets_incoming >= 298",
        {"host_metrics": host_metrics},
    ).collect()
    assert sorted(r[1] for r in out) == [596, 598]


def test_time_window_excludes_old_rows(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = (
        spark.createDataFrame([("10.0.0.1", 5)], "host string, packets_incoming long")
        .withColumn(
            "metricDateTime",
            F.current_timestamp() - F.make_dt_interval(days=F.lit(30)),
        )
        .withColumn("metricDate", F.to_date("metricDateTime"))
    )
    sql = reference_query("avg", 7 * 24 * 3600, "10.0.0.0", 1024).replace(
        ", toInt64(avg(bits_incoming)), toInt64(avg(flows_incoming))", ""
    ).replace("toInt64(avg(packets_incoming)), ", "toInt64(avg(packets_incoming))")
    # simpler: count-only query over the window
    sql = (
        "select count(*) FROM fastnetmon.host_metrics WHERE "
        "metricDate >= toDate(now() - 604800) and (metricDateTime >= now() - 604800)"
    )
    out = run_ch_query(sql, {"host_metrics": df}).collect()
    assert out[0][0] == 0


def test_parse_errors(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError, match="unknown function"):
        run_ch_query("select nosuchfn(x) FROM t", {"t": t})
    with pytest.raises(ValueError, match="expected"):
        run_ch_query("select x FROM", {"t": t})


def test_order_by_limit_topk(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT host, max(packets_incoming) AS mx FROM fastnetmon.host_metrics "
        "GROUP BY host ORDER BY mx DESC, host LIMIT 5",
        {"host_metrics": host_metrics},
    )
    rows = df.collect()
    assert len(rows) == 5
    vals = [r["mx"] for r in rows]
    assert vals == sorted(vals, reverse=True)
    # orderBy+limit must fuse into the distributed top-k operator
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_order_by_expression_and_asc(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT host FROM fastnetmon.host_metrics ORDER BY host ASC LIMIT 3",
        {"host_metrics": host_metrics},
    )
    hosts = [r["host"] for r in df.collect()]
    assert hosts == sorted(hosts) and len(hosts) == 3


def test_having_and_conditional_aggregates(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT toString(modulo(packets_incoming, 3)) AS grp, count(*) AS n, "
        "countIf(packets_incoming > 150) AS busy "
        "FROM host_metrics GROUP BY toString(modulo(packets_incoming, 3)) "
        "HAVING count(*) > 66 ORDER BY grp LIMIT 10",
        {"host_metrics": host_metrics},
    )
    rows = df.collect()
    # packets = 100+i, i in 0..199: two residue classes hold 67 rows
    assert len(rows) == 2 and all(r["n"] == 67 for r in rows)
    assert df.columns == ["grp", "n", "busy"]
    assert all(0 < r["busy"] <= r["n"] for r in rows)


def test_having_resolves_select_alias(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT toString(modulo(packets_incoming, 3)) AS grp, count(*) AS n "
        "FROM host_metrics GROUP BY toString(modulo(packets_incoming, 3)) "
        "HAVING n > 66",
        {"host_metrics": host_metrics},
    )
    rows = df.collect()
    assert len(rows) == 2 and all(r["n"] == 67 for r in rows)


def test_literal_arg_functions_from_sql(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT dateDiff('day', toDate('2024-03-01'), toDate('2024-03-15')) AS dd, "
        "extract(host, '10\\.0\\.(\\d+)') AS third_octet "
        "FROM host_metrics LIMIT 1",
        {"host_metrics": host_metrics},
    )
    r = df.collect()[0]
    assert r["dd"] == 14
    assert r["third_octet"] in {"0", "1", "2", "3"}


def test_join_with_aliases_and_broadcast(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 7.0), (3, 20, 1.0)], "id long, k long, v double"
    )
    dim = spark.createDataFrame([(10, "a"), (20, "b")], "k long, name string")
    df = run_ch_query(
        "SELECT d.name AS name, count(*) AS n, toInt64(sum(f.v)) AS s "
        "FROM facts f JOIN dims d ON f.k = d.k "
        "GROUP BY d.name ORDER BY name",
        {"facts": fact, "dims": dim},
    )
    rows = [tuple(r) for r in df.collect()]
    assert rows == [("a", 2, 12), ("b", 1, 1)]
    # the dimension side must broadcast (ClickHouse's right-side-in-RAM
    # join model; run_ch_query docstring)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_left_join_keeps_unmatched(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    fact = spark.createDataFrame([(1, 10), (2, 99)], "id long, k long")
    dim = spark.createDataFrame([(10, "a")], "k long, name string")
    rows = run_ch_query(
        "SELECT f.id AS id, d.name AS name FROM facts f "
        "LEFT JOIN dims d ON f.k = d.k ORDER BY id",
        {"facts": fact, "dims": dim},
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, None)]


def test_in_list_and_not_in(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("x",), ("y",), ("z",)], "name string"
    )
    rows = run_ch_query(
        "SELECT name FROM t WHERE name IN ('x', 'z') ORDER BY name", {"t": t}
    ).collect()
    assert [r["name"] for r in rows] == ["x", "z"]
    rows = run_ch_query(
        "SELECT name FROM t WHERE name NOT IN ('x', 'z')", {"t": t}
    ).collect()
    assert [r["name"] for r in rows] == ["y"]


def test_in_external_table_via_binding(spark):
    from baseline_magician_spark.plans.ch_bind import ExternalTable
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([("x", 1), ("y", 2), ("z", 3)], "name string, v long")
    ext = ExternalTable(
        "allowed", spark.createDataFrame([("x",), ("z",)], "name string")
    )
    rows = run_ch_query(
        "SELECT name, v FROM t WHERE name IN @allowed ORDER BY name",
        {"t": t},
        named={"allowed": ext},
    ).collect()
    assert [tuple(r) for r in rows] == [("x", 1), ("z", 3)]


def test_positional_binding_end_to_end(spark, host_metrics):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    bound = run_ch_query(
        "SELECT count(*) AS n FROM host_metrics WHERE packets_incoming >= ? "
        "AND packets_incoming < @hi",
        {"host_metrics": host_metrics},
        args=(150,),
        named={"hi": 250},
    ).collect()
    literal = run_ch_query(
        "SELECT count(*) AS n FROM host_metrics WHERE packets_incoming >= 150 "
        "AND packets_incoming < 250",
        {"host_metrics": host_metrics},
    ).collect()
    assert bound[0]["n"] == literal[0]["n"] == 100


def test_string_binding_is_escaped(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([("o'brien",), ("smith",)], "name string")
    rows = run_ch_query(
        "SELECT name FROM t WHERE name = ?", {"t": t}, args=("o'brien",)
    ).collect()
    assert [r["name"] for r in rows] == ["o'brien"]


def test_in_subquery(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    fact = spark.createDataFrame(
        [(1, 10, 5.0), (2, 20, 50.0), (3, 30, 7.0)], "id long, k long, v double"
    )
    dim = spark.createDataFrame(
        [(10, "keep"), (20, "drop"), (30, "keep")], "k long, tag string"
    )
    rows = run_ch_query(
        "SELECT id FROM facts WHERE k IN "
        "(SELECT k FROM dims WHERE tag = 'keep') ORDER BY id",
        {"facts": fact, "dims": dim},
    ).collect()
    assert [r["id"] for r in rows] == [1, 3]
    rows = run_ch_query(
        "SELECT id FROM facts WHERE k NOT IN "
        "(SELECT k FROM dims WHERE tag = 'keep')",
        {"facts": fact, "dims": dim},
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_scalar_subquery(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 7.0)], "id long, v double"
    )
    rows = run_ch_query(
        "SELECT id, v FROM t WHERE v > (SELECT avg(v) FROM t)", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_scalar_subquery_multi_row_errors(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 5.0), (2, 50.0)], "id long, v double")
    with pytest.raises(ValueError, match="more than one row"):
        run_ch_query(
            "SELECT id FROM t WHERE v > (SELECT v FROM t)", {"t": t}
        ).collect()


def test_duplicate_qualified_names_disambiguated(spark):
    """SELECT a.x, b.x over a join must not emit two columns both
    named x — the second derives its qualifier (b_x)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    a = spark.createDataFrame([(1, "left")], "id long, x string")
    b = spark.createDataFrame([(1, "right")], "id long, x string")
    out = run_ch_query(
        "SELECT a.x, b.x FROM a JOIN b ON a.id = b.id",
        {"a": a, "b": b},
    )
    assert out.columns == ["x", "b_x"]
    row = out.collect()[0]
    assert (row["x"], row["b_x"]) == ("left", "right")


def test_duplicate_call_names_fall_back_to_position(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(2.0,), (8.0,)], "v double")
    out = run_ch_query("SELECT max(v), max(v) FROM t", {"t": t})
    assert out.columns == ["max_v", "c1"]
    row = out.collect()[0]
    assert (row["max_v"], row["c1"]) == (8.0, 8.0)


def test_order_by_scalar_subquery_collects_once(spark, monkeypatch):
    """An ORDER BY expression that is not a select item recompiles its
    node tree; the memo must stop the scalar subquery from being
    re-collect()ed (round-2 advice)."""
    from baseline_magician_spark.plans import ch_sql

    calls = {"n": 0}
    orig = ch_sql._compile

    def counting(node, env=None):
        if node.kind == "scalar_subq" and node.memo is None:
            calls["n"] += 1
        return orig(node, env)

    monkeypatch.setattr(ch_sql, "_compile", counting)
    t = spark.createDataFrame(
        [(1, 5.0), (2, 50.0), (3, 7.0)], "id long, v double"
    )
    rows = ch_sql.run_ch_query(
        "SELECT id FROM t WHERE v > (SELECT min(v) FROM t) "
        "ORDER BY v - (SELECT min(v) FROM t) DESC",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [2, 3]
    # two distinct subquery nodes, each materialized exactly once
    assert calls["n"] == 2


def test_in_subquery_set_capped(spark, monkeypatch):
    from baseline_magician_spark.plans import ch_sql

    monkeypatch.setattr(ch_sql, "MAX_ROWS_IN_SET", 2)
    t = spark.createDataFrame([(i,) for i in range(5)], "k long")
    with pytest.raises(ValueError, match="max_rows_in_set"):
        ch_sql.run_ch_query(
            "SELECT k FROM t WHERE k IN (SELECT k FROM t)", {"t": t}
        ).collect()


def test_with_totals_appends_null_keyed_total(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "g string, v double"
    )
    rows = run_ch_query(
        "SELECT g, count(*) AS n, sum(v) AS s FROM t GROUP BY g WITH TOTALS",
        {"t": t},
    ).collect()
    by_key = {r["g"]: r for r in rows}
    assert set(by_key) == {"a", "b", None}
    assert (by_key["a"]["n"], by_key["a"]["s"]) == (2, 3.0)
    assert (by_key[None]["n"], by_key[None]["s"]) == (3, 13.0)


def test_with_totals_ignores_having(spark):
    """CH default totals_mode=before_having: the totals row aggregates
    ALL rows even when HAVING removes groups from the detail."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "g string, v double"
    )
    rows = run_ch_query(
        "SELECT g, sum(v) AS s FROM t GROUP BY g WITH TOTALS "
        "HAVING sum(v) < 5",
        {"t": t},
    ).collect()
    by_key = {r["g"]: r["s"] for r in rows}
    assert by_key == {"a": 3.0, None: 13.0}


def test_extremes_result_min_max_rows(spark):
    from baseline_magician_spark.plans.ch_sql import extremes_result

    t = spark.createDataFrame(
        [("x", 5, 1.5), ("y", 2, 9.0), ("z", 8, -1.0)],
        "tag string, k long, v double",
    )
    rows = extremes_result(t).collect()
    assert [r["extreme"] for r in rows] == ["min", "max"]
    mn, mx = rows
    assert (mn["k"], mn["v"], mn["tag"]) == (2, -1.0, None)
    assert (mx["k"], mx["v"], mx["tag"]) == (8, 9.0, None)


def test_bound_scientific_float_parses(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 0.5), (2, 1e-7)], "id long, v double")
    rows = run_ch_query(
        "SELECT id FROM t WHERE v < ?", {"t": t}, args=(1e-05,)
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_limit_offset_forms(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(i,) for i in range(10)], "id long")
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY id LIMIT 3 OFFSET 4", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [4, 5, 6]
    # ClickHouse's LIMIT offset, count spelling
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY id LIMIT 4, 3", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [4, 5, 6]
    # bound placeholders in both positions
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY id LIMIT ? OFFSET ?",
        {"t": t},
        args=(2, 8),
    ).collect()
    assert [r["id"] for r in rows] == [8, 9]


def test_repetition_stats_handles_empty_docs(spark):
    from baseline_magician_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b a"), (2, ""), (3, "   "), (4, "x")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", *repetition_stats("text")).collect()
    }
    assert rows[1]["n_tokens"] == 3 and rows[1]["bigram_repetition"] == 0.0
    assert rows[2]["n_tokens"] == 0
    assert rows[3]["n_tokens"] == 0
    assert rows[4]["bigram_repetition"] == 0.0


def test_with_cte_chain(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 7.0), (3, "b", 1.0)], "id long, g string, v double"
    )
    rows = run_ch_query(
        "WITH sums AS (SELECT g, sum(v) AS s FROM t GROUP BY g), "
        "big AS (SELECT g, s FROM sums WHERE s > 2) "
        "SELECT t.id AS id FROM t JOIN big ON t.g = big.g ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]


def test_limit_by_per_key_topn(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 7.0), (3, "a", 6.0),
         (4, "b", 1.0), (5, "b", 3.0)],
        "id long, g string, v double",
    )
    rows = run_ch_query(
        "SELECT g, id, v FROM t ORDER BY v DESC, id LIMIT 2 BY g",
        {"t": t},
    ).collect()
    got = {(r["g"], r["id"]) for r in rows}
    assert got == {("a", 2), ("a", 3), ("b", 5), ("b", 4)}


def test_limit_by_with_offset_and_trailing_limit(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 7.0), (3, "a", 6.0),
         (4, "b", 1.0), (5, "b", 3.0)],
        "id long, g string, v double",
    )
    # LIMIT 1, 1 BY g -> skip the per-key best, keep the next one;
    # trailing LIMIT 1 then keeps the global best of those
    rows = run_ch_query(
        "SELECT g, id, v FROM t ORDER BY v DESC, id "
        "LIMIT 1, 1 BY g LIMIT 1",
        {"t": t},
    ).collect()
    assert [(r["g"], r["id"]) for r in rows] == [("a", 3)]


def test_limit_by_requires_order_by(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(
        ValueError, match="LIMIT BY / DISTINCT ON requires ORDER BY"
    ):
        run_ch_query("SELECT g, id FROM t LIMIT 2 BY g", {"t": t})


def test_union_all_positional(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", 7.0)], "id long, g string, v double"
    )
    rows = run_ch_query(
        "SELECT g, count(*) AS n FROM t GROUP BY g "
        "UNION ALL SELECT 'total', count(*) FROM t",
        {"t": t},
    ).collect()
    got = {(r["g"], r["n"]) for r in rows}
    assert got == {("a", 1), ("b", 1), ("total", 2)}


def test_union_distinct_dedupes(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    rows = run_ch_query(
        "SELECT g FROM t UNION DISTINCT SELECT g FROM t",
        {"t": t},
    ).collect()
    assert [r["g"] for r in rows] == ["a"]


def test_union_arity_mismatch_errors(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(ValueError, match="UNION branches"):
        run_ch_query(
            "SELECT g FROM t UNION ALL SELECT g, id FROM t", {"t": t}
        )


def test_bare_union_errors(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(ValueError, match="UNION requires ALL or DISTINCT"):
        run_ch_query("SELECT g FROM t UNION SELECT g FROM t", {"t": t})


def test_pii_counts_and_redaction(spark):
    from baseline_magician_spark.operators.text import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "call 555-0199 or 555-0200 at 10.1.2.3"),
            (3, "id 123-45-6789 plain text"),
            (4, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *pii_counts("text"), redact_pii("text").alias("red")
        ).collect()
    }
    assert rows[1]["n_email"] == 1 and "[EMAIL]" in rows[1]["red"]
    assert rows[2]["n_phone"] == 2 and rows[2]["n_ip"] == 1
    assert rows[2]["red"].count("[PHONE]") == 2 and "[IP]" in rows[2]["red"]
    assert rows[3]["n_id_number"] == 1 and "[ID_NUMBER]" in rows[3]["red"]
    assert rows[4]["red"] == "no pii here"
    assert all(
        rows[4][f"n_{k}"] == 0 for k in ("email", "ip", "id_number", "phone")
    )


def test_array_join_bare_column_replaces(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    a = spark.createDataFrame(
        [(1, ["x", "y"]), (2, [])], "id long, arr array<string>"
    )
    rows = run_ch_query(
        "SELECT id, arr FROM a ARRAY JOIN arr ORDER BY id, arr", {"a": a}
    ).collect()
    # bare form: empty-array row dropped, column replaced by elements
    assert [(r["id"], r["arr"]) for r in rows] == [(1, "x"), (1, "y")]


def test_left_array_join_keeps_empty_as_null(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    a = spark.createDataFrame(
        [(1, ["x"]), (2, [])], "id long, arr array<string>"
    )
    rows = run_ch_query(
        "SELECT id, v FROM a LEFT ARRAY JOIN arr AS v ORDER BY id", {"a": a}
    ).collect()
    assert [(r["id"], r["v"]) for r in rows] == [(1, "x"), (2, None)]


def test_array_join_expression_requires_as(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a b")], "id long, g string")
    with pytest.raises(ValueError, match="requires AS"):
        run_ch_query(
            "SELECT id FROM t ARRAY JOIN splitByChar(' ', g)", {"t": t}
        )


def test_select_distinct_dedupes_select_list(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, g string"
    )
    rows = run_ch_query(
        "SELECT DISTINCT g FROM t ORDER BY g", {"t": t}
    ).collect()
    assert [r["g"] for r in rows] == ["a", "b"]


def test_prewhere_conjoins_with_where(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id long, g string"
    )
    rows = run_ch_query(
        "SELECT id FROM t PREWHERE id > 1 WHERE g = 'a' ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_prewhere_filters_base_before_outer_join(spark):
    """CH evaluates PREWHERE on the storage table BEFORE joins: a right
    join's unmatched rows must survive a PREWHERE on the left table."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    a = spark.createDataFrame([(1, 10), (2, 0)], "k long, x long")
    b = spark.createDataFrame([(1, "p"), (3, "q")], "k long, tag string")
    rows = run_ch_query(
        "SELECT b.k AS k, b.tag AS tag FROM a RIGHT JOIN b ON a.k = b.k "
        "PREWHERE a.x > 0 ORDER BY k",
        {"a": a, "b": b},
    ).collect()
    # a is pre-filtered to k=1; b's unmatched k=3 row survives the join
    assert [(r["k"], r["tag"]) for r in rows] == [(1, "p"), (3, "q")]


def test_prewhere_sees_array_before_array_join_replacement(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    a = spark.createDataFrame(
        [(1, ["x", "y", "z"]), (2, ["w"])], "id long, arr array<string>"
    )
    rows = run_ch_query(
        "SELECT id, arr FROM a ARRAY JOIN arr PREWHERE has(arr, 'x') "
        "ORDER BY id, arr",
        {"a": a},
    ).collect()
    # PREWHERE tested the ARRAY (has(arr,'x')) — after the bare ARRAY
    # JOIN replacement arr is a string and has() would not even resolve
    assert [(r["id"], r["arr"]) for r in rows] == [
        (1, "x"), (1, "y"), (1, "z"),
    ]


def test_intersect_except_defaults_to_all(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "id long, g string"
    )
    u = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    # CH INTERSECT/EXCEPT without modifier are ALL-semantics
    inter = run_ch_query(
        "SELECT id, g FROM t INTERSECT SELECT id, g FROM u", {"t": t, "u": u}
    ).collect()
    assert sorted(r["id"] for r in inter) == [1, 2]
    exc = run_ch_query(
        "SELECT id, g FROM t EXCEPT SELECT id, g FROM u", {"t": t, "u": u}
    ).collect()
    assert [r["id"] for r in exc] == [1]  # one of the duplicate 1s survives


def test_intersect_binds_tighter_than_union(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (4,)], "id long")
    u = spark.createDataFrame([(2,), (3,)], "id long")
    rows = run_ch_query(
        "SELECT id FROM t UNION ALL SELECT id FROM u "
        "INTERSECT SELECT id FROM u",
        {"t": t, "u": u},
    ).collect()
    # u INTERSECT u = u, then t UNION ALL u — not (t UNION u) INTERSECT u
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4]


def test_global_modifiers_are_noop(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    u = spark.createDataFrame([(1, "x")], "id long, tag string")
    rows = run_ch_query(
        "SELECT t.id AS id FROM t GLOBAL JOIN u ON t.id = u.id "
        "WHERE t.g GLOBAL IN ('a', 'b') AND t.g GLOBAL NOT IN ('zzz')",
        {"t": t, "u": u},
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_trailing_settings_and_format(spark):
    from baseline_magician_spark.plans import ch_sql
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,)], "id long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    rows = run_ch_query(
        "SELECT count(*) AS n FROM t "
        "SETTINGS max_threads = 4, totals_mode = 'before_having' "
        "FORMAT JSONEachRow",
        {"t": t},
    ).collect()
    assert rows[0]["n"] == 2
    # SETTINGS is query-scoped in CH: recorded + validated, NOT applied
    # to the session (which would leak into every later plan)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert ch_sql.LAST_QUERY_SETTINGS == {
        "max_threads": "4", "totals_mode": "before_having",
    }


def test_select_star_expands(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a", 2.0)], "id long, g string, v double")
    df = run_ch_query("SELECT * FROM t", {"t": t})
    assert df.columns == ["id", "g", "v"]
    assert df.collect() == [(1, "a", 2.0)]
    # mixed with expressions, order preserved
    df2 = run_ch_query("SELECT id * 2 AS d, * FROM t", {"t": t})
    assert df2.columns == ["d", "id", "g", "v"]


def test_select_qualified_star_from_join(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    u = spark.createDataFrame([(1, "x")], "id long, tag string")
    df = run_ch_query(
        "SELECT u.*, t.g AS g FROM t JOIN u ON t.id = u.id", {"t": t, "u": u}
    )
    assert df.columns == ["id", "tag", "g"]
    assert df.collect() == [(1, "x", "a")]


def test_count_star_still_aggregates(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,)], "id long")
    assert run_ch_query("SELECT count(*) AS n FROM t", {"t": t}).collect()[0][
        "n"
    ] == 2


def test_between_like_isnull(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "click", 5.0), (2, "clack", 15.0), (3, None, 25.0)],
        "id long, g string, v double",
    )
    rows = run_ch_query(
        "SELECT id FROM t WHERE v BETWEEN 4 AND 16 ORDER BY id", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]
    rows = run_ch_query(
        "SELECT id FROM t WHERE g LIKE 'cl%ck' ORDER BY id", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]
    rows = run_ch_query(
        "SELECT id FROM t WHERE g NOT LIKE '%ick' ORDER BY id", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [2]  # NULL g drops (SQL ternary)
    rows = run_ch_query(
        "SELECT id FROM t WHERE g IS NULL", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [3]
    rows = run_ch_query(
        "SELECT id FROM t WHERE g IS NOT NULL AND v BETWEEN 0 AND 10",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_case_when_searched_and_valued(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 10), (2, 11), (3, 24)], "id long, u long")
    rows = run_ch_query(
        "SELECT id, CASE WHEN u % 2 = 0 THEN 'even' ELSE 'odd' END AS par "
        "FROM t ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["par"] for r in rows] == ["even", "odd", "even"]
    # valued form + CASE as a group key; missing ELSE -> NULL
    rows = run_ch_query(
        "SELECT CASE u % 2 WHEN 0 THEN 'even' END AS par, count(*) AS n "
        "FROM t GROUP BY CASE u % 2 WHEN 0 THEN 'even' END ORDER BY n",
        {"t": t},
    ).collect()
    assert {(r["par"], r["n"]) for r in rows} == {("even", 2), (None, 1)}


def test_bare_star_over_join_qualifies(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    u = spark.createDataFrame([(1, "x")], "id long, tag string")
    df = run_ch_query(
        "SELECT * FROM t JOIN u ON t.id = u.id", {"t": t, "u": u}
    )
    # shared join key expands relation-by-relation; the duplicate gets
    # its qualifier-derived name
    assert df.columns == ["id", "g", "u_id", "tag"]
    assert df.collect() == [(1, "a", 1, "x")]


def test_not_between(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (5,), (9,)], "id long")
    rows = run_ch_query(
        "SELECT id FROM t WHERE id NOT BETWEEN 2 AND 8 ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1, 9]


def test_like_null_matches_nothing(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "None"), (2, "x")], "id long, g string")
    rows = run_ch_query(
        "SELECT id FROM t WHERE g LIKE NULL", {"t": t}
    ).collect()
    assert rows == []


def test_global_all_join_ok(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    u = spark.createDataFrame([(1, "x")], "id long, tag string")
    rows = run_ch_query(
        "SELECT t.id AS id FROM t GLOBAL ALL JOIN u ON t.id = u.id",
        {"t": t, "u": u},
    ).collect()
    assert [r["id"] for r in rows] == [1]


def test_any_join_keeps_one_deterministic_match(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    u = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], "id long, tag string"
    )
    # both CH spellings; at most one right match per left row, chosen
    # deterministically (first by right column order: id, then tag)
    for spelling in ("ANY LEFT JOIN", "LEFT ANY JOIN", "GLOBAL ANY LEFT JOIN"):
        rows = run_ch_query(
            f"SELECT t.id AS id, u.tag AS tag FROM t {spelling} u "
            "ON t.id = u.id ORDER BY id",
            {"t": t, "u": u},
        ).collect()
        assert [(r.id, r.tag) for r in rows] == [
            (1, "a"), (2, "z"), (3, None),
        ], spelling
    # inner ANY drops the unmatched left row
    rows = run_ch_query(
        "SELECT t.id AS id FROM t ANY JOIN u ON t.id = u.id ORDER BY id",
        {"t": t, "u": u},
    ).collect()
    assert [r.id for r in rows] == [1, 2]
    with pytest.raises(ValueError, match="INNER and LEFT"):
        run_ch_query(
            "SELECT t.id FROM t ANY FULL JOIN u ON t.id = u.id",
            {"t": t, "u": u},
        )
    with pytest.raises(ValueError, match="key-equality"):
        run_ch_query(
            "SELECT t.id FROM t ANY JOIN u ON t.id >= u.id",
            {"t": t, "u": u},
        )


def test_window_functions_and_derived_tables(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 7.0), (3, "a", 6.0),
         (4, "b", 1.0), (5, "b", 3.0)],
        "id long, g string, v double",
    )
    rows = run_ch_query(
        "SELECT g, id FROM (SELECT g, id, row_number() OVER ("
        "PARTITION BY g ORDER BY v DESC, id) AS rn FROM t) "
        "WHERE rn = 1 ORDER BY g",
        {"t": t},
    ).collect()
    assert [(r["g"], r["id"]) for r in rows] == [("a", 2), ("b", 5)]
    # windowed aggregate + offset function
    rows = run_ch_query(
        "SELECT id, sum(v) OVER (PARTITION BY g) AS gv, "
        "lag(v, 1) OVER (ORDER BY id) AS pv FROM t ORDER BY id",
        {"t": t},
    ).collect()
    assert rows[0]["gv"] == 18.0 and rows[0]["pv"] is None
    assert rows[1]["pv"] == 5.0
    # running sum (default frame: unbounded preceding .. current row)
    rows = run_ch_query(
        "SELECT id, sum(v) OVER (ORDER BY id) AS rv FROM t ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["rv"] for r in rows] == [5.0, 12.0, 18.0, 19.0, 22.0]
    # derived table as a JOIN side
    rows = run_ch_query(
        "SELECT a.g AS g, b.mx AS mx FROM t a JOIN "
        "(SELECT g, max(v) AS mx FROM t GROUP BY g) b ON a.g = b.g "
        "WHERE a.id = 4",
        {"t": t},
    ).collect()
    assert [(r["g"], r["mx"]) for r in rows] == [("b", 3.0)]


def test_order_by_null_placement_matches_ch(spark):
    """CH (and DuckDB) default to NULLS LAST in both directions; Spark's
    bare asc() is nulls-first — the compiled sort must use the CH
    default, with explicit NULLS FIRST/LAST honored."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, g string"
    )
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY g LIMIT 2", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [1, 3]  # NULL g sorts last
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY g DESC LIMIT 2", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [3, 1]
    rows = run_ch_query(
        "SELECT id FROM t ORDER BY g NULLS FIRST LIMIT 1", {"t": t}
    ).collect()
    assert [r["id"] for r in rows] == [2]


def test_lag_negative_literal_default(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 5.0), (2, 7.0)], "id long, v double")
    rows = run_ch_query(
        "SELECT id, lag(v, 1, -1) OVER (ORDER BY id) AS pv FROM t "
        "ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["pv"] for r in rows] == [-1.0, 5.0]
    with pytest.raises(ValueError, match="literal argument"):
        run_ch_query(
            "SELECT lag(v, 1, v + 1) OVER (ORDER BY id) AS x FROM t",
            {"t": t},
        )


def test_nulls_placement_typo_rejected(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a")], "id long, g string")
    with pytest.raises(ValueError, match="FIRST or LAST"):
        run_ch_query("SELECT id FROM t ORDER BY g NULLS FRIST", {"t": t})


def test_uncorrelated_exists(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    rows = run_ch_query(
        "SELECT id FROM t WHERE EXISTS (SELECT id FROM t WHERE g = 'a') "
        "ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]
    rows = run_ch_query(
        "SELECT id FROM t WHERE NOT EXISTS "
        "(SELECT id FROM t WHERE g = 'zzz') ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1, 2]
    rows = run_ch_query(
        "SELECT id FROM t WHERE EXISTS (SELECT id FROM t WHERE g = 'zzz')",
        {"t": t},
    ).collect()
    assert rows == []


# ---------------------------------------------------------------------------
# round-3 session additions: ASOF JOIN, JOIN USING, ROLLUP/CUBE,
# parametric quantiles, SAMPLE, WITH FILL


@pytest.fixture(scope="module")
def trades_quotes(spark):
    trades = spark.createDataFrame(
        [("A", 3, 100), ("A", 7, 101), ("B", 5, 102), ("C", 1, 103)],
        "sym string, t long, trade_id long",
    )
    quotes = spark.createDataFrame(
        [("A", 1, 10.0), ("A", 3, 11.0), ("A", 6, 12.0),
         ("B", 2, 20.0), ("B", 9, 21.0)],
        "sym string, t long, px double",
    )
    return trades, quotes


def test_asof_join_latest_at_or_before(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    out = run_ch_query(
        "select tr.trade_id as trade_id, q.px as px from trades tr "
        "asof join quotes q on tr.sym = q.sym and tr.t >= q.t "
        "order by trade_id",
        {"trades": trades, "quotes": quotes},
    ).collect()
    # A@3 -> quote A@3 (>= includes the tie); A@7 -> A@6; B@5 -> B@2;
    # C@1 has no quote -> dropped (inner)
    assert [(r.trade_id, r.px) for r in out] == [
        (100, 11.0), (101, 12.0), (102, 20.0),
    ]


def test_asof_left_join_keeps_unmatched(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    # both CH spellings accepted: ASOF LEFT JOIN and LEFT ASOF JOIN
    for spelling in ("asof left join", "left asof join"):
        out = run_ch_query(
            f"select tr.trade_id as trade_id, q.px as px from trades tr "
            f"{spelling} quotes q on tr.sym = q.sym and tr.t >= q.t "
            "order by trade_id",
            {"trades": trades, "quotes": quotes},
        ).collect()
        assert [(r.trade_id, r.px) for r in out] == [
            (100, 11.0), (101, 12.0), (102, 20.0), (103, None),
        ]


def test_asof_join_strict_excludes_tie(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    out = run_ch_query(
        "select tr.trade_id as trade_id, q.px as px from trades tr "
        "asof join quotes q on tr.sym = q.sym and tr.t > q.t "
        "order by trade_id",
        {"trades": trades, "quotes": quotes},
    ).collect()
    # strict >: A@3 now matches A@1, not the tied A@3
    assert [(r.trade_id, r.px) for r in out] == [
        (100, 10.0), (101, 12.0), (102, 20.0),
    ]


def test_asof_join_reverse_direction(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    out = run_ch_query(
        "select tr.trade_id as trade_id, q.px as px from trades tr "
        "asof join quotes q on tr.sym = q.sym and tr.t <= q.t "
        "order by trade_id",
        {"trades": trades, "quotes": quotes},
    ).collect()
    # earliest at-or-after: A@3 -> A@3, A@7 -> none, B@5 -> B@9, C -> none
    assert [(r.trade_id, r.px) for r in out] == [
        (100, 11.0), (102, 21.0),
    ]


def test_asof_join_flipped_operands(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    # inequality written right-side-first must normalize identically
    out = run_ch_query(
        "select tr.trade_id as trade_id, q.px as px from trades tr "
        "asof join quotes q on tr.sym = q.sym and q.t <= tr.t "
        "order by trade_id",
        {"trades": trades, "quotes": quotes},
    ).collect()
    assert [(r.trade_id, r.px) for r in out] == [
        (100, 11.0), (101, 12.0), (102, 20.0),
    ]


def test_asof_join_rejects_bad_shapes(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    tabs = {"trades": trades, "quotes": quotes}
    with pytest.raises(ValueError, match="USING form not supported"):
        run_ch_query(
            "select tr.trade_id from trades tr asof join quotes q "
            "using (sym, t)", tabs,
        )
    with pytest.raises(ValueError, match="exactly one inequality"):
        run_ch_query(
            "select tr.trade_id from trades tr asof join quotes q "
            "on tr.sym = q.sym and tr.t >= q.t and tr.t > q.t", tabs,
        )
    with pytest.raises(ValueError, match="only inner and LEFT"):
        run_ch_query(
            "select tr.trade_id from trades tr asof full join quotes q "
            "on tr.sym = q.sym and tr.t >= q.t", tabs,
        )


def test_join_using_dedups_key(spark, trades_quotes):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    trades, quotes = trades_quotes
    out = run_ch_query(
        "select sym, count(*) as n from trades join quotes using (sym) "
        "group by sym order by sym",
        {"trades": trades, "quotes": quotes},
    )
    # key appears ONCE (no ambiguity), counts are the per-key products
    assert out.columns == ["sym", "n"]
    assert [(r.sym, r.n) for r in out.collect()] == [("A", 6), ("B", 2)]


def test_group_by_with_rollup_and_cube(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)],
        "a string, b string, v int",
    )
    roll = run_ch_query(
        "select a, b, sum(v) as s from t group by a, b with rollup "
        "order by a, b",
        {"t": df},
    ).collect()
    # 3 detail + 2 per-a subtotals + 1 grand total
    assert len(roll) == 6
    assert [(r.a, r.b, r.s) for r in roll] == [
        ("x", "p", 1), ("x", "q", 2), ("x", None, 3),
        ("y", "p", 4), ("y", None, 4), (None, None, 7),
    ]
    cube = run_ch_query(
        "select a, b, sum(v) as s from t group by a, b with cube "
        "order by a, b",
        {"t": df},
    ).collect()
    # rollup rows + per-b subtotals
    assert len(cube) == 8
    assert (None, "p", 5) in {(r.a, r.b, r.s) for r in cube}


def test_rollup_having_filters_all_rows(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [("x", 1), ("x", 2), ("y", 4)], "a string, v int"
    )
    out = run_ch_query(
        "select a, sum(v) as s from t group by a with rollup "
        "having sum(v) > 3 order by a",
        {"t": df},
    ).collect()
    # ANSI: super-aggregate rows pass through HAVING like detail rows
    assert [(r.a, r.s) for r in out] == [("y", 4), (None, 7)]


def test_parametric_quantiles_array_form(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame([(float(i),) for i in range(101)], "v double")
    row = run_ch_query(
        "select quantileExact(0.5)(v) as med, "
        "quantilesExact(0.25, 0.75)(v) as iqr from t",
        {"t": df},
    ).collect()[0]
    assert row.med == 50.0
    assert list(row.iqr) == [25.0, 75.0]


def test_sample_deterministic_under_repartition(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame([(i,) for i in range(2000)], "k long")
    a = run_ch_query("select count(*) as n from t sample 0.5", {"t": df})
    b = run_ch_query(
        "select count(*) as n from t sample 0.5",
        {"t": df.repartition(13)},
    )
    na, nb = a.collect()[0].n, b.collect()[0].n
    assert na == nb                      # membership is hash-pure
    assert 800 < na < 1200               # and roughly the fraction
    with pytest.raises(ValueError, match="fraction"):
        run_ch_query("select count(*) from t sample 5", {"t": df})


def test_with_fill_defaults_to_data_bounds(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(2, 10), (5, 20), (7, 30)], "k int, v int"
    )
    out = run_ch_query(
        "select k, sum(v) as s from t group by k order by k with fill",
        {"t": df},
    ).collect()
    assert [r.k for r in out] == [2, 3, 4, 5, 6, 7]
    assert [r.s for r in out] == [10, None, None, 20, None, 30]


def test_with_fill_step_and_forward_interpolate(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(0, 10), (6, 20)], "k int, v int"
    )
    out = run_ch_query(
        "select k, sum(v) as s from t group by k "
        "order by k with fill from 0 to 9 step 2 interpolate (s)",
        {"t": df},
    ).collect()
    # spine 0,2,4,6,8 + the real row at 6; bare INTERPOLATE carries the
    # previous value forward into gap rows
    assert [(r.k, r.s) for r in out] == [
        (0, 10), (2, 10), (4, 10), (6, 20), (8, 20),
    ]


def test_with_fill_keeps_out_of_range_rows(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame([(1, 5), (20, 9)], "k int, v int")
    out = run_ch_query(
        "select k, sum(v) as s from t group by k "
        "order by k with fill from 1 to 4 interpolate (s as 0)",
        {"t": df},
    ).collect()
    # 20 is outside [1, 4) but survives, like CH
    assert [(r.k, r.s) for r in out] == [
        (1, 5), (2, 0), (3, 0), (20, 9),
    ]


def test_reserved_words_not_eaten_as_alias(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame([(1,)], "k long")
    # SAMPLE / WITH after a table ref must not parse as its alias
    assert run_ch_query(
        "select count(*) as n from t sample 0.999", {"t": df}
    ).collect()[0].n in (0, 1)


def test_grouping_sets_explicit(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [("x", "p", 1), ("x", "q", 2), ("y", "p", 4)],
        "a string, b string, v int",
    )
    out = run_ch_query(
        "select a, b, sum(v) as s from t "
        "group by grouping sets ((a, b), (a), ()) order by a, b",
        {"t": df},
    ).collect()
    assert [(r.a, r.b, r.s) for r in out] == [
        ("x", "p", 1), ("x", "q", 2), ("x", None, 3),
        ("y", "p", 4), ("y", None, 4), (None, None, 7),
    ]
    # bare-expr sets: GROUPING SETS (a, b) == ((a), (b))
    out = run_ch_query(
        "select a, b, sum(v) as s from t "
        "group by grouping sets (a, b) order by a, b",
        {"t": df},
    ).collect()
    assert [(r.a, r.b, r.s) for r in out] == [
        ("x", None, 3), ("y", None, 4),
        (None, "p", 5), (None, "q", 2),
    ]
    # duplicate sets duplicate rows (ANSI), () alone = global agg,
    # and () over EMPTY input still yields its one row
    assert len(run_ch_query(
        "select a, sum(v) as s from t group by grouping sets ((a), (a))",
        {"t": df},
    ).collect()) == 4
    only_total = run_ch_query(
        "select sum(v) as s from t where v > 100 "
        "group by grouping sets (())",
        {"t": df},
    ).collect()
    assert [(r.s,) for r in only_total] == [(None,)]


def test_window_frames(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)],
        "g string, i int, v double",
    )
    out = run_ch_query(
        "select i, sum(v) over (partition by g order by i "
        "rows between 2 preceding and current row) as s "
        "from t order by i",
        {"t": df},
    ).collect()
    assert [(r.i, r.s) for r in out] == [
        (0, 0.0), (1, 1.0), (2, 3.0), (3, 6.0), (4, 9.0),
    ]
    # single-bound shorthand: `ROWS 1 PRECEDING` = 1 PRECEDING..CURRENT
    out = run_ch_query(
        "select i, sum(v) over (order by i rows 1 preceding) as s "
        "from t order by i",
        {"t": df},
    ).collect()
    assert [r.s for r in out] == [0.0, 1.0, 3.0, 5.0, 7.0]
    with pytest.raises(ValueError, match="requires ORDER BY"):
        run_ch_query(
            "select sum(v) over (partition by g rows between 1 "
            "preceding and current row) as s from t",
            {"t": df},
        )


def test_scalar_with_aliases(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "id long, v double"
    )
    # classic CH scalar WITH: the alias substitutes everywhere,
    # including WHERE, and mixes with an ANSI CTE in one list
    out = run_ch_query(
        "with 2.5 as factor, "
        "big as (select id, v from t where v >= 20) "
        "select id, v * factor as scaled from big "
        "where v * factor > 55 order by id",
        {"t": df},
    ).collect()
    assert [(r.id, r.scaled) for r in out] == [(3, 75.0)]
    # an expression alias (not just a literal), reused twice
    out = run_ch_query(
        "with max(v) as vmax select vmax as a, vmax + 1 as b from t",
        {"t": df},
    ).collect()
    assert [(r.a, r.b) for r in out] == [(30.0, 31.0)]


def test_array_lambdas(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [10, 20]), (3, [])],
        "id long, a array<int>",
    )
    out = run_ch_query(
        "select id, arrayMap(x -> x * 2, a) as m, "
        "arrayFilter(x -> x % 2 = 0, a) as f, "
        "arrayCount(x -> x > 1, a) as c, "
        "arraySum(x -> x * x, a) as s, "
        "arrayFirstIndex(x -> x = 20, a) as i "
        "from t order by id",
        {"t": df},
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, [2, 4, 6, 8], [2, 4], 3, 30.0, 0),
        (2, [20, 40], [10, 20], 2, 500.0, 2),
        (3, [], [], 0, 0.0, 0),
    ]
    # two-array zip form and nested lambdas (outer var captured inside)
    out = run_ch_query(
        "select id, arrayMap((x, y) -> x + y, a, a) as z, "
        "arrayMap(x -> arraySum(y -> x * y, a), a) as n "
        "from t where id = 1",
        {"t": df},
    ).collect()[0]
    assert list(out.z) == [2, 4, 6, 8]
    assert list(out.n) == [10.0, 20.0, 30.0, 40.0]
    with pytest.raises(ValueError, match="does not take a lambda"):
        run_ch_query("select arrayMin(x -> x, a) from t", {"t": df})
    with pytest.raises(ValueError, match="1 or 2 parameters"):
        run_ch_query(
            "select arrayMap((x, y, z) -> x, a, a, a) from t", {"t": df}
        )


def test_star_modifiers_and_fromless_select(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, 2.0, "x"), (3, 4.0, "y")], "a long, b double, c string"
    )
    out = run_ch_query("select * except (c) from t order by a", {"t": df})
    assert out.columns == ["a", "b"]
    out = run_ch_query(
        "select * replace (a * 10 as a) from t order by a", {"t": df}
    )
    assert out.columns == ["a", "b", "c"]
    assert [r.a for r in out.collect()] == [10, 30]
    out = run_ch_query("select * except (c) apply (max) from t", {"t": df})
    assert out.columns == ["max_a", "max_b"]
    assert [tuple(r) for r in out.collect()] == [(3, 4.0)]
    # qualified star takes modifiers too; set-op EXCEPT is unaffected
    assert run_ch_query(
        "select t.* except (b, c) from t order by a", {"t": df}
    ).columns == ["a"]
    assert [tuple(r) for r in run_ch_query(
        "select a from t except select 7", {"t": df}
    ).collect()] == [(1,), (3,)]
    # FROM-less SELECT: the implicit one-row relation
    assert [tuple(r) for r in run_ch_query(
        "select 1 + 2 as s, upper('hi') as u", {"t": df}
    ).collect()] == [(3, "HI")]
    assert [tuple(r) for r in run_ch_query(
        "with 5 as k select k * k as sq", {}
    ).collect()] == [(25,)]


def test_tuple_literals_and_tuple_in(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "x long, y string"
    )
    cases = [
        ("select count(*) as n from t where (x, y) in "
         "((1, 'a'), (9, 'z'))", 1),
        ("select count(*) as n from t where (x, y) not in ((1, 'a'))", 2),
        ("select count(*) as n from t where (x, y) = (2, 'b')", 1),
        ("select count(*) as n from t where (x, y) != (2, 'b')", 2),
    ]
    for sql, want in cases:
        assert run_ch_query(sql, {"t": df}).collect()[0].n == want, sql
    with pytest.raises(ValueError, match="arity"):
        run_ch_query(
            "select 1 from t where (x, y) in ((1, 'a', 3))", {"t": df}
        )


def test_array_bracket_indexing(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, [10, 20, 30])], "id long, a array<int>"
    )
    row = run_ch_query(
        "select a[1] as first, a[-1] as last, a[2 + 1] as third, "
        "a[9] as oob, splitByChar(' ', 'x y z')[2] as tok "
        "from t",
        {"t": df},
    ).collect()[0]
    assert (row.first, row.last, row.third, row.oob, row.tok) == (
        10, 30, 30, None, "y",
    )


def test_group_by_all_and_order_by_all(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(2, "b", 5), (1, "a", 9), (1, "a", 3), (2, "a", 7)],
        "x long, y string, v long",
    )
    out = run_ch_query(
        "select x, y, count(*) as n, sum(v) as s from t "
        "group by all order by all",
        {"t": df},
    ).collect()
    assert [tuple(r) for r in out] == [
        (1, "a", 2, 12), (2, "a", 1, 7), (2, "b", 1, 5),
    ]
    # computed keys group by their expression; ORDER BY ALL sorts all
    # output columns ascending including aggregates
    out = run_ch_query(
        "select x % 2 as p, max(v) as m from t group by all order by all",
        {"t": df},
    ).collect()
    assert [tuple(r) for r in out] == [(0, 7), (1, 9)]
    with pytest.raises(ValueError, match="no non-aggregate"):
        run_ch_query("select count(*) from t group by all", {"t": df})


# ---------------------------------------------------------------- #
# correlated subqueries (round 4): semi/anti-join rewrite           #
# ---------------------------------------------------------------- #


@pytest.fixture()
def corr_tables(spark):
    orders = spark.createDataFrame(
        [
            (1, 10, "1-URGENT", 50.0),
            (2, 10, "2-HIGH", 200.0),
            (3, 20, "1-URGENT", 120.0),
            (4, 30, "3-LOW", 80.0),
        ],
        "o_orderkey long, o_custkey long, o_prio string, o_total double",
    )
    lineitem = spark.createDataFrame(
        [(1, 5.0), (1, 1.0), (3, 9.0), (4, 2.0)],
        "l_orderkey long, l_qty double",
    )
    customer = spark.createDataFrame(
        [(10, "A"), (20, "B"), (40, "C")],
        "c_custkey long, c_name string",
    )
    return {"orders": orders, "lineitem": lineitem, "customer": customer}


def test_correlated_exists_bare_name(spark, corr_tables):
    """Bare-name correlation (ANSI inner-first): o_orderkey is not a
    lineitem column, so it binds outer; the predicate rewrites to a
    LEFT SEMI join."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders WHERE exists ("
        "SELECT * FROM lineitem WHERE l_orderkey = o_orderkey "
        "AND l_qty > 4) ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [1, 3]


def test_correlated_not_exists(spark, corr_tables):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o.o_orderkey FROM orders o WHERE NOT exists ("
        "SELECT * FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) "
        "ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [2]


def test_correlated_exists_plan_is_semi_join(spark, corr_tables):
    """The rewrite must be a JOIN, not a per-row re-execution: the
    physical plan contains a LeftSemi build and no more than the one
    scan of each relation."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "SELECT o_orderkey FROM orders WHERE exists ("
        "SELECT * FROM lineitem WHERE l_orderkey = o_orderkey)",
        corr_tables,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_correlated_in_and_not_in(spark, corr_tables):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT c_name FROM customer c WHERE c.c_custkey IN ("
        "SELECT o_custkey FROM orders o WHERE o.o_custkey = c.c_custkey "
        "AND o_total > 100) ORDER BY c_name",
        corr_tables,
    ).collect()
    assert [r["c_name"] for r in rows] == ["A", "B"]
    rows = run_ch_query(
        "SELECT c_name FROM customer c WHERE c.c_custkey NOT IN ("
        "SELECT o_custkey FROM orders o WHERE o.o_custkey = c.c_custkey) "
        "ORDER BY c_name",
        corr_tables,
    ).collect()
    assert [r["c_name"] for r in rows] == ["C"]


def test_correlated_row_value_in(spark, corr_tables):
    """Row-value correlated IN — ``(a, b) IN (SELECT x, y ... WHERE
    corr)`` — pairs each tuple element with its select item in the
    semi-join condition (formerly surfaced a raw DATATYPE_MISMATCH)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders o WHERE (o.o_orderkey, o.o_prio)"
        " IN (SELECT l_orderkey, '1-URGENT' FROM lineitem l"
        " WHERE l.l_orderkey = o.o_orderkey AND l_qty > 4)"
        " ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [1, 3]
    with pytest.raises(ValueError, match="IN left side has"):
        run_ch_query(
            "SELECT o_orderkey FROM orders o WHERE "
            "(o.o_orderkey, o.o_prio) IN (SELECT l_orderkey FROM "
            "lineitem l WHERE l.l_orderkey = o.o_orderkey)",
            corr_tables,
        )


def test_correlated_row_value_not_in_null_semantics(spark):
    """Element-wise three-valued NOT IN: row-value equality is FALSE
    only when some element pair is definitely unequal, so a NULL
    element that could still match filters the row."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k long, v string"
    )
    s = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 2), (9, "z", 3)],
        "x long, y string, g long",
    )
    rows = run_ch_query(
        "SELECT k FROM t WHERE (t.k, t.v) NOT IN "
        "(SELECT x, y FROM s WHERE s.g = t.k) ORDER BY k",
        {"t": t, "s": s},
    ).collect()
    # k=1 matches exactly; k=2's NULL v makes membership NULL (not
    # FALSE); k=3's only candidate row is definitely unequal -> kept.
    assert [r["k"] for r in rows] == [3]


def test_rerun_with_mutated_env_recollects_subqueries(spark):
    """Subquery memos live on per-parse AST nodes and run_ch_query
    re-parses its SQL text every call, so re-running the same text
    against a mutated table env must re-collect scalars and EXISTS
    probes (the parse-per-call invariant, plans/ch_sql.py)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    sql = (
        "SELECT (SELECT max(v) FROM s) AS m FROM t "
        "WHERE exists (SELECT * FROM s WHERE v > 0)"
    )
    t = spark.createDataFrame([(1,)], "id long")
    s1 = spark.createDataFrame([(5,)], "v long")
    s2 = spark.createDataFrame([(9,)], "v long")
    assert run_ch_query(sql, {"t": t, "s": s1}).first()["m"] == 5
    assert run_ch_query(sql, {"t": t, "s": s2}).first()["m"] == 9
    empty = spark.createDataFrame([], "v long")
    assert run_ch_query(sql, {"t": t, "s": empty}).count() == 0


def test_correlated_not_in_null_semantics(spark):
    """ANSI three-valued NOT IN: a NULL inner value makes the
    membership NULL for non-matching outers, filtering the row; an
    empty per-row set keeps the row (NULL outer included)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    outer = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "z")], "k long, tag string"
    )
    inner = spark.createDataFrame(
        [(1, "x"), (None, "x")], "v long, grp string"
    )
    # per-row set for tag='x': {1, NULL} -> k=1 in set (drop);
    # for 'y'/'z': empty set -> keep (NULL outer k included)
    rows = run_ch_query(
        "SELECT tag FROM t WHERE k NOT IN "
        "(SELECT v FROM s WHERE grp = tag) ORDER BY tag",
        {"t": outer, "s": inner},
    ).collect()
    assert [r["tag"] for r in rows] == ["y", "z"]
    # and when the set is {1, NULL}, a non-matching k=2 is ALSO
    # filtered (x NOT IN {1, NULL} is NULL, not TRUE)
    inner_all = spark.createDataFrame(
        [(1, "x"), (None, "x"), (None, "y")], "v long, grp string"
    )
    rows = run_ch_query(
        "SELECT tag FROM t WHERE k NOT IN "
        "(SELECT v FROM s WHERE grp = tag) ORDER BY tag",
        {"t": outer, "s": inner_all},
    ).collect()
    assert [r["tag"] for r in rows] == ["z"]


def test_correlated_mixed_with_plain_conjuncts(spark, corr_tables):
    """Plain conjuncts, an uncorrelated IN, and a correlated EXISTS in
    one WHERE — each takes its own path and they AND together."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders WHERE o_total < 150 "
        "AND o_custkey IN (SELECT c_custkey FROM customer) "
        "AND exists (SELECT * FROM lineitem "
        "WHERE l_orderkey = o_orderkey) ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [1, 3]


def test_correlated_rejects_unsupported_shapes(spark, corr_tables):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    with pytest.raises(ValueError, match="correlated subqueries support"):
        run_ch_query(
            "SELECT o_orderkey FROM orders WHERE exists ("
            "SELECT l_orderkey FROM lineitem "
            "WHERE l_orderkey = o_orderkey GROUP BY l_orderkey)",
            corr_tables,
        )
    with pytest.raises(ValueError, match="aggregates inside"):
        run_ch_query(
            "SELECT o_orderkey FROM orders WHERE exists ("
            "SELECT * FROM lineitem "
            "WHERE max(l_qty) > o_orderkey)",
            corr_tables,
        )


def test_correlated_in_cte(spark, corr_tables):
    """A correlated predicate inside a CTE body plans with the CTE's
    own scope rules."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "WITH live AS (SELECT o_orderkey, o_custkey FROM orders "
        "WHERE exists (SELECT * FROM lineitem "
        "WHERE l_orderkey = o_orderkey)) "
        "SELECT count(*) AS n FROM live",
        corr_tables,
    ).collect()
    assert rows[0]["n"] == 3


def test_correlated_scalar_subquery_q17_shape(spark, corr_tables):
    """x CMP (SELECT agg ... WHERE k = outer.k) decorrelates into a
    grouped derived table joined on the key."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o.o_orderkey FROM orders o WHERE o.o_total < ("
        "SELECT 100 * avg(l_qty) FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey) ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    # o1: avg(5,1)=3 -> 300 > 50 ✓; o3: avg 9 -> 900 > 120 ✓;
    # o4: avg 2 -> 200 > 80 ✓; o2 has no lineitem -> NULL -> dropped
    assert [r["o_orderkey"] for r in rows] == [1, 3, 4]
    # subquery as the LEFT operand, and output schema stays clean
    df = run_ch_query(
        "SELECT o_orderkey, o_total FROM orders o WHERE ("
        "SELECT max(l_qty) FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey) >= 5 ORDER BY o_orderkey",
        corr_tables,
    )
    assert df.columns == ["o_orderkey", "o_total"]
    assert [r["o_orderkey"] for r in df.collect()] == [1, 3]


def test_correlated_scalar_empty_group_is_null(spark, corr_tables):
    """A row whose correlated set is empty compares against NULL and
    is filtered — ANSI scalar-subquery-over-empty-set semantics."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders o WHERE ("
        "SELECT sum(l_qty) FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey) >= 0 ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [1, 3, 4]  # o2 dropped


def test_correlated_scalar_rejects_non_aggregate(spark, corr_tables):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    with pytest.raises(ValueError, match="must select an aggregate"):
        run_ch_query(
            "SELECT o_orderkey FROM orders o WHERE o.o_total < ("
            "SELECT l_qty FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey)",
            corr_tables,
        )
    with pytest.raises(ValueError, match="must be equalities"):
        run_ch_query(
            "SELECT o_orderkey FROM orders o WHERE o.o_total < ("
            "SELECT avg(l_qty) FROM lineitem l "
            "WHERE l.l_orderkey > o.o_orderkey)",
            corr_tables,
        )


def test_correlated_scalar_count_empty_is_zero(spark, corr_tables):
    """count(*) over an empty correlated set is 0 (not NULL) — the
    aggregate's empty-input value survives decorrelation."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders o WHERE ("
        "SELECT count(*) FROM lineitem l "
        "WHERE l.l_orderkey = o.o_orderkey) = 0 ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [2]  # o2 has no items


def test_row_value_in_subquery(spark, corr_tables):
    """(a, b) IN (SELECT x, y ...) matches element-wise against the
    materialized row set; NOT form and arity checking included."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT o_orderkey FROM orders o WHERE "
        "(o.o_custkey, o.o_prio) IN "
        "(SELECT c_custkey, '1-URGENT' FROM customer) "
        "ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [1, 3]
    rows = run_ch_query(
        "SELECT o_orderkey FROM orders o WHERE "
        "(o.o_custkey, o.o_prio) NOT IN "
        "(SELECT c_custkey, '1-URGENT' FROM customer) "
        "ORDER BY o_orderkey",
        corr_tables,
    ).collect()
    assert [r["o_orderkey"] for r in rows] == [2, 4]
    with pytest.raises(ValueError, match="columns for a 2-wide"):
        run_ch_query(
            "SELECT o_orderkey FROM orders o WHERE "
            "(o.o_custkey, o.o_prio) IN (SELECT c_custkey FROM customer)",
            corr_tables,
        )


def test_numbers_table_function(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT count(*) AS n, sum(number) AS s FROM numbers(100)", {}
    ).collect()
    assert (rows[0]["n"], rows[0]["s"]) == (100, 4950)
    rows = run_ch_query(
        "SELECT min(number) AS lo, max(number) AS hi "
        "FROM numbers(10, 5)",
        {},
    ).collect()
    assert (rows[0]["lo"], rows[0]["hi"]) == (10, 14)
    # joins against a real table, aliased
    t = spark.createDataFrame([(0,), (1,), (2,)], "k long")
    rows = run_ch_query(
        "SELECT count(*) AS n FROM t JOIN numbers(2) nn "
        "ON t.k = nn.number",
        {"t": t},
    ).collect()
    assert rows[0]["n"] == 2


def test_explain_statement(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a"), (2, "b")], "id long, g string")
    out = run_ch_query(
        "EXPLAIN SELECT g, count(*) AS n FROM t WHERE id > 0 GROUP BY g",
        {"t": t},
    )
    assert out.columns == ["explain"]
    text = "\n".join(r["explain"] for r in out.collect())
    assert "Aggregate" in text and "Filter" in text
    out = run_ch_query(
        "EXPLAIN PIPELINE SELECT count(*) AS n FROM t", {"t": t}
    )
    text = "\n".join(r["explain"] for r in out.collect())
    assert "HashAggregate" in text


def test_select_list_correlated_scalar(spark, corr_tables):
    """Correlated scalar subqueries as SELECT items: decorrelated to a
    left-joined grouped derived table, spliced into the item's
    expression tree, per-aggregate ANSI empty-set values."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    rows = run_ch_query(
        "SELECT c.c_name AS name, "
        "(SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey)"
        " AS n_orders, "
        "10 * (SELECT max(o_total) FROM orders o "
        "WHERE o.o_custkey = c.c_custkey) AS top_v "
        "FROM customer c ORDER BY name",
        corr_tables,
    ).collect()
    assert [(r["name"], r["n_orders"], r["top_v"]) for r in rows] == [
        ("A", 2, 2000.0),
        ("B", 1, 1200.0),
        ("C", 0, None),  # count empty -> 0, max empty -> NULL
    ]


def test_distinct_qualified_aggregates(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a"), (3, "b")], "uid long, g string"
    )
    rows = run_ch_query(
        "SELECT g, count(DISTINCT uid) AS du, sum(DISTINCT uid) AS su "
        "FROM t GROUP BY g ORDER BY g",
        {"t": t},
    ).collect()
    assert [(r["g"], r["du"], r["su"]) for r in rows] == [
        ("a", 2, 3),
        ("b", 1, 3),
    ]
    # avg(DISTINCT) composes from the two distinct primitives
    rows = run_ch_query(
        "SELECT avg(DISTINCT uid) AS au FROM t", {"t": t}
    ).collect()
    assert rows[0]["au"] == 2.0


def test_qualify_clause(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 6.0), (3, "b", 8.0), (4, "b", 7.0)],
        "uid long, g string, v double",
    )
    rows = run_ch_query(
        "SELECT uid, g FROM t QUALIFY row_number() OVER ("
        "PARTITION BY g ORDER BY v DESC, uid) = 1 ORDER BY g",
        {"t": t},
    ).collect()
    assert [(r["uid"], r["g"]) for r in rows] == [(2, "a"), (3, "b")]
    # over an aggregated output, referencing select aliases
    rows = run_ch_query(
        "SELECT g, sum(v) AS sv FROM t GROUP BY g "
        "QUALIFY rank() OVER (ORDER BY sv DESC) = 1",
        {"t": t},
    ).collect()
    assert [(r["g"], r["sv"]) for r in rows] == [("b", 15.0)]


def test_set_ops_nested_in_derived_tables_and_subqueries(spark):
    """Set-operation chains work below statement level (round 4):
    derived tables, IN subqueries, and CTE bodies."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "id long, g string"
    )
    rows = run_ch_query(
        "SELECT g, count(*) AS n FROM ("
        "SELECT id, g FROM t WHERE g = 'a' "
        "UNION ALL SELECT id, g FROM t) GROUP BY g ORDER BY g",
        {"t": t},
    ).collect()
    assert [(r["g"], r["n"]) for r in rows] == [("a", 4), ("b", 1)]
    rows = run_ch_query(
        "SELECT id FROM t WHERE id IN ("
        "SELECT id FROM t WHERE g = 'a' "
        "UNION DISTINCT SELECT 99 AS id) ORDER BY id",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [1, 3]
    rows = run_ch_query(
        "WITH u AS (SELECT id FROM t WHERE g = 'a' "
        "EXCEPT ALL SELECT 1 AS id) SELECT count(*) AS n FROM u",
        {"t": t},
    ).collect()
    assert rows[0]["n"] == 1


def test_limit_with_ties(spark):
    """LIMIT n WITH TIES: distributed top-n probe + threshold filter
    (no global-rank sort); NULL placement follows the sort spec."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 5.0), (2, 5.0), (3, 4.0), (4, 5.0), (5, 3.0), (6, None)],
        "id long, s double",
    )
    rows = run_ch_query(
        "SELECT id, s FROM t ORDER BY s DESC LIMIT 1 WITH TIES",
        {"t": t},
    ).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 4]
    rows = run_ch_query(
        "SELECT id, s FROM t ORDER BY s DESC LIMIT 4 WITH TIES",
        {"t": t},
    ).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4]
    rows = run_ch_query(
        "SELECT id, s FROM t ORDER BY s NULLS FIRST LIMIT 1 WITH TIES",
        {"t": t},
    ).collect()
    assert [r["id"] for r in rows] == [6]
    with pytest.raises(ValueError, match="requires ORDER BY"):
        run_ch_query("SELECT id FROM t LIMIT 1 WITH TIES", {"t": t})


def test_positional_group_and_order_refs(spark):
    """GROUP BY 1 / ORDER BY 2 select the k-th output column (DuckDB
    default, CH enable_positional_arguments) — never a constant."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "a")], "id long, g string"
    )
    rows = run_ch_query(
        "SELECT g, count(*) AS n FROM t GROUP BY 1 ORDER BY 2 DESC, 1",
        {"t": t},
    ).collect()
    assert [(r["g"], r["n"]) for r in rows] == [("a", 3), ("b", 1)]
    with pytest.raises(ValueError, match="out of range"):
        run_ch_query("SELECT g FROM t ORDER BY 5", {"t": t})


# ---------------------------------------------------------------- #
# WITH RECURSIVE (round 5): iterate-to-fixpoint CTE evaluation      #
# ---------------------------------------------------------------- #


def test_recursive_cte_sequence(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM seq WHERE n < 10) "
        "SELECT count(*) AS c, min(n) AS lo, max(n) AS hi FROM seq",
        {},
    )
    assert df.first().asDict() == {"c": 10, "lo": 1, "hi": 10}


def test_recursive_cte_union_distinct_cycle_terminates(spark):
    """UNION DISTINCT dedups against all seen rows, so a cyclic graph
    reaches its fixpoint instead of spinning (1->2->3->1)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5)], "src long, dst long"
    )
    rows = run_ch_query(
        "WITH RECURSIVE reach AS ("
        "SELECT dst AS node FROM edges WHERE src = 1 "
        "UNION DISTINCT "
        "SELECT e.dst AS node FROM edges e JOIN reach r ON e.src = r.node"
        ") SELECT node FROM reach ORDER BY node",
        {"edges": e},
    ).collect()
    assert [r["node"] for r in rows] == [1, 2, 3]


def test_recursive_cte_depth_cap(spark, monkeypatch):
    from baseline_magician_spark.plans import ch_sql

    monkeypatch.setattr(ch_sql, "MAX_RECURSIVE_CTE_DEPTH", 5)
    with pytest.raises(ValueError, match="MAX_RECURSIVE_CTE_DEPTH"):
        ch_sql.run_ch_query(
            "WITH RECURSIVE s AS (SELECT 1 AS n UNION ALL "
            "SELECT n FROM s) SELECT count(*) AS c FROM s",
            {},
        ).collect()


def test_recursive_cte_multiple_anchors_and_joins_downstream(spark):
    """Two anchor branches seed the recursion; the CTE is then usable
    like any relation (joined, aggregated) in the main query."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "k long, tag string"
    )
    rows = run_ch_query(
        "WITH RECURSIVE seq AS ("
        "SELECT 1 AS n UNION ALL SELECT 2 AS n "
        "UNION ALL SELECT n + 2 FROM seq WHERE n < 3) "
        "SELECT t.tag AS tag FROM t JOIN seq ON t.k = seq.n "
        "ORDER BY tag",
        {"t": t},
    ).collect()
    assert [r["tag"] for r in rows] == ["a", "b", "c", "d"]


def test_recursive_cte_shape_errors(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    with pytest.raises(ValueError, match="mixed UNION"):
        run_ch_query(
            "WITH RECURSIVE s AS (SELECT 1 AS n UNION ALL SELECT 2 AS n "
            "UNION DISTINCT SELECT n + 1 FROM s WHERE n < 3) "
            "SELECT * FROM s",
            {},
        )
    with pytest.raises(ValueError, match="anchor branches must precede"):
        run_ch_query(
            "WITH RECURSIVE s AS (SELECT n + 1 FROM s WHERE n < 3 "
            "UNION ALL SELECT 1 AS n) SELECT * FROM s",
            {},
        )
    # a single-branch body that mentions its own name (here as an
    # alias) routes to the recursive executor and must fail clearly
    with pytest.raises(ValueError, match="anchor and a recursive"):
        run_ch_query(
            "WITH RECURSIVE s AS (SELECT 1 AS s) SELECT * FROM s",
            {},
        )


def test_with_recursive_non_self_referencing_cte_still_plain(spark):
    """RECURSIVE is a list-level keyword; a CTE that never names itself
    plans eagerly exactly like a plain CTE."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,)], "k long")
    rows = run_ch_query(
        "WITH RECURSIVE doubled AS (SELECT k * 2 AS d FROM t) "
        "SELECT d FROM doubled ORDER BY d",
        {"t": t},
    ).collect()
    assert [r["d"] for r in rows] == [2, 4]


def test_recursive_cte_feeds_later_cte(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM seq WHERE n < 5), "
        "sq AS (SELECT n, n * n AS n2 FROM seq) "
        "SELECT sum(n2) AS s FROM sq",
        {},
    )
    assert df.first()["s"] == 1 + 4 + 9 + 16 + 25


# ---------------------------------------------------------------- #
# named WINDOW clause + CTE column lists (round 5)                  #
# ---------------------------------------------------------------- #


def test_named_window_clause(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 3, 5), ("b", 4, 15)],
        "g string, id long, v long",
    )
    rows = run_ch_query(
        "SELECT g, id, sum(v) OVER w AS running, "
        "row_number() OVER w AS rn "
        "FROM t WINDOW w AS (PARTITION BY g ORDER BY id) "
        "ORDER BY g, id",
        {"t": t},
    ).collect()
    assert [(r["g"], r["id"], r["running"], r["rn"]) for r in rows] == [
        ("a", 1, 10, 1),
        ("a", 2, 30, 2),
        ("b", 3, 5, 1),
        ("b", 4, 20, 2),
    ]


def test_named_window_multiple_defs_and_qualify(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3), ("b", 4), ("b", 5)],
        "g string, v long",
    )
    rows = run_ch_query(
        "SELECT g, v, rank() OVER w1 AS r, max(v) OVER w2 AS mx FROM t "
        "QUALIFY row_number() OVER w1 <= 1 "
        "WINDOW w1 AS (PARTITION BY g ORDER BY v DESC), "
        "w2 AS (PARTITION BY g) "
        "ORDER BY g",
        {"t": t},
    ).collect()
    assert [(r["g"], r["v"], r["r"], r["mx"]) for r in rows] == [
        ("a", 2, 1, 2),
        ("b", 5, 1, 5),
    ]


def test_named_window_in_order_by(spark):
    """ORDER BY items parse after the WINDOW clause; OVER w references
    in them resolve against the same definitions."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 9)], "g string, v long"
    )
    rows = run_ch_query(
        "SELECT g, v FROM t WINDOW w AS (PARTITION BY g) "
        "ORDER BY max(v) OVER w DESC, v",
        {"t": t},
    ).collect()
    assert [(r["g"], r["v"]) for r in rows] == [
        ("b", 9), ("a", 1), ("a", 2),
    ]


def test_named_window_undefined_raises(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError, match="named window"):
        run_ch_query(
            "SELECT g, sum(v) OVER w AS s FROM t "
            "WINDOW other AS (PARTITION BY g)",
            {"t": t},
        )
    with pytest.raises(ValueError, match="named window"):
        run_ch_query("SELECT g, sum(v) OVER w AS s FROM t", {"t": t})


def test_cte_column_list(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 10), (2, 20)], "a long, b long")
    rows = run_ch_query(
        "WITH renamed (x, y) AS (SELECT a, b * 2 FROM t) "
        "SELECT x, y FROM renamed ORDER BY x",
        {"t": t},
    ).collect()
    assert [(r["x"], r["y"]) for r in rows] == [(1, 20), (2, 40)]
    with pytest.raises(ValueError, match="lists 3 columns"):
        run_ch_query(
            "WITH renamed (x, y, z) AS (SELECT a, b FROM t) "
            "SELECT x FROM renamed",
            {"t": t},
        )


def test_recursive_cte_column_list(spark):
    """WITH RECURSIVE t(n): the list renames the anchor before
    iteration, so the recursive term resolves the listed names even
    when the anchor's expressions are unaliased."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = run_ch_query(
        "WITH RECURSIVE seq (n) AS (SELECT 1 UNION ALL "
        "SELECT n + 1 FROM seq WHERE n < 6) "
        "SELECT count(*) AS c, sum(n) AS s FROM seq",
        {},
    )
    assert df.first().asDict() == {"c": 6, "s": 21}


def test_duplicate_group_expression_two_aliases(spark):
    """The same expression selected under two aliases must survive
    grouping: GROUP BY ALL yields two distinctly-named key columns,
    and an explicit GROUP BY copies the key column for the duplicate
    alias (fuzzer-found round 5: formerly AMBIGUOUS_REFERENCE /
    UNRESOLVED_COLUMN)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,), (3,), (4,)], "v long")
    for sql in (
        "SELECT v % 2 AS a, v % 2 AS b, count(*) AS n FROM t "
        "GROUP BY ALL ORDER BY ALL",
        "SELECT v % 2 AS a, v % 2 AS b, count(*) AS n FROM t "
        "GROUP BY v % 2 ORDER BY a",
    ):
        rows = run_ch_query(sql, {"t": t}).collect()
        assert sorted(tuple(r) for r in rows) == [(0, 0, 2), (1, 1, 2)]


def test_final_modifier_is_noop(spark):
    """FROM t FINAL (before or after an alias, and on a JOIN side):
    CH's merge-on-read modifier — a no-op on fully-materialized
    relations, exactly as on a fully-merged CH table."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")
    d = spark.createDataFrame([(1, 10)], "k long, v long")
    for sql in (
        "SELECT count(*) AS n FROM t FINAL",
        "SELECT count(*) AS n FROM t x FINAL",
        "SELECT count(*) AS n FROM t FINAL x",
        "SELECT count(*) AS n FROM t FINAL JOIN d FINAL ON t.k = d.k",
    ):
        assert run_ch_query(sql, {"t": t, "d": d}).first()["n"] in (1, 2)


def test_group_by_select_alias(spark):
    """CH resolves GROUP BY keys that name explicit select aliases —
    and on an alias-vs-source-column clash the ALIAS wins (the CH
    prefer_column_name_to_alias=0 default, gotcha included)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 10)], "v long, w long"
    )
    rows = run_ch_query(
        "SELECT v % 2 AS parity, count(*) AS n FROM t "
        "GROUP BY parity ORDER BY parity",
        {"t": t},
    ).collect()
    assert [tuple(r) for r in rows] == [(0, 1), (1, 2)]
    # clash: 'w' is a real column AND an alias -> the alias expression
    # becomes the grouping key (CH semantics)
    rows = run_ch_query(
        "SELECT w + 100 AS w, count(*) AS n FROM t GROUP BY w "
        "ORDER BY w",
        {"t": t},
    ).collect()
    assert [tuple(r) for r in rows] == [(110, 2), (120, 1)]


def test_nested_with_in_derived_table_and_subquery(spark):
    """WITH is no longer statement-level only: derived tables, scalar
    subqueries, IN subqueries, and CTE bodies each accept their own
    WITH prefix (including RECURSIVE)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1,), (2,), (3,), (4,)], "v long")
    # derived table with its own CTE
    rows = run_ch_query(
        "SELECT s FROM (WITH big AS (SELECT v FROM t WHERE v >= 2) "
        "SELECT sum(v) AS s FROM big)",
        {"t": t},
    ).collect()
    assert rows[0]["s"] == 9
    # scalar subquery with WITH
    r = run_ch_query(
        "SELECT v FROM t WHERE v = (WITH m AS (SELECT max(v) AS mv "
        "FROM t) SELECT mv FROM m)",
        {"t": t},
    ).collect()
    assert [x["v"] for x in r] == [4]
    # recursive CTE inside a derived table
    r = run_ch_query(
        "SELECT c FROM (WITH RECURSIVE seq AS (SELECT 1 AS n UNION ALL "
        "SELECT n + 1 FROM seq WHERE n < 5) "
        "SELECT count(*) AS c FROM seq)",
        {},
    ).collect()
    assert r[0]["c"] == 5
    # CTE body containing its own nested WITH
    r = run_ch_query(
        "WITH outer_cte AS (WITH inner_cte AS (SELECT v * 2 AS w "
        "FROM t) SELECT sum(w) AS sw FROM inner_cte) "
        "SELECT sw FROM outer_cte",
        {"t": t},
    ).collect()
    assert r[0]["sw"] == 20


def test_select_top_n(spark):
    """SELECT TOP n [WITH TIES] — CH's LIMIT sugar; cannot combine
    with a trailing LIMIT."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 20), (4, 5)], "k long, v long"
    )
    rows = run_ch_query(
        "SELECT TOP 2 k FROM t ORDER BY k", {"t": t}
    ).collect()
    assert [r["k"] for r in rows] == [1, 2]
    rows = run_ch_query(
        "SELECT TOP 1 WITH TIES v FROM t ORDER BY v DESC", {"t": t}
    ).collect()
    assert [r["v"] for r in rows] == [20, 20]
    with pytest.raises(ValueError, match="cannot combine with LIMIT"):
        run_ch_query("SELECT TOP 2 k FROM t ORDER BY k LIMIT 3", {"t": t})


def test_interval_and_typed_date_literals(spark):
    """INTERVAL n UNIT (incl. quoted TPC-H spelling and CH-only
    QUARTER/WEEK normalized to MONTH/DAY) + DATE/TIMESTAMP typed
    literals."""
    import datetime as dt

    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, dt.date(1995, 3, 1)), (2, dt.date(1996, 6, 1)),
         (3, dt.date(1997, 1, 2))],
        "k long, d date",
    )
    r = run_ch_query(
        "SELECT k FROM t WHERE d < DATE '1995-01-01' + INTERVAL 1 YEAR "
        "ORDER BY k",
        {"t": t},
    ).collect()
    assert [x["k"] for x in r] == [1]
    r = run_ch_query(
        "SELECT k FROM t WHERE d >= DATE '1997-01-01' - "
        "INTERVAL '2' QUARTER ORDER BY k",
        {"t": t},
    ).collect()
    assert [x["k"] for x in r] == [3]
    r = run_ch_query(
        "SELECT DATE '2020-01-05' + INTERVAL 3 WEEK AS x, "
        "TIMESTAMP '2020-01-01 00:00:00' + INTERVAL 90 MINUTE AS y",
        {"t": t},
    ).collect()
    assert str(r[0]["x"]) == "2020-01-26"
    assert str(r[0]["y"]) == "2020-01-01 01:30:00"
    r = run_ch_query(
        "SELECT k FROM t WHERE d + INTERVAL -1 DAY = DATE '1996-05-31'",
        {"t": t},
    ).collect()
    assert [x["k"] for x in r] == [2]
    with pytest.raises(ValueError, match="unknown INTERVAL unit"):
        run_ch_query("SELECT DATE '2020-01-01' + INTERVAL 1 FORTNIGHT",
                     {"t": t})


def test_distinct_on(spark):
    """SELECT DISTINCT ON (keys) — CH sugar for LIMIT 1 BY keys;
    deterministic-only (ORDER BY required), first row per key in the
    ORDER BY order."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7), (4, "b", 9),
         (5, "c", 1)],
        "k long, g string, v long",
    )
    r = run_ch_query(
        "SELECT DISTINCT ON (g) g, k, v FROM t ORDER BY g, v DESC",
        {"t": t},
    ).collect()
    assert [(x["g"], x["k"], x["v"]) for x in r] == [
        ("a", 1, 10), ("b", 4, 9), ("c", 5, 1)
    ]
    with pytest.raises(ValueError, match="requires ORDER BY"):
        run_ch_query("SELECT DISTINCT ON (g) g, k FROM t", {"t": t})
    with pytest.raises(ValueError, match="cannot combine with LIMIT BY"):
        run_ch_query(
            "SELECT DISTINCT ON (g) g FROM t ORDER BY g LIMIT 1 BY g",
            {"t": t},
        )
    # plain DISTINCT unaffected
    r = run_ch_query("SELECT DISTINCT g FROM t ORDER BY g", {"t": t}).collect()
    assert [x["g"] for x in r] == ["a", "b", "c"]


def test_state_merge_combinators_and_topk(spark):
    """sum/min/max/count/avg -State/-Merge two-level rollups (count
    merges by SUMMING; avg carries a (sum, count) struct) + exact
    deterministic topK(k) (frequency desc, value asc)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("a", 2, None), ("b", 3, 4.0),
         ("b", 3, 8.0), ("b", 4, 16.0), ("b", 3, 32.0)],
        "g string, k long, v double",
    )
    r = run_ch_query(
        """
        SELECT g, sumMerge(s) AS s, countMerge(c) AS n,
               avgMerge(a) AS m, minMerge(mn) AS mn, maxMerge(mx) AS mx
        FROM (
          SELECT g, k, sumState(v) AS s, countState(v) AS c,
                 avgState(v) AS a, minState(v) AS mn, maxState(v) AS mx
          FROM t GROUP BY g, k
        ) GROUP BY g ORDER BY g
        """,
        {"t": t},
    ).collect()
    assert [tuple(x) for x in r] == [
        ("a", 3.0, 2, 1.5, 1.0, 2.0),
        ("b", 60.0, 4, 15.0, 4.0, 32.0),
    ]
    r = run_ch_query(
        "SELECT g, topK(2)(k) AS t2, topK(k) AS tall "
        "FROM t GROUP BY g ORDER BY g",
        {"t": t},
    ).collect()
    assert [(x["g"], x["t2"], x["tall"]) for x in r] == [
        ("a", [2, 1], [2, 1]),
        ("b", [3, 4], [3, 4]),
    ]


def test_array_join_expression_position(spark):
    """arrayJoin() as an EXPRESSION (CH semantics): row multiplication
    happens before WHERE/GROUP BY; same argument -> one shared
    expansion, distinct arguments -> Cartesian; legal inside
    arithmetic and aggregates; nested arrayJoin rejected."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, [1, 2, 3], ["a", "b"]), (2, [10], ["c"])],
        "k long, xs array<bigint>, ys array<string>",
    )
    env = {"t": t}
    r = run_ch_query(
        "SELECT k, arrayJoin(xs) + 100 AS v FROM t ORDER BY k, v", env
    ).collect()
    assert [(x["k"], x["v"]) for x in r] == [
        (1, 101), (1, 102), (1, 103), (2, 110)
    ]
    r = run_ch_query(
        "SELECT k, arrayJoin(xs) AS a, arrayJoin(xs) * 2 AS b "
        "FROM t ORDER BY k, a",
        env,
    ).collect()
    assert [(x["k"], x["a"], x["b"]) for x in r] == [
        (1, 1, 2), (1, 2, 4), (1, 3, 6), (2, 10, 20)
    ]
    r = run_ch_query(
        "SELECT k, arrayJoin(xs) AS a, arrayJoin(ys) AS s "
        "FROM t ORDER BY k, a, s",
        env,
    ).collect()
    assert len(r) == 7  # 3*2 + 1*1 — distinct args go Cartesian
    r = run_ch_query(
        "SELECT k, sum(arrayJoin(xs)) AS s FROM t "
        "WHERE arrayJoin(xs) > 1 GROUP BY k ORDER BY k",
        env,
    ).collect()
    assert [(x["k"], x["s"]) for x in r] == [(1, 5), (2, 10)]
    with pytest.raises(ValueError, match="nested arrayJoin"):
        run_ch_query("SELECT arrayJoin(arrayJoin(xs)) FROM t", env)


def test_ansi_extract_substring_position_trim(spark):
    """ANSI spellings sharing keywords with CH forms: EXTRACT(unit FROM
    x) vs extract(s, regex); substring(s FROM p FOR n) and the 2-arg
    to-end form; position(needle IN haystack) vs position(hay, needle)
    — the first argument parses below IN so the separator never reads
    as set membership; TRIM([BOTH|LEADING|TRAILING] ['chars'] FROM x)
    with regex-class escaping of the character set."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "  ab  ", "2024-05-17 10:30:05"),
         (2, "xxhixx", "2023-11-02 23:59:59")],
        "k long, s string, d string",
    )
    env = {"t": t.withColumn("ts", t.d.cast("timestamp"))}
    r = run_ch_query(
        "SELECT k, EXTRACT(year FROM ts) AS y, extract(quarter from ts)"
        " AS q, EXTRACT(week FROM ts) AS w, extract(epoch FROM ts) AS e"
        " FROM t ORDER BY k",
        env,
    ).collect()
    assert [(x["k"], x["y"], x["q"], x["w"]) for x in r] == [
        (1, 2024, 2, 20), (2, 2023, 4, 44)
    ]
    assert r[0]["e"] > 1_700_000_000
    # CH regex extract() must still work (no unit+FROM lookahead hit)
    r = run_ch_query(
        "SELECT extract(s, '[a-z]+') AS frag FROM t ORDER BY k", env
    ).collect()
    assert [x["frag"] for x in r] == ["ab", "xxhixx"]
    r = run_ch_query(
        "SELECT k, substring(s, 3) AS a, substring(s FROM 2 FOR 3) AS b,"
        " substr(s, 1, 2) AS c FROM t ORDER BY k",
        env,
    ).collect()
    assert [(x["a"], x["b"], x["c"]) for x in r] == [
        ("ab  ", " ab", "  "), ("hixx", "xhi", "xx")
    ]
    r = run_ch_query(
        "SELECT k, position('b' IN s) AS p1, position(s, 'x') AS p2 "
        "FROM t ORDER BY k",
        env,
    ).collect()
    assert [(x["p1"], x["p2"]) for x in r] == [(4, 0), (0, 1)]
    r = run_ch_query(
        "SELECT k, trim(s) AS t0, trim(BOTH 'x' FROM s) AS t1,"
        " trim(LEADING 'x' FROM s) AS t2, trim(TRAILING 'x' FROM s) AS t3,"
        " trimLeft(s, ' a') AS t4 FROM t ORDER BY k",
        env,
    ).collect()
    assert [tuple(x)[1:] for x in r] == [
        ("ab", "  ab  ", "  ab  ", "  ab  ", "b  "),
        ("xxhixx", "hi", "hixx", "xxhi", "xxhixx"),
    ]
    # regex-class metacharacters in the trim set are escaped
    r = run_ch_query(
        "SELECT trim(TRAILING ']-^' FROM '[-x]^-]') AS esc FROM t "
        "LIMIT 1",
        env,
    ).collect()
    assert r[0]["esc"] == "[-x"
    with pytest.raises(TypeError, match="driver-literal"):
        run_ch_query("SELECT trimBoth(s, s) FROM t", env)


def test_analytic_window_functions(spark):
    """percent_rank/cume_dist/first_value/last_value/nth_value in OVER
    clauses; frame clauses apply to the value functions."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [("a", 1, "p"), ("a", 2, "q"), ("a", 3, "r"), ("b", 5, "z")],
        "g string, k long, s string",
    )
    env = {"t": t}
    r = run_ch_query(
        "SELECT g, k,"
        " percent_rank() OVER (PARTITION BY g ORDER BY k) AS pr,"
        " cume_dist() OVER (PARTITION BY g ORDER BY k) AS cd,"
        " first_value(s) OVER (PARTITION BY g ORDER BY k) AS fv,"
        " last_value(s) OVER (PARTITION BY g ORDER BY k"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        "   AS lv,"
        " nth_value(s, 2) OVER (PARTITION BY g ORDER BY k"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
        "   AS nv"
        " FROM t ORDER BY g, k",
        env,
    ).collect()
    assert [tuple(x) for x in r] == [
        ("a", 1, 0.0, 1 / 3, "p", "r", "q"),
        ("a", 2, 0.5, 2 / 3, "p", "r", "q"),
        ("a", 3, 1.0, 1.0, "p", "r", "q"),
        ("b", 5, 0.0, 1.0, "z", "z", None),
    ]


def test_postfix_cast_and_ch_type_names(spark):
    """x::T postfix casts (CH/Postgres spelling) and ClickHouse type
    names in both cast forms; double->int casts truncate toward zero
    (CH toInt64 semantics)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 2.7), (2, -3.9)], "k long, v double"
    )
    r = run_ch_query(
        "SELECT k, v::Int64 AS vi, k::Float64 AS kf,"
        " v::decimal(5,1) AS vd, CAST(k AS UInt16) AS ku,"
        " (k + 1)::String AS ks FROM t ORDER BY k",
        {"t": t},
    )
    assert [f.dataType.simpleString() for f in r.schema.fields] == [
        "bigint", "bigint", "double", "decimal(5,1)", "int", "string"
    ]
    rows = [tuple(x) for x in r.collect()]
    assert [(x[0], x[1], x[2], x[5]) for x in rows] == [
        (1, 2, 1.0, "2"), (2, -3, 2.0, "3")
    ]


def test_comma_from_list_is_cross_join(spark):
    """FROM a, b (ANSI-89 / CH comma list) = CROSS JOIN; an equality
    WHERE over the pair must plan as a hash equi-join, not a
    cartesian filter."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k long, g string"
    )
    u = spark.createDataFrame([("a", 10), ("b", 20)], "g string, w long")
    env = {"t": t, "u": u}
    r = run_ch_query(
        "SELECT t.k AS k, u.w AS w FROM t, u WHERE t.g = u.g "
        "ORDER BY k",
        env,
    )
    assert [tuple(x) for x in r.collect()] == [(1, 10), (2, 20), (3, 10)]
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "HashJoin" in plan  # equality pushed into the join
    r = run_ch_query(
        "SELECT a.number AS x, b.number AS y FROM numbers(2) a,"
        " numbers(2) b ORDER BY x, y",
        env,
    ).collect()
    assert [tuple(x) for x in r] == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_where_select_alias(spark):
    """CH expression aliases resolve in WHERE (alias wins over a
    same-named source column, as in GROUP BY); aggregate aliases are
    never substituted into WHERE."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame([(1, 10), (2, 20), (3, 10)], "v long, w long")
    env = {"t": t}
    r = run_ch_query(
        "SELECT v % 2 AS parity, w FROM t WHERE parity = 1 ORDER BY v",
        env,
    ).collect()
    assert [tuple(x) for x in r] == [(1, 10), (1, 10)]
    # clash: alias wins (prefer_column_name_to_alias = 0)
    r = run_ch_query(
        "SELECT w + 100 AS w FROM t WHERE w > 110 ORDER BY w", env
    ).collect()
    assert [tuple(x) for x in r] == [(120,)]
    # an aggregate alias must NOT leak into WHERE
    r = run_ch_query(
        "SELECT sum(w) AS s FROM t WHERE v > 1", env
    ).collect()
    assert [tuple(x) for x in r] == [(30,)]


def test_dictget_family(spark):
    """CH dictGet/dictGetOrDefault/dictGetOrNull/dictHas: a relation in
    the env acts as a dictionary keyed by its FIRST column; lookups
    compile to ONE broadcast LEFT JOIN per (dictionary, key) group;
    missing keys give the attribute TYPE's default (CH semantics), not
    NULL."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    t = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 99)], "k long, dim_id long"
    )
    d = spark.createDataFrame(
        [(10, "alpha", 1.5), (20, "beta", 2.5)],
        "id long, name string, wgt double",
    )
    env = {"t": t, "dims": d}
    r = run_ch_query(
        "SELECT k, dictGet('dims', 'name', dim_id) AS nm,"
        " dictGet('dims', 'wgt', dim_id) AS w,"
        " dictGetOrNull('dims', 'name', dim_id) AS nn,"
        " dictGetOrDefault('dims', 'name', dim_id, 'none') AS nd,"
        " dictHas('dims', dim_id) AS h FROM t ORDER BY k",
        env,
    )
    assert [tuple(x) for x in r.collect()] == [
        (1, "alpha", 1.5, "alpha", "alpha", True),
        (2, "beta", 2.5, "beta", "beta", True),
        (3, "", 0.0, None, "none", False),  # CH type defaults
    ]
    # every lookup over the same (dict, key) shares ONE broadcast join
    # (logical plan: AQE's adaptive wrapper prints physical subtrees
    # more than once, so count joins pre-physical)
    lplan = r._jdf.queryExecution().optimizedPlan().toString()
    assert lplan.count("Join") == 1
    pplan = r._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in pplan
    assert "SortMergeJoin" not in pplan
    # expression positions: WHERE, GROUP BY, aggregates, ORDER BY
    r = run_ch_query(
        "SELECT dictGet('dims', 'name', dim_id) AS nm, count(*) AS n,"
        " sum(dictGet('dims', 'wgt', dim_id)) AS sw FROM t"
        " WHERE dictHas('dims', dim_id) GROUP BY nm ORDER BY nm",
        env,
    ).collect()
    assert [tuple(x) for x in r] == [("alpha", 1, 1.5), ("beta", 1, 2.5)]
    with pytest.raises(ValueError, match="no attribute"):
        run_ch_query("SELECT dictGet('dims', 'nope', dim_id) FROM t", env)
    with pytest.raises(ValueError, match="unknown dictionary"):
        run_ch_query("SELECT dictGet('zz', 'name', dim_id) FROM t", env)
    with pytest.raises(ValueError, match="string literal"):
        run_ch_query("SELECT dictGet(k, 'name', dim_id) FROM t", env)


def test_array_literals_and_tuple_element(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame([(1, "a", 2)], "g int, k string, v long")
    r = run_ch_query(
        "SELECT [1, 2, 3] AS arr, [] AS empty, [k, 'x'] AS strs,"
        " arrayElement([10, 20], 2) AS idx,"
        " tupleElement((k, v), 1) AS t1,"
        " tupleElement((k, v), 2) AS t2 FROM t",
        {"t": df},
    ).collect()[0]
    assert list(r["arr"]) == [1, 2, 3]
    assert list(r["empty"]) == []
    assert list(r["strs"]) == ["a", "x"]
    assert (r["idx"], r["t1"], r["t2"]) == (20, "a", 2)
    with pytest.raises(ValueError, match="out of range"):
        run_ch_query("SELECT tupleElement((k, v), 3) FROM t", {"t": df})
    with pytest.raises(ValueError, match="literal number or name"):
        run_ch_query("SELECT tupleElement((k, v), g) FROM t", {"t": df})


def test_map_aggregate_family(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(1, "a", 2), (1, "b", 3), (1, "a", 5), (2, "c", 1)],
        "g int, k string, v long",
    )
    out = run_ch_query(
        """
        SELECT g,
               tupleElement(sumMap([k], [v]), 1) AS ks,
               tupleElement(sumMap([k], [v]), 2) AS sums,
               tupleElement(minMap([k], [v]), 2) AS mins,
               tupleElement(maxMap([k], [v]), 2) AS maxs
        FROM t GROUP BY g ORDER BY g
        """,
        {"t": df},
    ).collect()
    r1, r2 = out
    # keys sort; values fold per key in the keys' order; the fold
    # seeds from the first value so integer maps stay integer
    assert list(r1["ks"]) == ["a", "b"]
    assert list(r1["sums"]) == [7, 3]
    assert list(r1["mins"]) == [2, 3]
    assert list(r1["maxs"]) == [5, 3]
    assert list(r2["ks"]) == ["c"] and list(r2["sums"]) == [1]
    # multi-entry per-row arrays fold too
    out2 = run_ch_query(
        "SELECT tupleElement(sumMap([k, 'z'], [v, v]), 2) AS s"
        " FROM t GROUP BY g ORDER BY g",
        {"t": df},
    ).collect()
    assert list(out2[0]["s"]) == [7, 3, 10]  # a=7, b=3, z=2+3+5


def test_approx_aggregate_alias_family(spark):
    """The CH sketch-estimator spellings (uniqCombined/uniqHLL12/
    uniqTheta, quantileTiming/TDigest/BFloat16/Deterministic) all
    resolve and estimate within their error profiles; the
    determinism key of quantileDeterministic is accepted and
    ignored (GK is already order-independent)."""
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k long, v double"
    )
    r = run_ch_query(
        "SELECT uniqCombined(k) AS uc, uniqHLL12(k) AS uh,"
        " uniqTheta(k) AS ut,"
        " quantileTiming(0.5)(v) AS qt,"
        " quantileTDigest(0.9)(v) AS qd,"
        " quantileDeterministic(0.5)(v, k) AS qdet FROM t",
        {"t": df},
    ).collect()[0]
    assert abs(r["uc"] - 1000) <= 20 and abs(r["ut"] - 1000) <= 20
    assert abs(r["uh"] - 1000) <= 50
    assert abs(r["qt"] - 500) <= 10
    assert abs(r["qd"] - 900) <= 10
    assert abs(r["qdet"] - 500) <= 10


def test_values_inline_table(spark):
    from baseline_magician_spark.plans.ch_sql import run_ch_query

    env = {"t": spark.createDataFrame([(1, "a"), (2, "b")], "id int, k string")}
    out = run_ch_query(
        "SELECT * FROM (VALUES (1, 'x'), (2, 'y')) AS v(n, s) ORDER BY n",
        env,
    ).collect()
    assert [tuple(r) for r in out] == [(1, "x"), (2, "y")]
    # default ANSI names col1..colN
    out = run_ch_query(
        "SELECT col2 FROM (VALUES (1, 'x')) ", env
    ).collect()
    assert out[0].col2 == "x"
    # joins like any relation
    out = run_ch_query(
        "SELECT t.k FROM t JOIN (VALUES (2, 'two')) AS v(n, s) "
        "ON t.id = v.n",
        env,
    ).collect()
    assert [r.k for r in out] == ["b"]


def test_values_arity_mismatch_raises(spark):
    import pytest as _pytest

    from baseline_magician_spark.plans.ch_sql import run_ch_query

    env = {"t": spark.range(1).toDF("id")}
    with _pytest.raises(ValueError, match="arity"):
        run_ch_query(
            "SELECT * FROM (VALUES (1, 2)) AS v(a)", env
        )
