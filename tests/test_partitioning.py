"""No query pins a partition count by hand: the CH-dialect queries plan
with no round-robin exchange, and no module under ``queries/`` or
``operators/`` calls ``.repartition(<int literal>)`` except to shape a
file source it is about to write. Spark's file splits plus AQE size
every stage; the one sanctioned widening is ``catalog.load_for_compute``
(``tests/test_plan_shapes.py`` pins it)."""

from __future__ import annotations

import ast
from pathlib import Path

from conftest import SF_ORACLE

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "baseline_magician_spark"


def test_no_literal_repartition_count():
    offenders = []
    for sub in ("queries", "operators"):
        for p in sorted((PKG / sub).rglob("*.py")):
            tree = ast.parse(p.read_text())
            # ``df.repartition(n).write`` lays out n input files for a
            # stream replay: it shapes the source, not a query's stages
            writes = {
                id(n.value)
                for n in ast.walk(tree)
                if isinstance(n, ast.Attribute) and n.attr == "write"
            }
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "repartition"
                    and node.args
                    and isinstance(node.args[0], ast.Constant)
                    and isinstance(node.args[0].value, int)
                    and id(node) not in writes
                ):
                    offenders.append(f"{p.relative_to(REPO)}:{node.lineno}")
    assert not offenders, offenders


def test_ch_sql_plans_have_no_round_robin(spark):
    from baseline_magician_spark.registry import get_queries

    offenders = []
    for name, fn in sorted(get_queries().items()):
        if not fn.__module__.endswith(".ch_sql_q"):
            continue
        plan = fn(spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()
        if "RoundRobinPartitioning" in plan:
            offenders.append(name)
    assert not offenders, offenders
