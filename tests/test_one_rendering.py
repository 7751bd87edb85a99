"""Each operator has one executable rendering: no function under
``operators/`` takes an ``impl`` switch between a default kernel and a
second, test-only rendering, and no test, stress or bench script
selects one. Likewise no caller picks a join strategy (the IP-range
join, the dialect's broadcast-right joins) or the CDC window."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_no_impl_parameter_on_operators():
    offenders = []
    for p in sorted((REPO / "baseline_magician_spark" / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if "impl" in names:
                    offenders.append(f"{p.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not offenders, offenders


def test_no_impl_keyword_in_callers():
    paths = [REPO / "stress.py", REPO / "bench.py"]
    paths += [p for p in sorted((REPO / "tests").rglob("*.py")) if p != Path(__file__)]
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in paths
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\bimpl=", line)
    ]
    assert not offenders, offenders


PKG = REPO / "baseline_magician_spark"

# function -> parameters it must not take: the engine picks its joins
# and the CDC window itself, so no caller can choose either
_NO_KNOBS = {
    ("plans/ch_sql.py", "run_ch_query"): {"broadcast_dims"},
    ("plans/ch_ddl.py", "run_ch_ddl"): {"broadcast_dims"},
    ("plans/baseline.py", "baseline_aggregate"): {"use_bucketed_join"},
    ("plans/baseline.py", "generate_hostgroups"): {"use_bucketed_join"},
    ("operators/range_join.py", "broadcast_range_join"): {"how"},
    ("operators/cdc.py", "cdc_chunks"): {"window"},
    ("operators/cdc.py", "cdc_shared_chunks"): {"window"},
    ("operators/cdc.py", "cdc_duplication_ratio"): {"window", "min_docs"},
    ("functions/ip.py", "parse_cidr_py"): {"reference_quirk"},
}


def _top_level_functions(path: Path) -> dict[str, ast.FunctionDef]:
    return {
        n.name: n
        for n in ast.parse(path.read_text()).body
        if isinstance(n, ast.FunctionDef)
    }


def test_no_join_strategy_or_window_parameters():
    offenders = []
    for (rel, fn), banned in _NO_KNOBS.items():
        node = _top_level_functions(PKG / rel).get(fn)
        assert node is not None, f"{rel}::{fn} is missing"
        a = node.args
        names = {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}
        offenders += [f"{rel}::{fn}({p})" for p in sorted(names & banned)]
    assert not offenders, offenders


def test_one_range_join_and_no_broadcast_switch():
    public = [
        n for n in _top_level_functions(PKG / "operators" / "range_join.py")
        if not n.startswith("_")
    ]
    assert public == ["broadcast_range_join"], public
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\bbroadcast_dims\b", line)
    ]
    assert not offenders, offenders
