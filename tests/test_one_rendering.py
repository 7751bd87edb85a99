"""Each operator has one executable rendering: no function under
``operators/`` takes an ``impl`` switch between a default kernel and a
second, test-only rendering, and no test, stress or bench script
selects one. Each CH hash has one rendering too, the Arrow kernel: no
Spark-SQL text twin chooser (``col_sql``), no ANSI-off analysis scope
(``wrap_arith``) and no model module that imports pyspark. Likewise no
caller picks a join strategy (the IP-range join, the dialect's
broadcast-right joins) or a CDC setting."""

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
    ("operators/cdc.py", "cdc_chunks"): {"window", "mask_bits"},
    ("operators/cdc.py", "cdc_shared_chunks"): {
        "window", "mask_bits", "min_len", "min_docs",
    },
    ("operators/cdc.py", "cdc_duplication_ratio"): {
        "window", "min_docs", "mask_bits", "min_len",
    },
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


_HASH_MODELS = ("cityhash", "xxhash", "murmur", "siphash", "murmur3_128")


def test_one_hash_rendering():
    offenders = [
        f"{p.relative_to(REPO)}:{i}"
        for p in sorted(PKG.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\b(wrap_arith|col_sql|_WRAP_HASH_RE)\b", line)
    ]
    assert not offenders, offenders
    for name in _HASH_MODELS:
        tree = ast.parse((PKG / "functions" / f"{name}.py").read_text())
        imported = [
            a.name if isinstance(n, ast.Import) else (n.module or "")
            for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names
        ]
        assert not [m for m in imported if m.startswith("pyspark")], name
