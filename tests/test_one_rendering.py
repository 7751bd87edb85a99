"""Each operator has one executable rendering: no function under
``operators/`` takes an ``impl`` switch between a default kernel and a
second, test-only rendering, and no test, stress or bench script
selects one."""

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
