"""Each operator has one executable rendering: no function under
``operators/`` takes an ``impl`` switch between a default kernel and a
second, test-only rendering, and no test, stress or bench script
selects one. Each CH hash has one rendering too, the Arrow kernel: no
Spark-SQL text twin chooser (``col_sql``), no ANSI-off analysis scope
(``wrap_arith``) and no model module that imports pyspark. Likewise no
caller picks a join strategy (the IP-range join, the dialect's
broadcast-right joins), a CDC setting or a media-stage setting. Every
Python operator runs on one Arrow stage shape, each ClickHouse
function name is registered once, and the package reads no ``BMS_*``
environment variable."""

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

# function -> parameters it must not take: the engine picks its joins,
# the CDC window and the media stages' one-value settings itself, so
# no caller can choose them
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
    **{
        ("operators/multimodal.py", f"attach_{codec}"): {"id_col"}
        for codec in ("media", "wav", "bmp", "png", "y4m")
    },
    ("operators/multimodal.py", "extract_features"): {"dim"},
    ("operators/multimodal.py", "sample_frames"): {"every"},
    ("operators/multimodal.py", "audio_window_rms"): {"window"},
    ("operators/multimodal.py", "frame_deltas"): {"threshold"},
    ("operators/multimodal.py", "wav_encode"): {"sample_rate"},
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


def test_python_operators_are_one_arrow_stage():
    """The package has no pandas boundary: no ``mapInPandas``, no
    ``pandas_udf``, no pandas import outside ``streaming/stateful.py``
    (its ``applyInPandasWithState`` operators), and exactly one
    ``mapInArrow`` call, in the stage helper every Python operator
    builds on."""
    stage_calls, pandas_imports, named = [], [], []
    for p in sorted(PKG.rglob("*.py")):
        rel = str(p.relative_to(PKG))
        src = p.read_text()
        named += [f"{rel}: {w}" for w in ("mapInPandas", "pandas_udf") if w in src]
        for n in ast.walk(ast.parse(src)):
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                if n.func.attr == "mapInArrow":
                    stage_calls.append(f"{rel}:{n.lineno}")
            if isinstance(n, (ast.Import, ast.ImportFrom)):
                mods = [a.name for a in n.names] if isinstance(n, ast.Import) else [n.module or ""]
                if any(m.split(".")[0] == "pandas" for m in mods):
                    pandas_imports.append(f"{rel}:{n.lineno}")
    assert not named, named
    assert all(x.startswith("streaming/stateful.py:") for x in pandas_imports), pandas_imports
    assert len(stage_calls) == 1, stage_calls
    assert stage_calls[0].startswith("operators/_arrow_stage.py:"), stage_calls


def _ch_registrations() -> list[tuple[str, int]]:
    """(name, line) of every literal key put into ``CH_FUNCTIONS`` in
    ch_compat.py: its dict literal, ``CH_FUNCTIONS.update({...})`` and
    ``CH_FUNCTIONS["name"] = ...``."""
    tree = ast.parse((PKG / "functions" / "ch_compat.py").read_text())

    def is_ch(node) -> bool:
        return isinstance(node, ast.Name) and node.id == "CH_FUNCTIONS"

    dicts, regs = [], []
    for n in ast.walk(tree):
        if isinstance(n, ast.AnnAssign) and is_ch(n.target):
            dicts.append(n.value)
        elif isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            if is_ch(n.func.value) and n.func.attr == "update":
                dicts += [a for a in n.args if isinstance(a, ast.Dict)]
        elif isinstance(n, ast.Assign):
            regs += [
                (t.slice.value, n.lineno)
                for t in n.targets
                if isinstance(t, ast.Subscript) and is_ch(t.value)
            ]
    regs += [
        (k.value, k.lineno)
        for d in dicts
        for k in d.keys
        if isinstance(k, ast.Constant)
    ]
    return regs


def test_each_ch_function_registered_once():
    """A second registration of a name silently replaces the first, so
    the first is dead code that still reads as the definition."""
    regs = _ch_registrations()
    assert len(regs) > 500, len(regs)
    lines: dict[str, list[int]] = {}
    for name, line in regs:
        lines.setdefault(name, []).append(line)
    twice = {k: sorted(v) for k, v in lines.items() if len(v) > 1}
    assert not twice, twice


def test_no_bms_environment_knobs():
    """The package reads no ``BMS_*`` environment variable: a setting
    that nothing sets is a constant, and a caller that needs another
    value passes a keyword."""

    def is_bms(node) -> bool:
        return isinstance(node, ast.Constant) and str(node.value).startswith("BMS_")

    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for n in ast.walk(ast.parse(p.read_text())):
            if isinstance(n, ast.Call) and n.args and is_bms(n.args[0]):
                target = ast.unparse(n.func)
                hit = target.endswith("getenv") or ".environ." in f".{target}."
            elif isinstance(n, ast.Subscript) and is_bms(n.slice):
                hit = ast.unparse(n.value).endswith("environ")
            else:
                continue
            if hit:
                offenders.append(f"{p.relative_to(REPO)}:{n.lineno}")
    assert not offenders, offenders
