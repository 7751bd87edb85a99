"""AST -> pyspark.sql.Column compiler (the columnar backend).

Emits built-in Column expressions only — Catalyst constant-folds
(ConstantFolding), codegens, and short-circuits `CaseWhen`/`Coalesce`
lazily, which reproduces govaluate's own optimizations (literal
folding, regex precompilation, short-circuit eval) for free.

Static typing: the govaluate model is dynamic, but a Column tree must
pick `+`-as-concat vs `+`-as-add at compile time. The compiler infers
a static type ('number' | 'string' | 'bool' | 'array' | 'any') bottom-up,
using caller-provided parameter types (inferable from a DataFrame
schema via `types_from_schema`). Numeric inputs are cast to double
everywhere (govaluate float64-everywhere, MANUAL.md:7-15).

Documented divergences from the Go implementation (SURVEY §7 hard
parts): Java regex vs RE2 exotic escapes. Shifts/bitwise reproduce
the govaluate uint64/int64 round-trips exactly, including values
beyond 2^63 and the amd64 out-of-range conversion behavior
(`_u64_bits` / `_i64_bits`).
"""

from __future__ import annotations

import math
from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ast import ArrayExpr, Binary, Call, Literal, Node, Regex, Ternary, Unary, Var
from .errors import ExpressionError
from .parser import parse

_NUMERIC_SPARK = {
    "tinyint", "smallint", "int", "bigint", "float", "double",
}

_P63 = 2.0**63
_P64 = 2.0**64


def _i64_bits(d: Column) -> Column:
    """Go amd64 int64(float64): truncate toward zero; NaN and
    out-of-range produce the cvttsd2si 'indefinite' -2^63. All
    out-of-range inputs are guarded BEFORE the cast so the expression
    is ANSI-mode-safe (Spark 4 throws on overflowing casts)."""
    return (
        F.when(
            F.isnan(d) | (d >= F.lit(_P63)) | (d <= F.lit(-_P63)),
            F.lit(-(1 << 63)).cast("long"),
        )
        .otherwise(d.cast("long"))
    )


def _u64_bits(d: Column) -> Column:
    """Go amd64 float64->uint64, carried as the two's-complement LONG
    bit pattern. Lowering: ``f < 2^63 ? cvttsd2si(f) :
    cvttsd2si(f - 2^63) + 2^63`` — so [2^63, 2^64) folds into the
    negative longs, negatives wrap, <= -2^63 is the indefinite
    (bit pattern -2^63), NaN and >= 2^64 land on 0 (see
    expr/interp._u64 for the scalar twin). Every branch's cast input
    is range-guarded first: ANSI-mode-safe."""
    return (
        F.when(F.isnan(d) | (d >= F.lit(_P64)), F.lit(0).cast("long"))
        .when(
            d >= F.lit(_P63),
            (d - F.lit(_P63)).cast("long") + F.lit(-(1 << 63)).cast("long"),
        )
        .when(d <= F.lit(-_P63), F.lit(-(1 << 63)).cast("long"))
        .otherwise(d.cast("long"))
    )


def _u64_to_double(bits: Column) -> Column:
    """float64(uint64) from the long bit pattern, correctly rounded in
    ONE step: split into exact hi*2^32 + lo halves (each exact in a
    double), so the single IEEE add performs the only rounding —
    bit-identical to Go's direct conversion (a naive
    ``bits + 2^64`` would double-round for magnitudes > 2^53)."""
    hi = F.shiftrightunsigned(bits, 32).cast("double") * F.lit(4294967296.0)
    lo = bits.bitwiseAND(F.lit(0xFFFFFFFF).cast("long")).cast("double")
    return hi + lo


def types_from_schema(df: DataFrame) -> dict[str, str]:
    out: dict[str, str] = {}
    for f in df.schema.fields:
        s = f.dataType.simpleString()
        if s in _NUMERIC_SPARK or s.startswith("decimal"):
            out[f.name] = "number"
        elif s == "string":
            out[f.name] = "string"
        elif s == "boolean":
            out[f.name] = "bool"
        elif s.startswith("array"):
            elem = s[len("array<"):-1]
            if elem in _NUMERIC_SPARK or elem.startswith("decimal"):
                out[f.name] = "array<number>"
            elif elem == "string":
                out[f.name] = "array<string>"
            elif elem == "boolean":
                out[f.name] = "array<bool>"
            else:
                out[f.name] = "array"
        else:
            out[f.name] = "any"
    return out


def _lit_tag(v: object) -> str:
    """Static type tag of a Python literal (bool checked before number:
    Python bool is an int subclass, govaluate keeps them distinct)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, (int, float)):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    return "any"


def _go_str(c: Column, typ: str) -> Column:
    """Go %v formatting of a value for the `+` concat overload."""
    if typ == "number":
        # integral doubles < 1e15 print digit-exact like Go %v (the
        # same bound interp.go_str uses — beyond it Go switches to
        # scientific notation and the long cast would be wrong anyway);
        # large/non-integral values fall back to Spark's double
        # rendering, whose exponent casing ('1.0E15' vs Go '1e+15') is
        # a documented divergence of the string-concat overload
        return F.when(
            (c == F.floor(c)) & (F.abs(c) < 1e15),
            c.cast("long").cast("string"),
        ).otherwise(c.cast("string"))
    if typ == "bool":
        return F.when(c, F.lit("true")).otherwise(F.lit("false"))
    if typ.startswith("array"):
        # Go %v slice form: [x y z] — elements %v-formatted per the
        # tracked element tag ('array<number>' etc; bare 'array' means
        # unknown/mixed and falls back to a plain string cast per
        # element)
        elem = typ[len("array<"):-1] if "<" in typ else "any"
        fmt = (
            (lambda x: _go_str(x, elem))
            if elem in ("number", "bool", "string")
            else (lambda x: x.cast("string"))
        )
        return F.concat(
            F.lit("["), F.array_join(F.transform(c, fmt), " "), F.lit("]")
        )
    return c.cast("string")


class _Compiler:
    def __init__(
        self,
        params: Mapping[str, Column],
        types: Mapping[str, str],
        functions: Mapping[str, Callable[..., Column]],
        function_types: Mapping[str, str],
    ):
        self.params = params
        self.types = types
        self.functions = functions
        self.function_types = function_types

    def compile(self, n: Node) -> tuple[Column, str]:
        if isinstance(n, Literal):
            if n.value is None:
                return F.lit(None), "any"
            if isinstance(n.value, bool):
                return F.lit(n.value), "bool"
            if isinstance(n.value, float):
                return F.lit(n.value), "number"
            return F.lit(n.value), "string"
        if isinstance(n, Regex):
            return F.lit(n.pattern), "string"
        if isinstance(n, Var):
            col = self.params.get(n.name)
            if col is None:
                col = F.col(n.name)
            typ = self.types.get(n.name, "any")
            if typ == "number":
                col = col.cast("double")
            return col, typ
        if isinstance(n, ArrayExpr):
            compiled = [self.compile(x) for x in n.items]
            cols = [c for c, _ in compiled]
            # uniform element type rides along as array<tag>, so the
            # + concat overload can %v-format elements faithfully
            etags = {t for _, t in compiled}
            tag = (
                f"array<{etags.pop()}>"
                if len(etags) == 1
                else "array"
            )
            return F.array(*cols), tag
        if isinstance(n, Call):
            args = [self.compile(x)[0] for x in n.args]
            out = self.functions[n.name](*args)
            return out, self.function_types.get(n.name, "any")
        if isinstance(n, Unary):
            c, t = self.compile(n.operand)
            if n.op == "-":
                return -self._as_num(c, t, "-"), "number"
            if n.op == "!":
                return ~self._as_bool(c, t, "!"), "bool"
            if n.op == "~":
                return F.bitwise_not(
                    _i64_bits(self._as_num(c, t, "~"))
                ).cast("double"), "number"
            raise ExpressionError(f"unknown unary {n.op}")
        if isinstance(n, Ternary):
            cond, ct = self.compile(n.cond)
            then, tt = self.compile(n.then)
            if n.otherwise is None:
                return F.when(self._as_bool(cond, ct, "?:"), then), tt
            els, et = self.compile(n.otherwise)
            out_t = tt if tt == et else "any"
            return (
                F.when(self._as_bool(cond, ct, "?:"), then).otherwise(els),
                out_t,
            )
        if isinstance(n, Binary):
            return self._binary(n)
        raise ExpressionError(f"unknown node {n!r}")

    def _as_num(self, c: Column, t: str, op: str) -> Column:
        if t == "string" or t == "bool" or t.startswith("array"):
            raise ExpressionError(f"operator {op!r} requires a numeric operand")
        return c.cast("double")

    def _as_bool(self, c: Column, t: str, op: str) -> Column:
        if t == "string" or t == "number" or t.startswith("array"):
            raise ExpressionError(f"operator {op!r} requires a boolean operand")
        return c.cast("boolean")

    def _binary(self, n: Binary) -> tuple[Column, str]:
        op = n.op
        l, lt = self.compile(n.left)
        r, rt = self.compile(n.right)
        if op == "+":
            if lt == "string" or rt == "string":
                return F.concat(_go_str(l, lt), _go_str(r, rt)), "string"
            return self._as_num(l, lt, op) + self._as_num(r, rt, op), "number"
        if op in ("-", "*"):
            ln, rn = self._as_num(l, lt, op), self._as_num(r, rt, op)
            return (ln - rn if op == "-" else ln * rn), "number"
        if op == "/":
            # Go float64 division semantics on a zero divisor (x/0 ->
            # ±Inf, 0/0 -> NaN) — Spark's non-ANSI Divide yields NULL
            ln, rn = self._as_num(l, lt, op), self._as_num(r, rt, op)
            out = F.when(
                rn == 0.0,
                F.when(ln == 0.0, F.lit(float("nan"))).otherwise(
                    F.signum(ln) * F.lit(float("inf"))
                ),
            ).otherwise(ln / rn)
            return out, "number"
        if op == "%":
            # fmod semantics (sign of dividend) — Spark's % on doubles;
            # x % 0 is NaN in Go (Spark: NULL)
            ln, rn = self._as_num(l, lt, op), self._as_num(r, rt, op)
            return (
                F.when(rn == 0.0, F.lit(float("nan"))).otherwise(ln % rn),
                "number",
            )
        if op == "**":
            return F.pow(self._as_num(l, lt, op), self._as_num(r, rt, op)), "number"
        if op in (">", "<", ">=", "<="):
            if lt == "string" and rt == "string":
                pass  # lexicographic string comparison matches Spark's
            else:
                l, r = self._as_num(l, lt, op), self._as_num(r, rt, op)
            out = {">": l > r, "<": l < r, ">=": l >= r, "<=": l <= r}[op]
            return out, "bool"
        if op in ("==", "!="):
            # govaluate equality is Go reflect.DeepEqual: operands of
            # different dynamic types are NEVER equal (1 == true is
            # false, not Spark's casted true). With both static types
            # known and unequal the answer is a constant. Array tags
            # compare on the base ('array<number>' vs 'array' may still
            # be the same runtime type).
            lb, rb = lt.split("<")[0], rt.split("<")[0]
            if lb != "any" and rb != "any" and lb != rb:
                return F.lit(op == "!="), "bool"
            # ALWAYS null-safe: _deep_eq(None, x) is False (None==None
            # True), never NULL — plain Column == would return NULL for
            # a null operand and diverge from the interpreter
            eq = l.eqNullSafe(r)
            return (eq if op == "==" else ~eq), "bool"
        if op in ("=~", "!~"):
            if isinstance(n.right, Regex):
                matched = l.rlike(n.right.pattern)
            else:
                matched = F.regexp_like(l, r)
            return (matched if op == "=~" else ~matched), "bool"
        if op in ("&&", "||"):
            lb, rb = self._as_bool(l, lt, op), self._as_bool(r, rt, op)
            return (lb & rb if op == "&&" else lb | rb), "bool"
        if op == "??":
            return F.coalesce(l, r), lt if lt == rt else "any"
        if op in ("&", "|", "^"):
            ln = _i64_bits(self._as_num(l, lt, op))
            rn = _i64_bits(self._as_num(r, rt, op))
            out = {
                "&": ln.bitwiseAND(rn),
                "|": ln.bitwiseOR(rn),
                "^": ln.bitwiseXOR(rn),
            }[op]
            return out.cast("double"), "number"
        if op in ("<<", ">>"):
            # govaluate uint64 round-trip (gov/evaluationStage.go:
            # 207-212): float64(uint64(l) << uint64(r)). The uint64 is
            # carried as its two's-complement long bit pattern; Go
            # yields 0 for counts >= 64 (no Java count masking), and
            # >>> (shiftrightunsigned) IS the unsigned right shift.
            lb = _u64_bits(self._as_num(l, lt, op))
            cb = _u64_bits(self._as_num(r, rt, op))
            valid = (cb >= 0) & (cb < 64)  # signed 0..63 == uint64 0..63
            name = "shiftleft" if op == "<<" else "shiftrightunsigned"
            shifted = F.when(
                valid, F.call_function(name, lb, cb.cast("int"))
            ).otherwise(F.lit(0).cast("long"))
            return _u64_to_double(shifted), "number"
        if op == "in":
            if isinstance(n.right, ArrayExpr):
                lits = [x.value for x in n.right.items if isinstance(x, Literal)]
                if len(lits) == len(n.right.items):
                    # DeepEqual membership: candidates whose dynamic
                    # type differs from the left's can never match —
                    # drop them BEFORE isin so Spark's implicit casts
                    # (1 isin true) can't manufacture matches
                    if lt != "any":
                        lits = [x for x in lits if _lit_tag(x) == lt]
                    if not lits:
                        return F.lit(False), "bool"
                    return l.isin(*lits), "bool"
            return F.array_contains(r, l), "bool"
        raise ExpressionError(f"unknown operator {op}")


def compile_column(
    expr: str | Node,
    params: Mapping[str, Column] | None = None,
    types: Mapping[str, str] | None = None,
    functions: Mapping[str, Callable[..., Column]] | None = None,
    function_types: Mapping[str, str] | None = None,
) -> Column:
    """Compile an expression to a Column.

    ``params`` maps variable names to Columns (default: ``F.col``).
    ``types`` maps variable names to 'number'|'string'|'bool'|'array'
    (see `types_from_schema`); unknown vars default to 'any' and are
    assumed numeric-compatible where required.
    """
    functions = functions or {}
    node = parse(expr, frozenset(functions)) if isinstance(expr, str) else expr
    c = _Compiler(params or {}, types or {}, functions, function_types or {})
    col, _ = c.compile(node)
    return col


_ = math  # referenced in docstrings
