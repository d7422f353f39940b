"""BFL → ``pyspark.sql.Column`` compiler (the vectorized fast path).

This is the Spark-first replacement for the reference's per-record
tree-walking interpreter (``/root/reference/server/lib/eval.go:601-812``):
one Column tree per query, evaluated by Catalyst with whole-stage codegen,
predicate pushdown and column pruning — instead of a JSON parse + AST walk
per record.

Semantics parity (SURVEY.md §1.3), reproduced at the expression level:

* equality is STRING-coerced with Go's ``%g`` 6-significant-digit float
  formatting (``eval.go:47-62``);
* ordering is NUMERIC-coerced — non-numeric strings → 0, bool → 1/0,
  null → 0 (``eval.go:65-88``);
* truthiness: non-empty string / number>0 / non-empty array / true
  (``eval.go:27-44``);
* arrays: ``==`` scalar is existential, ordering vs scalar existential,
  ordering vs array universal-over-cross-product (``eval.go:104-326``) —
  compiled to ``exists`` / ``forall`` higher-order functions (JVM-side);
* missing path ⇒ whole expression false ("collapse", ``eval.go:615-624``),
  caught at sub-expression boundaries (``eval.go:649-651,786-790``);
* helper calls on a missing path do NOT collapse — the operand is Go
  ``false`` (``eval.go:624-626``);
* ``now()``/``seconds()``…``years()``/``datetime()`` fold to epoch-millis
  constants at compile time (``precompute.go:146-186``);
* ``limit(N)`` is extracted into ``Compiled.limit`` for plan-level
  enforcement (``precompute.go:153-155``) and evaluates to true inline.

Schema mapping convention (documented divergence from the schema-free
reference): a **NULL value is treated as JSON ``null``** (key present,
value null) — so ``model == nil`` is true for a NULL column — while a
**field absent from the schema** is a compile-time collapse.

``json()`` extraction is **type-faithful** via Spark 4 Variant
(``try_parse_json`` / ``try_variant_get`` / ``schema_of_variant``): a
JSON string "1.50" stays verbatim while the number 1.50 canonicalizes
to "1.5", JSON null is distinguishable from a missing key (``== nil``
semantics exact), booleans/numbers/arrays dispatch like ojg's
``interface{}`` type switch, and extracted arrays get existential
comparison semantics. ``xml()`` values stay plain strings (mxj text
nodes are strings in the reference). Only variant-vs-variant
comparisons and recursive-descent-fed mutations use the exact row
backend.  Map-key
lookups and array indexing collapse at *runtime* when the key/index is
absent, matching the reference.  Queries needing exact JSON-document
behavior (``redact``, dynamic shapes) use the row backend
(:mod:`.pyeval` via ``mapInPandas``) instead.
"""

from __future__ import annotations

import time as _time
from dataclasses import dataclass
from typing import Any, Callable, List, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ast import (
    HELPERS,
    TIME_HELPERS,
    BinaryOp,
    BoolLit,
    Expr,
    Field,
    Index,
    Key,
    NilLit,
    NumberLit,
    Path,
    Query,
    RegexLit,
    StringLit,
    SubExpression,
    Unary,
    Wildcard,
)
from .parser import parse
from .pyeval import go_g6, parse_datetime_millis

__all__ = ["compile_filter", "split_conjuncts", "Compiled", "UnsupportedBFL"]


def split_conjuncts(expr: Expr) -> List[Expr]:
    """Flatten a top-level ``and`` chain into its conjuncts.

    Used to push the *compilable* conjuncts of a row-backend query (e.g.
    ``year == 2003 and redact(...)``) into a Column pre-filter so the
    Python evaluator only sees surviving rows. Safe for query-mode
    semantics: a false/collapsing conjunct makes the whole ``and`` false
    (eval.go:753-761), and the row backend still evaluates the full
    original query (mutation helpers included) on the surviving rows.
    """
    if isinstance(expr, BinaryOp) and expr.op == "and":
        return split_conjuncts(expr.left) + split_conjuncts(expr.right)
    return [expr]


class UnsupportedBFL(ValueError):
    """Raised when a query needs the row backend (e.g. ``redact``)."""


@dataclass
class Compiled:
    """Result of compiling a BFL query against a schema."""

    predicate: Optional[Column]  # None ⇔ empty query ⇔ match-all
    limit: int = 0
    # pyeval.eval_doc over a row of the typed view (every schema field
    # present, null where the record has none, a null array empty)
    # keeps exactly the rows the predicate keeps; False when the query
    # takes a wildcard over a struct (a static collapse to the
    # predicate, the struct's values to pyeval), compares an array
    # with an array (there the predicate tells a null array from the
    # empty one pyeval is given for it) or matches a regex against a
    # value (Java's rlike to the predicate, Python's re to pyeval:
    # ``\p{L}`` is Java only, and ``.`` matches ``\r`` in Python only)
    row_equivalent: bool = True


# ---------------------------------------------------------------------------
# Value model
# ---------------------------------------------------------------------------
#
# Every sub-expression compiles to a Val: a Column plus the BFL "kind"
# driving coercion, mirroring the Go interface{} dynamic dispatch — but
# resolved statically from the schema.

K_BOOL = "bool"
K_INT = "int"  # integral column — exact decimal string form
K_FLOAT = "float"  # floating column — %g 6-digit string form
K_STR = "str"
K_NULL = "null"  # literal nil / NullType column
K_ARRAY = "array"
K_REGEX = "regex"
K_OPAQUE = "opaque"  # struct/map terminal — Go: falls through coercions
K_JSONVAL = "jsonval"  # string result of xml() extraction (text nodes)
K_VARIANT = "variant"  # typed result of json() extraction (VariantType)


def _false() -> Column:
    return F.lit(False)


@dataclass
class Val:
    kind: str
    col: Optional[Column] = None
    # static literal value when known at compile time (numbers/strings/bools
    # /nil/regex pattern) — enables exact %g formatting python-side
    lit: Any = None
    is_lit: bool = False
    elem: Optional["Val"] = None  # prototype Val for array elements
    # when this (runtime) condition holds, the value is Go `false`
    # (helper on missing path, json() miss, …)
    false_if: Optional[Column] = None
    # collapse condition: True/False (static) or a Column (runtime)
    collapse: Union[bool, Column] = False
    # runtime-non-null boolean (predicate results are coalesced/guarded by
    # construction; only raw schema bool columns can be NULL).  Lets
    # truthy_col skip the coalesce wrapper that would block parquet
    # filter pushdown.
    nonnull: bool = False


def _or_cond(a: Union[bool, Column], b: Union[bool, Column]) -> Union[bool, Column]:
    if a is True or b is True:
        return True
    if a is False:
        return b
    if b is False:
        return a
    return a | b


def _and_cond(a: Union[bool, Column], b: Union[bool, Column]):
    if a is False or b is False:
        return False
    if a is True:
        return b
    if b is True:
        return a
    return a & b


def _apply_false_if(v: Val, base: Column, false_value: Column) -> Column:
    if v.false_if is None:
        return base
    return F.when(v.false_if, false_value).otherwise(base)


# ---------------------------------------------------------------------------
# Coercions (eval.go:27-88) as Column builders
# ---------------------------------------------------------------------------


def go_g6_col(col: Column) -> Column:
    """Go ``strconv.FormatFloat(x,'g',6,64)`` for a double column: Java's
    ``%.6g`` keeps trailing zeros, so strip them (and a dangling '.')."""
    s = F.format_string("%.6g", col)
    s = F.regexp_replace(s, r"(\.\d*?)0+(?=e|$)", r"$1")
    return F.regexp_replace(s, r"\.(?=e|$)", "")


def str_col(v: Val) -> Column:
    """stringOperand (eval.go:47-62). NULL column values stringify to
    'null' (JSON null convention)."""
    if v.is_lit:
        return F.lit(_lit_str(v))
    if v.kind == K_STR:
        base = F.coalesce(v.col, F.lit("null"))
    elif v.kind == K_INT:
        base = F.coalesce(v.col.cast("string"), F.lit("null"))
    elif v.kind == K_FLOAT:
        base = F.when(v.col.isNull(), "null").otherwise(go_g6_col(v.col.cast("double")))
    elif v.kind == K_BOOL:
        base = F.when(v.col.isNull(), "null").when(v.col, "true").otherwise("false")
    elif v.kind == K_NULL:
        base = F.lit("null")
    elif v.kind == K_JSONVAL:
        # xml() extraction: mxj text nodes are Go *strings* — verbatim
        # (a numeric-looking "1.50" stays "1.50"); miss → operand Go
        # false → "false"
        base = F.coalesce(v.col, F.lit("false"))
    elif v.kind == K_VARIANT:
        base = variant_str(v.col)
    else:  # opaque / array used as scalar: Go switch falls through → ""
        base = F.lit("")
    return _apply_false_if(v, base, F.lit("false"))


# -- typed json() values (VariantType, Spark 4) -----------------------------
#
# ojg parses JSON into interface{} with real types; Variant preserves
# exactly that per-value type information (schema_of_variant), so each
# coercion dispatches on the runtime type like the Go type switch:
# ints → decimal print, floats → %g, strings verbatim, bools
# true/false, JSON null → "null", miss (SQL NULL) → Go false.

_VT_NUMERIC = r"^(BIGINT|INT|SMALLINT|TINYINT|DECIMAL|DOUBLE|FLOAT)"


def _v_scalar(col: Column, t: str) -> Column:
    return F.try_variant_get(col, "$", t)


def variant_str(col: Column) -> Column:
    """stringOperand over a variant (eval.go:47-62).

    The variant→string cast is verbatim for strings, decimal-exact for
    integers and 'true'/'false' for bools — only non-integer numerics
    need the explicit %g re-format (ojg float64 printing), and
    containers fall through the Go type switch to ""."""
    t = F.schema_of_variant(col)
    return (
        F.when(col.isNull(), F.lit("false"))  # json path miss → Go false
        .when(F.is_variant_null(col), F.lit("null"))
        .when(t.rlike(r"^(ARRAY|OBJECT)"), F.lit(""))
        .when(
            t.rlike(r"^(DECIMAL\(\d+,[1-9]|DOUBLE|FLOAT)"),
            go_g6_col(_v_scalar(col, "double")),
        )
        .otherwise(F.coalesce(_v_scalar(col, "string"), F.lit("")))
    )


def variant_num(col: Column) -> Column:
    """float64Operand over a variant (eval.go:65-88) in ONE cast: the
    variant→double cast already matches the Go coercion table — numbers
    numerically, bool → 1/0, numeric strings parsed, everything else
    (non-numeric strings, null, miss, containers) → NULL → 0."""
    return F.coalesce(_v_scalar(col, "double"), F.lit(0.0))


def variant_truthy(col: Column) -> Column:
    """boolOperand over a variant (eval.go:27-44)."""
    t = F.schema_of_variant(col)
    return (
        F.when(col.isNull() | F.is_variant_null(col), _false())
        .when(t == "BOOLEAN", F.coalesce(_v_scalar(col, "boolean"), _false()))
        .when(t == "STRING", F.coalesce(_v_scalar(col, "string") != "", _false()))
        .when(
            t.rlike(r"^ARRAY"),
            F.coalesce(F.size(_v_scalar(col, "array<variant>")) > 0, _false()),
        )
        .when(t.rlike(r"^OBJECT"), _false())
        .otherwise(F.coalesce(_v_scalar(col, "double") > 0, _false()))
    )


def num_col(v: Val) -> Column:
    """float64Operand (eval.go:65-88)."""
    if v.is_lit:
        return F.lit(_lit_num(v))
    if v.kind in (K_INT, K_FLOAT):
        base = F.coalesce(v.col.cast("double"), F.lit(0.0))
    elif v.kind == K_STR:
        base = F.coalesce(v.col.try_cast("double"), F.lit(0.0))
    elif v.kind == K_JSONVAL:
        # xml text nodes are strings: strconv parse, non-numeric → 0
        base = F.coalesce(v.col.try_cast("double"), F.lit(0.0))
    elif v.kind == K_VARIANT:
        base = variant_num(v.col)
    elif v.kind == K_BOOL:
        base = F.when(v.col.isNull(), 0.0).when(v.col, 1.0).otherwise(0.0)
    else:
        base = F.lit(0.0)
    return _apply_false_if(v, base, F.lit(0.0))


def truthy_col(v: Val) -> Column:
    """boolOperand (eval.go:27-44); always returns a non-null boolean."""
    if v.is_lit:
        return F.lit(_lit_truthy(v))
    if v.kind == K_BOOL:
        base = v.col if v.nonnull else F.coalesce(v.col, _false())
    elif v.kind in (K_INT, K_FLOAT):
        base = F.coalesce(v.col > 0, _false())
    elif v.kind == K_STR:
        base = F.coalesce(v.col != "", _false())
    elif v.kind == K_JSONVAL:
        # xml text nodes are strings: non-empty → true; miss → false
        base = v.col.isNotNull() & (v.col != "")
    elif v.kind == K_VARIANT:
        base = variant_truthy(v.col)
    elif v.kind == K_ARRAY:
        base = F.coalesce(F.size(v.col) > 0, _false())
    else:  # null / opaque
        base = _false()
    return _apply_false_if(v, base, _false())


def _lit_str(v: Val) -> str:
    x = v.lit
    if v.kind == K_BOOL:
        return "true" if x else "false"
    if v.kind == K_NULL:
        return "null"
    if isinstance(x, float):
        return go_g6(x)
    return str(x)


def _lit_num(v: Val) -> float:
    x = v.lit
    if v.kind == K_BOOL:
        return 1.0 if x else 0.0
    if v.kind == K_NULL:
        return 0.0
    if isinstance(x, str):
        try:
            return float(x)
        except ValueError:
            return 0.0
    return float(x)


def _lit_truthy(v: Val) -> bool:
    x = v.lit
    if v.kind == K_BOOL:
        return bool(x)
    if v.kind == K_NULL:
        return False
    if isinstance(x, str):
        return x != ""
    return x > 0


def _elem_str(proto: Val) -> Callable[[Column], Column]:
    def f(c: Column) -> Column:
        return str_col(Val(kind=proto.kind, col=c, elem=proto.elem))

    return f


def _elem_num(proto: Val) -> Callable[[Column], Column]:
    def f(c: Column) -> Column:
        return num_col(Val(kind=proto.kind, col=c, elem=proto.elem))

    return f


# ---------------------------------------------------------------------------
# Binary operations
# ---------------------------------------------------------------------------


def _compile_eql(a: Val, b: Val, negate: bool) -> Column:
    """==/!= (eval.go:104-174): regex operand ⇒ unanchored match; array
    vs scalar existential; array vs array deep-equal; else string-coerced."""
    if a.kind == K_VARIANT or b.kind == K_VARIANT:
        if a.kind == K_VARIANT and b.kind == K_VARIANT:
            # variant-vs-variant needs full dynamic cross-type dispatch
            # (incl. array deep-equal) — exact in the row backend
            raise UnsupportedBFL("json() value compared to json() value")
        var, other = (a, b) if a.kind == K_VARIANT else (b, a)
        if other.kind == K_ARRAY:
            # typed array vs json() value needs the reference's array
            # existential / deep-equal dispatch (eval.go:108-119,130-134)
            # on a dynamically-typed operand — exact in the row backend
            raise UnsupportedBFL("typed array compared to json() value")
        res = _variant_eq(var, other)
        return ~res if negate else res
    if a.kind == K_REGEX or b.kind == K_REGEX:
        import re as _re

        rx, other = (a, b) if a.kind == K_REGEX else (b, a)
        if other.kind in (K_REGEX, K_ARRAY, K_OPAQUE):
            # Go: stringOperand of a regex/array/map falls through the type
            # switch to "" (eval.go:47-62) → match the pattern against "".
            res = F.lit(_re.search(rx.lit, "") is not None)
        else:
            res = str_col(other).rlike(rx.lit)
        return ~F.coalesce(res, _false()) if negate else F.coalesce(res, _false())

    if a.kind == K_ARRAY and b.kind == K_ARRAY:
        res = F.coalesce(a.col == b.col, _false())  # reflect.DeepEqual
        return ~res if negate else res
    if a.kind == K_ARRAY or b.kind == K_ARRAY:
        arr, scalar = (a, b) if a.kind == K_ARRAY else (b, a)
        s = str_col(scalar)
        es = _elem_str(arr.elem)
        res = F.coalesce(F.exists(arr.col, lambda e: es(e) == s), _false())
        return ~res if negate else res

    if not negate:
        pushable = _pushable_eq(a, b)
        if pushable is None:
            pushable = _pushable_eq(b, a)
        if pushable is not None:
            return pushable
    res = str_col(a) == str_col(b)
    res = F.coalesce(res, _false())
    return ~res if negate else res


def _pushable_eq(col_v: Val, lit_v: Val) -> Optional[Column]:
    """Parquet-pushdown-friendly equality when provably equivalent to the
    string-coerced form: a raw ``col == lit`` predicate reaches the file
    reader (row-group skipping), while ``coalesce(col,'null') == lit``
    does not. Equivalent because a NULL column stringifies to 'null'
    (≠ lit below) and a direct NULL comparison yields NULL → false under
    the top-level coalesce. Only for ``==`` (for ``!=`` the NULL row must
    match, which the raw form would drop)."""
    if col_v.is_lit or not lit_v.is_lit or col_v.false_if is not None:
        return None

    def _nn(cmp_col: Column) -> Column:
        # isNotNull + the comparison are each translatable to parquet
        # filters (IsNotNull / EqualTo), and the conjunction is never
        # NULL — identical to the coalesce(…, false) coercion semantics
        return col_v.col.isNotNull() & cmp_col

    if col_v.kind == K_STR and lit_v.kind in (K_STR, K_FLOAT, K_INT, K_BOOL):
        ls = _lit_str(lit_v)
        if ls != "null":
            return _nn(col_v.col == F.lit(ls))
    if col_v.kind == K_INT:
        # integral column: decimal string form ⇔ numeric equality on ints
        # — but ONLY for literals in canonical decimal form within long
        # range; "007"/"-0" (string-coerced: never equal to any int's
        # decimal print), "null" (must match NULL rows), and
        # beyond-64-bit literals fall back to the coerced comparison.
        if lit_v.kind == K_FLOAT and float(lit_v.lit).is_integer():
            iv = int(lit_v.lit)
            if -(2**63) <= iv < 2**63:
                return _nn(col_v.col == F.lit(iv))
        if lit_v.kind == K_STR:
            import re as _re

            ls = lit_v.lit
            if (
                _re.fullmatch(r"-?\d+", ls)
                and str(int(ls)) == ls
                and -(2**63) <= int(ls) < 2**63
            ):
                return _nn(col_v.col == F.lit(int(ls)))
            return None  # non-canonical / 'null' / huge → coerced path
    return None


def _variant_eq(var: Val, other: Val) -> Column:
    """``variant == scalar`` with the reference's dynamic dispatch:
    regex operand → unanchored match on the stringified value
    (eval.go:106-107); extracted JSON *array* → existential over
    elements (eval.go:108-119); JSON null matches the nil literal
    (stringOperand(nil) == "null"); else string-coerced equality."""
    vcol = _apply_false_if_variant(var)
    if other.kind == K_REGEX:
        return F.coalesce(variant_str(vcol).rlike(other.lit), _false())
    s_other = str_col(other)
    t = F.schema_of_variant(vcol)
    arr = F.try_variant_get(vcol, "$", "array<variant>")
    arr_match = F.coalesce(
        F.exists(arr, lambda e: variant_str(e) == s_other), _false()
    )
    scalar_match = F.coalesce(variant_str(vcol) == s_other, _false())
    return F.when(vcol.isNull(), F.lit("false") == s_other).otherwise(
        F.when(t.rlike(r"^ARRAY"), arr_match).otherwise(scalar_match)
    )


def _apply_false_if_variant(var: Val) -> Column:
    # a false_if variant operand is Go false — representable as a
    # variant-missing value would be wrong ("false" vs miss), so fold it
    # into the string layer instead: parse_json('false') is a BOOLEAN
    if var.false_if is None:
        return var.col
    return F.when(var.false_if, F.parse_json(F.lit("false"))).otherwise(var.col)


_CMP = {
    ">": lambda x, y: x > y,
    "<": lambda x, y: x < y,
    ">=": lambda x, y: x >= y,
    "<=": lambda x, y: x <= y,
}


def _compile_cmp(op: str, a: Val, b: Val) -> Column:
    """>,<,>=,<= (eval.go:176-326) with array existential / cross-product
    universal semantics via exists/forall (JVM higher-order functions)."""
    cmp = _CMP[op]
    if a.kind == K_VARIANT or b.kind == K_VARIANT:
        if a.kind == K_VARIANT and b.kind == K_VARIANT:
            raise UnsupportedBFL("json() value ordered against json() value")
        if (a.kind == K_VARIANT and b.kind == K_ARRAY) or (
            b.kind == K_VARIANT and a.kind == K_ARRAY
        ):
            # typed array vs json() value: cross-product existential /
            # universal semantics (eval.go:189-238) over a dynamic
            # operand — exact in the row backend
            raise UnsupportedBFL("typed array ordered against json() value")
        if a.kind == K_VARIANT:
            vcol = _apply_false_if_variant(a)
            nother = num_col(b)
            flip = False
        else:
            vcol = _apply_false_if_variant(b)
            nother = num_col(a)
            flip = True
        t = F.schema_of_variant(vcol)
        arr = F.try_variant_get(vcol, "$", "array<variant>")
        # extracted array ⇒ existential (eval.go:189-196); scalar ⇒
        # numeric-coerced comparison
        def _c(x, y):
            return cmp(y, x) if flip else cmp(x, y)

        arr_match = F.coalesce(
            F.exists(arr, lambda e: _c(variant_num(e), nother)), _false()
        )
        scalar_match = F.coalesce(_c(variant_num(vcol), nother), _false())
        return F.when(t.rlike(r"^ARRAY"), arr_match).otherwise(scalar_match)
    if a.kind == K_ARRAY and b.kind == K_ARRAY:
        ea, eb = _elem_num(a.elem), _elem_num(b.elem)
        res = F.forall(
            a.col, lambda x: F.forall(b.col, lambda y: cmp(ea(x), eb(y)))
        )
        return F.coalesce(res, _false())
    if a.kind == K_ARRAY:
        ea = _elem_num(a.elem)
        nb = num_col(b)
        return F.coalesce(F.exists(a.col, lambda x: cmp(ea(x), nb)), _false())
    if b.kind == K_ARRAY:
        eb = _elem_num(b.elem)
        na = num_col(a)
        return F.coalesce(F.exists(b.col, lambda y: cmp(na, eb(y))), _false())
    push = _pushable_cmp(op, a, b)
    if push is not None:
        return push
    return F.coalesce(cmp(num_col(a), num_col(b)), _false())


def _pushable_cmp(op: str, a: Val, b: Val) -> Optional[Column]:
    """Parquet-pushdown-friendly ordering when provably equivalent: a
    numeric column compared to a literal can skip the
    ``coalesce(cast(col), 0)`` NULL-coercion whenever coercing NULL to 0
    would fail the comparison anyway — then ``isNotNull(col) & col ⋈ lit``
    (both translatable to parquet filters, cast unwrapped by Catalyst)
    has identical semantics."""
    cmp = _CMP[op]
    if (
        not a.is_lit
        and a.false_if is None
        and a.kind in (K_INT, K_FLOAT)
        and b.is_lit
    ):
        lit = _lit_num(b)
        if cmp(0.0, lit) is False:
            return a.col.isNotNull() & cmp(a.col.cast("double"), F.lit(lit))
    if (
        not b.is_lit
        and b.false_if is None
        and b.kind in (K_INT, K_FLOAT)
        and a.is_lit
    ):
        lit = _lit_num(a)
        if cmp(lit, 0.0) is False:
            return b.col.isNotNull() & cmp(F.lit(lit), b.col.cast("double"))
    return None


# ---------------------------------------------------------------------------
# Schema-aware path resolution
# ---------------------------------------------------------------------------


def _kind_of(dt: T.DataType) -> Tuple[str, Optional[Val]]:
    if isinstance(dt, T.StringType):
        return K_STR, None
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return K_INT, None
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return K_FLOAT, None
    if isinstance(dt, T.DecimalType):
        return K_FLOAT, None
    if isinstance(dt, T.BooleanType):
        return K_BOOL, None
    if isinstance(dt, T.NullType):
        return K_NULL, None
    if isinstance(dt, T.ArrayType):
        ek, ee = _kind_of(dt.elementType)
        return K_ARRAY, Val(kind=ek, elem=ee)
    if isinstance(dt, T.TimestampType):
        # Extension convention: timestamps surface as epoch millis (the
        # only time representation BFL has, SURVEY §1.2).
        return K_INT, None
    return K_OPAQUE, None


class _StaticCollapse(Exception):
    """Path not representable in this schema ⇒ compile-time collapse."""


class _PathResolver:
    """Walks AST segments against the DataFrame schema, producing a Val.

    Handles the wildcard fan-out by switching to array mode and compiling
    subsequent Field segments into ``transform`` lambdas.
    """

    def __init__(self, schema: T.StructType):
        self.schema = schema
        self.row_equivalent = True  # see Compiled.row_equivalent

    def resolve(self, segments: List[Any]) -> Val:
        if not segments:
            raise _StaticCollapse()
        col: Optional[Column] = None
        dt: T.DataType = self.schema
        collapse: Union[bool, Column] = False
        multi = False  # after a wildcard: col is an array of elements of dt
        for seg in segments:
            if multi:
                col, dt, collapse = self._step_multi(col, dt, seg, collapse)
                continue
            if isinstance(seg, (Field, Key)):
                name = seg.name if isinstance(seg, Field) else seg.key
                if isinstance(dt, T.StructType):
                    if name not in dt.fieldNames():
                        raise _StaticCollapse()
                    col = F.col(_quote(name)) if col is None else col.getField(name)
                    dt = dt[name].dataType
                elif isinstance(dt, T.MapType):
                    # runtime collapse when the key is absent (ojg: missing
                    # key → no result → collapse, eval.go:615-624)
                    present = F.map_contains_key(col, F.lit(name))
                    collapse = _or_cond(collapse, ~F.coalesce(present, _false()))
                    col = col.getItem(name)
                    dt = dt.valueType
                else:
                    raise _StaticCollapse()
            elif isinstance(seg, Index):
                if not isinstance(dt, T.ArrayType):
                    raise _StaticCollapse()
                present = F.size(col) > seg.index
                collapse = _or_cond(collapse, ~F.coalesce(present, _false()))
                col = col.getItem(seg.index)
                dt = dt.elementType
            elif isinstance(seg, Wildcard):
                if isinstance(dt, T.ArrayType):
                    dt = dt.elementType
                    multi = True
                elif isinstance(dt, T.MapType):
                    col = F.map_values(col)
                    dt = dt.valueType
                    multi = True
                else:
                    if isinstance(dt, T.StructType):
                        self.row_equivalent = False
                    raise _StaticCollapse()
            else:  # RecursiveDescent on typed columns
                raise UnsupportedBFL(
                    "recursive descent on typed columns needs the row backend"
                )
        if multi:
            ek, ee = _kind_of(dt)
            # empty result set ⇒ collapse (eval.go:615-624): ojg returns []
            # for wildcard over an empty array
            collapse = _or_cond(
                collapse, ~F.coalesce(F.size(col) > 0, _false())
            )
            return Val(kind=K_ARRAY, col=col, elem=Val(kind=ek, elem=ee), collapse=collapse)
        kind, elem = _kind_of(dt)
        v = Val(kind=kind, col=col, elem=elem, collapse=collapse)
        if isinstance(dt, T.TimestampType):
            v.col = F.unix_millis(col)
        return v

    def _step_multi(self, col, dt, seg, collapse):
        """Continue a path AFTER a wildcard fan-out: ``col`` is an array
        of ``dt`` elements; every step maps to ``transform``/``filter``
        higher-order functions (JVM-side). Elements where the selection
        misses are *dropped* (ojg collects matches only); the trailing
        empty-result collapse in :meth:`resolve` then applies."""
        if isinstance(seg, (Field, Key)):
            name = seg.name if isinstance(seg, Field) else seg.key
            if isinstance(dt, T.StructType):
                if name not in dt.fieldNames():
                    raise _StaticCollapse()
                inner_dt = dt[name].dataType
                return F.transform(col, lambda e: e.getField(name)), inner_dt, collapse
            if isinstance(dt, T.MapType):
                # a.*["k"] — keep elements that HAVE the key (absent key
                # contributes no result, eval.go:615-624), then extract
                kept = F.filter(col, lambda e: F.map_contains_key(e, F.lit(name)))
                return (
                    F.transform(kept, lambda e: F.element_at(e, F.lit(name))),
                    dt.valueType,
                    collapse,
                )
            raise _StaticCollapse()
        if isinstance(seg, Index):
            if isinstance(dt, T.ArrayType):
                # a.*[i] — out-of-bounds elements contribute nothing
                kept = F.filter(col, lambda e: F.size(e) > seg.index)
                return (
                    F.transform(kept, lambda e: e.getItem(seg.index)),
                    dt.elementType,
                    collapse,
                )
            raise _StaticCollapse()
        if isinstance(seg, Wildcard):
            if isinstance(dt, T.ArrayType):
                # a.*.* over nested arrays — flatten one level
                return F.flatten(col), dt.elementType, collapse
            if isinstance(dt, T.MapType):
                return (
                    F.flatten(F.transform(col, F.map_values)),
                    dt.valueType,
                    collapse,
                )
            if isinstance(dt, T.StructType):
                self.row_equivalent = False
            raise _StaticCollapse()
        raise UnsupportedBFL(f"segment {seg!r} after wildcard needs the row backend")


def _quote(name: str) -> str:
    return f"`{name}`"


# ---------------------------------------------------------------------------
# json() / xml() document helpers
# ---------------------------------------------------------------------------


def b64_probe(col: Column) -> Column:
    """Go base64.StdEncoding probe (eval.go:362-365): strict alphabet +
    padding, decoded text replaces the original on success.

    A successful decode can yield bytes that are NOT valid UTF-8 (e.g.
    the 4-char input "null" — the nil stringification itself — is valid
    base64). The reference feeds those garbage bytes to oj/mxj, whose
    parse fails → probe miss. Spark's UTF8String tolerates the garbage
    but the Arrow transfer into any downstream pandas UDF does not
    ("Wrapping … failed" aborts the job), so invalid-UTF8 decodes are
    replaced with a one-byte control string that no JSON/XML parser
    accepts — same miss semantics, no poison bytes on the wire."""
    looks_b64 = col.rlike("^[A-Za-z0-9+/]*={0,2}$") & (F.length(col) % 4 == 0)
    decoded = F.unbase64(col).cast("string")
    return F.when(
        looks_b64,
        F.when(F.is_valid_utf8(decoded), decoded).otherwise(F.lit("\x00")),
    ).otherwise(col)


def _gjo_path(segments: List[Any]) -> Optional[str]:
    """Inner path → get_json_object path, when expressible."""
    parts = ["$"]
    for seg in segments:
        if isinstance(seg, Field):
            parts.append(f".{seg.name}")
        elif isinstance(seg, Key):
            if not seg.key.replace("_", "").replace("-", "").isalnum():
                return None
            parts.append(f".{seg.key}" if seg.key.isidentifier() else f"['{seg.key}']")
        elif isinstance(seg, Index):
            parts.append(f"[{seg.index}]")
        else:
            return None
    return "".join(parts)


def _xpath(segments: List[Any]) -> Optional[str]:
    """ojg-style path → XPath 1.0 (ojg indexes are 0-based, XPath 1-based;
    eval_test.go:190: book[1] == 'Harry Potter' i.e. the SECOND book)."""
    parts = []
    for seg in segments:
        if isinstance(seg, Field):
            parts.append(f"/{seg.name}")
        elif isinstance(seg, Key):
            parts.append(f"/{seg.key}")
        elif isinstance(seg, Index):
            if not parts:
                return None
            parts[-1] += f"[{seg.index + 1}]"
        else:
            return None
    return "".join(parts) + "/text()" if parts else None


def _rd_json_udf(inner: List[Any]):
    """Arrow-batched fallback for `json()..name` — the one inner-path shape
    get_json_object can't express (SURVEY §2 P13)."""
    from pyspark.sql.functions import pandas_udf

    from . import pyeval

    segs = list(inner)

    def rd(vals):  # pd.Series -> pd.Series (hints omitted: PEP 563 active)
        import json as _json

        import pandas as pd

        out = []
        for s in vals:
            if s is None:
                out.append(None)
                continue
            text, _ = pyeval.try_base64(s)
            try:
                obj = _json.loads(text)
            except ValueError:
                out.append(None)
                continue
            result = pyeval.path_get(obj, segs)
            out.append(pyeval.string_operand(result[0]) if result else None)
        return pd.Series(out)

    return pandas_udf(rd, "string")


def _compile_docfunc(path: Path, resolver: _PathResolver) -> Val:
    # json()/xml() are helpers: a missing outer path never collapses the
    # expression (eval.go:617-626, Helper != nil) — the operand becomes Go
    # false.  Static miss → literal false; runtime miss → false_if, which
    # str_col renders as "false" (json-parsing "false" then extracting
    # yields a miss, exactly the reference's behavior).
    try:
        outer = resolver.resolve(path.outer)
    except _StaticCollapse:
        return Val(kind=K_BOOL, lit=False, is_lit=True)
    if outer.kind == K_ARRAY:
        raise UnsupportedBFL("json()/xml() over wildcard needs the row backend")
    if not outer.is_lit and outer.collapse is not False:
        outer = Val(
            kind=outer.kind,
            col=outer.col,
            elem=outer.elem,
            false_if=_combine_false_if(outer.false_if, outer.collapse),
        )
    src = b64_probe(str_col(outer))
    if path.docfunc == "json":
        gjo = _gjo_path(path.inner)
        if gjo is not None:
            # type-faithful extraction (Spark 4 Variant): per-value JSON
            # types survive, so coercions dispatch like ojg's
            # interface{} type switch; parse failure → SQL NULL → the
            # reference's operand-false semantics
            col = F.try_variant_get(F.try_parse_json(src), gjo, "variant")
            return Val(kind=K_VARIANT, col=col)
        # recursive descent `..name`: exact pyeval over the document
        col = _rd_json_udf(path.inner)(src)
        return Val(kind=K_JSONVAL, col=col)
    xp = _xpath(path.inner)
    if xp is None:
        raise UnsupportedBFL("xml() path needs the row backend")
    # well-formedness gate BEFORE xpath: Spark's xpath_string THROWS on
    # malformed XML (SAXParseException aborts the whole job — one bad
    # record would kill a 100 TB scan), while the reference's mxj parse
    # failure just makes the probe miss (helpers.go / eval.go:539-560).
    # from_xml in PERMISSIVE mode with a corrupt-record column is the
    # JVM-side well-formedness test: _c IS NULL ⇔ parseable.
    well_formed = (
        F.from_xml(
            src,
            "_c string",
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_c"},
        )["_c"].isNull()
    )
    safe_src = F.when(src.isNotNull() & well_formed, src)
    xr = F.xpath_string(safe_src, F.lit(xp))
    # xpath_string returns '' for no-match; the reference returns Go false
    # — both stringify differently ('' vs 'false') but '' only arises on a
    # miss, so map '' → NULL → jsonval-miss semantics.
    col = F.when(xr == "", F.lit(None).cast("string")).otherwise(xr)
    return Val(kind=K_JSONVAL, col=col)


# ---------------------------------------------------------------------------
# Expression compilation
# ---------------------------------------------------------------------------


def clock_ms() -> int:
    """The clock time helpers read, in epoch milliseconds: a compile
    folds it into the predicate, and a driver-side evaluation of a
    compilable filter passes it to :func:`pyeval.eval_doc`."""
    return int(_time.time() * 1000)


class _Compiler:
    def __init__(self, schema: T.StructType, now_ms: Optional[int] = None):
        self.resolver = _PathResolver(schema)
        # Compile-time time base (precompute.go:146-186): one fixed `now`
        # per compiled query, like the reference.
        self.now_ms = now_ms if now_ms is not None else clock_ms()

    # entry ------------------------------------------------------------------

    def compile(self, expr: Expr) -> Val:
        try:
            return self._expr(expr)
        except _StaticCollapse:
            return Val(kind=K_BOOL, col=_false(), collapse=True, nonnull=True)

    def _guarded(self, expr: Expr) -> Val:
        """Compile a node; a static collapse inside becomes collapse=True."""
        try:
            return self._expr(expr)
        except _StaticCollapse:
            return Val(kind=K_BOOL, col=_false(), collapse=True, nonnull=True)

    # nodes ------------------------------------------------------------------

    def _expr(self, expr: Expr) -> Val:
        if isinstance(expr, NumberLit):
            return Val(kind=K_FLOAT, lit=expr.value, is_lit=True)
        if isinstance(expr, StringLit):
            return Val(kind=K_STR, lit=expr.value, is_lit=True)
        if isinstance(expr, BoolLit):
            return Val(kind=K_BOOL, lit=expr.value, is_lit=True)
        if isinstance(expr, NilLit):
            return Val(kind=K_NULL, lit=None, is_lit=True)
        if isinstance(expr, RegexLit):
            return Val(kind=K_REGEX, lit=expr.pattern, is_lit=True)
        if isinstance(expr, SubExpression):
            inner = self._guarded(expr.expr)
            # evalExpression swallows collapse at this boundary
            # (eval.go:786-790) → value becomes Go false.
            if inner.collapse is True:
                return Val(kind=K_BOOL, lit=False, is_lit=True)
            if inner.collapse is False:
                return inner
            out = Val(
                kind=inner.kind,
                col=inner.col,
                elem=inner.elem,
                lit=inner.lit,
                is_lit=inner.is_lit,
                false_if=_combine_false_if(inner.false_if, inner.collapse),
            )
            return out
        if isinstance(expr, Unary):
            return self._unary(expr)
        if isinstance(expr, BinaryOp):
            return self._binary(expr)
        if isinstance(expr, Path):
            return self._path(expr)
        raise UnsupportedBFL(f"unsupported node {type(expr).__name__}")

    def _unary(self, expr: Unary) -> Val:
        v = self._expr(expr.operand)
        if expr.op == "!":
            # Go negates only typed bools (eval.go:676-680); literals and
            # predicate results are bools, everything else passes through.
            if v.kind == K_BOOL:
                if v.is_lit:
                    return Val(kind=K_BOOL, lit=not v.lit, is_lit=True)
                # A NULL bool column is a JSON null, not a bool — Go's `!`
                # passes it through unchanged and boolOperand(nil) is
                # false (eval.go:676-685), so !NULL must stay false.  A
                # false_if operand IS a Go false → !false = true.
                base = F.when(v.col.isNull(), _false()).otherwise(
                    ~F.coalesce(v.col, _false())
                )
                col = (
                    F.when(v.false_if, F.lit(True)).otherwise(base)
                    if v.false_if is not None
                    else base
                )
                return Val(kind=K_BOOL, col=col, collapse=v.collapse, nonnull=v.nonnull)
            return v
        # '-': negate float64 only
        if v.is_lit and v.kind == K_FLOAT:
            return Val(kind=K_FLOAT, lit=-v.lit, is_lit=True)
        if v.kind == K_FLOAT:
            return Val(kind=K_FLOAT, col=-v.col, collapse=v.collapse, false_if=v.false_if)
        return v

    def _binary(self, expr: BinaryOp) -> Val:
        op = expr.op
        if op in ("and", "or"):
            left = self._guarded(expr.left)
            right = self._guarded(expr.right)
            lt = truthy_col(left) if not _static(left) else None
            rt = truthy_col(right) if not _static(right) else None
            lv = _static_truthy(left)
            rv = _static_truthy(right)

            # static short-circuit (Catalyst would fold anyway, but this
            # also implements collapse-skipping of the right side)
            if op == "and":
                if lv is False or left.collapse is True:
                    return Val(kind=K_BOOL, lit=False, is_lit=True)
                if lv is True and left.collapse is False:
                    return self._truth_val(right, rt, rv)
            else:
                if left.collapse is True:
                    return Val(kind=K_BOOL, lit=False, is_lit=True)
                if lv is True and left.collapse is False:
                    return Val(kind=K_BOOL, lit=True, is_lit=True)
                if lv is False and left.collapse is False:
                    return self._truth_val(right, rt, rv)

            lcol = F.lit(lv) if lt is None else lt
            rcol = F.lit(rv) if rt is None else rt
            if op == "and":
                value = lcol & rcol
                collapse = _or_cond(
                    left.collapse, _and_cond(_col_or_lit(lcol), right.collapse)
                )
            else:
                value = lcol | rcol
                collapse = _or_cond(
                    left.collapse, _and_cond(_not_cond(_col_or_lit(lcol)), right.collapse)
                )
            return Val(kind=K_BOOL, col=value, collapse=collapse, nonnull=True)

        left = self._expr(expr.left)
        right = self._expr(expr.right)
        if left.kind == K_ARRAY and right.kind == K_ARRAY:
            self.resolver.row_equivalent = False
        collapse = _or_cond(left.collapse, right.collapse)
        if op in ("==", "!="):
            if left.is_lit and right.is_lit:
                from . import pyeval

                lv = _pyval(left)
                rv = _pyval(right)
                res = pyeval._eql(lv, rv)
                return Val(kind=K_BOOL, lit=res if op == "==" else not res, is_lit=True)
            kinds = {left.kind, right.kind}
            if K_REGEX in kinds and not kinds <= {K_REGEX, K_ARRAY, K_OPAQUE}:
                self.resolver.row_equivalent = False  # an rlike
            col = _compile_eql(left, right, negate=(op == "!="))
            return Val(kind=K_BOOL, col=col, collapse=collapse, nonnull=True)
        if left.is_lit and right.is_lit:
            from . import pyeval

            res = pyeval._cmp(op, _pyval(left), _pyval(right))
            return Val(kind=K_BOOL, lit=res, is_lit=True)
        col = _compile_cmp(op, left, right)
        return Val(kind=K_BOOL, col=col, collapse=collapse, nonnull=True)

    def _truth_val(self, v: Val, tcol, tlit) -> Val:
        if _static(v) and v.collapse is False:
            return Val(kind=K_BOOL, lit=bool(tlit), is_lit=True)
        return Val(kind=K_BOOL, col=tcol if tcol is not None else F.lit(tlit), collapse=v.collapse, nonnull=True)

    # paths & helpers ---------------------------------------------------------

    def _path(self, path: Path) -> Val:
        if path.docfunc is not None:
            return _compile_docfunc(path, self.resolver)
        if path.helper is None:
            return self.resolver.resolve(path.outer)
        return self._helper(path)

    def _helper(self, path: Path) -> Val:
        h = path.helper
        if h not in HELPERS:
            raise _StaticCollapse()  # unknown helper collapses (eval.go:641)

        # compile-time folded helpers (precompute.go:146-186)
        if h == "now":
            return Val(kind=K_FLOAT, lit=float(self.now_ms), is_lit=True)
        if h in TIME_HELPERS:
            n = self._arg_num(path.args)
            return Val(
                kind=K_FLOAT,
                lit=float(self.now_ms + int(n) * TIME_HELPERS[h]),
                is_lit=True,
            )
        if h == "datetime":
            if not path.args:
                return Val(kind=K_BOOL, lit=False, is_lit=True)
            s = self._arg_str(path.args)
            ms = parse_datetime_millis(s)
            if ms is None:
                return Val(kind=K_BOOL, lit=False, is_lit=True)
            return Val(kind=K_FLOAT, lit=float(ms), is_lit=True)
        if h == "limit":
            return Val(kind=K_BOOL, lit=True, is_lit=True)
        if h == "redact":
            raise UnsupportedBFL("redact() mutates documents — row backend only")

        # string predicates on a (possibly missing) path
        if h in ("startsWith", "endsWith", "contains"):
            if not path.args:
                return Val(kind=K_BOOL, lit=False, is_lit=True)
            arg = F.lit(self._arg_str(path.args))
            try:
                target = self.resolver.resolve(path.outer)
            except _StaticCollapse:
                # helper on missing path: operand = false → "false"
                # (eval.go:624-626 — Helper != nil means no collapse)
                target = Val(kind=K_BOOL, lit=False, is_lit=True)
            if not target.is_lit and target.collapse is not False:
                # runtime-missing (map key / index) → operand false, again
                # without collapsing the expression
                target = Val(
                    kind=target.kind,
                    col=target.col,
                    elem=target.elem,
                    false_if=_combine_false_if(target.false_if, target.collapse),
                )
            lit = self._arg_str(path.args)
            # pushdown-friendly form (StringStartsWith/EndsWith/Contains
            # reach the parquet reader): a plain string column can skip
            # the 'null'-stringification wrapper unless the argument
            # would match the literal string "null" (NULL col stringifies
            # to "null" per the JSON-null convention).
            null_matches = (
                "null".startswith(lit)
                if h == "startsWith"
                else "null".endswith(lit) if h == "endsWith" else lit in "null"
            )
            if (
                not target.is_lit
                and target.kind == K_STR
                and target.false_if is None
                and not null_matches
            ):
                fn = {"startsWith": F.startswith, "endsWith": F.endswith}.get(
                    h, F.contains
                )
                col = target.col.isNotNull() & fn(target.col, arg)
                return Val(kind=K_BOOL, col=col, nonnull=True)
            s = str_col(target)
            if h == "startsWith":
                col = F.startswith(s, arg)
            elif h == "endsWith":
                col = F.endswith(s, arg)
            else:
                col = F.contains(s, arg)
            return Val(kind=K_BOOL, col=F.coalesce(col, _false()), nonnull=True)
        raise UnsupportedBFL(f"helper {h}()")

    def _arg_num(self, args: List[Expr]) -> float:
        from . import pyeval

        if not args:
            return 0.0
        return pyeval.float_operand(_const_arg(args[0]))

    def _arg_str(self, args: List[Expr]) -> str:
        from . import pyeval

        return pyeval.string_operand(_const_arg(args[0]))


def _const_arg(expr: Expr) -> Any:
    """Helper args are compile-time constants in practice; Path args
    evaluate to Go false like the reference (eval.go:565-578)."""
    from . import pyeval

    return pyeval._eval_param(expr, None)


def _static(v: Val) -> bool:
    return v.is_lit


def _static_truthy(v: Val) -> Optional[bool]:
    return _lit_truthy(v) if v.is_lit else None


def _pyval(v: Val) -> Any:
    import re as _re

    if v.kind == K_REGEX:
        return _re.compile(v.lit)
    return v.lit


def _col_or_lit(c) -> Column:
    return c


def _not_cond(c: Union[bool, Column]):
    if isinstance(c, bool):
        return not c
    return ~c


def _combine_false_if(existing: Optional[Column], collapse: Union[bool, Column]):
    if collapse is False:
        return existing
    cc = F.lit(True) if collapse is True else collapse
    if existing is None:
        return cc
    return existing | cc


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def compile_filter(
    query: Union[str, Query],
    df_or_schema: Union[DataFrame, T.StructType],
    now_ms: Optional[int] = None,
) -> Compiled:
    """Compile a BFL query into a boolean Column predicate over the given
    DataFrame/schema. Raises :class:`UnsupportedBFL` when the query needs
    the row backend (``redact``, recursive descent on typed columns)."""
    q = parse(query) if isinstance(query, str) else query
    if q.expr is None:
        return Compiled(predicate=None, limit=q.limit)
    schema = df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    comp = _Compiler(schema, now_ms=now_ms)
    v = comp.compile(q.expr)
    same = comp.resolver.row_equivalent
    if v.collapse is True:
        return Compiled(predicate=_false(), limit=q.limit, row_equivalent=same)
    if v.collapse is False and v.is_lit and _lit_truthy(v):
        # keeps every record (``limit(N)`` alone, ``true``): no filter
        return Compiled(predicate=None, limit=q.limit, row_equivalent=same)
    pred = truthy_col(v)
    if v.collapse is not False:
        pred = F.when(v.collapse, _false()).otherwise(pred)
    return Compiled(predicate=pred, limit=q.limit, row_equivalent=same)


# ---------------------------------------------------------------------------
# Schema-static redact fast path
# ---------------------------------------------------------------------------

REDACTED = "[REDACTED]"  # eval.go:406


# helpers that never read the document when called bare (compile-time
# folded, or — redact — write-only)
_NO_READ_HELPERS = frozenset(
    {"now", "datetime", "limit", "redact"} | set(TIME_HELPERS)
)


def _collect_path_reads(expr: Expr, out: list) -> None:
    """Dotted prefixes read by an expression.  An empty tuple means "an
    unresolvable root" (wildcard/descent-first path) and overlaps every
    prefix.  Helper arguments are never reads (the reference evaluates
    Path parameters to ``false`` without touching the document,
    eval.go:565-578)."""
    if isinstance(expr, Path):
        if expr.outer or expr.helper not in _NO_READ_HELPERS:
            names = []
            for seg in expr.outer:
                if isinstance(seg, Field):
                    names.append(seg.name)
                elif isinstance(seg, Key):
                    names.append(seg.key)
                else:
                    break  # wildcard/index/descent — prefix so far suffices
            out.append(tuple(names))
    elif isinstance(expr, Unary):
        _collect_path_reads(expr.operand, out)
    elif isinstance(expr, BinaryOp):
        _collect_path_reads(expr.left, out)
        _collect_path_reads(expr.right, out)
    elif isinstance(expr, SubExpression):
        _collect_path_reads(expr.expr, out)


def _prefix_overlap(a: Tuple[str, ...], b: Tuple[str, ...]) -> bool:
    k = min(len(a), len(b))
    return a[:k] == b[:k]


# public aliases for the engine layer
collect_path_reads = _collect_path_reads
prefix_overlap = _prefix_overlap


def collect_redact_taints(expr: Expr) -> Optional[List[Tuple[str, ...]]]:
    """Dotted prefixes any ``redact`` inside ``expr`` may MUTATE, or
    None when a redact target is statically unresolvable (non-literal
    arg, ``..`` descent) — then everything is tainted.  Used to keep the
    row-backend conjunct pre-filter sound: the reference evaluates
    and-chains left-to-right over the mutated document, so a conjunct
    reading a redacted path must not be evaluated against the scan."""
    taints: List[Tuple[str, ...]] = []

    def walk(e: Expr) -> bool:  # False ⇒ unresolvable somewhere
        if isinstance(e, Path):
            if e.helper != "redact":
                return True
            for a in e.args:
                if not isinstance(a, StringLit):
                    return False
                from .pyeval import parse_path_string

                head = a.value.split(".json()")[0].split(".xml()")[0]
                names: List[str] = []
                for seg in parse_path_string(head):
                    if isinstance(seg, Field):
                        names.append(seg.name)
                    elif isinstance(seg, Key):
                        names.append(seg.key)
                    else:
                        break
                if not names:
                    return False
                taints.append(tuple(names))
            return True
        if isinstance(e, Unary):
            return walk(e.operand)
        if isinstance(e, BinaryOp):
            return walk(e.left) and walk(e.right)
        if isinstance(e, SubExpression):
            return walk(e.expr)
        return True

    return taints if walk(expr) else None


def _static_redact_path(arg: Expr) -> Optional[Tuple[str, ...]]:
    """A redact argument expressible as a pure struct-field chain —
    no ``..`` descent, no index/wildcard, no ``json()``/``xml()``
    re-decode (those need per-row document surgery → row backend)."""
    if not isinstance(arg, StringLit):
        return None
    s = arg.value
    if ".json()" in s or ".xml()" in s:
        return None
    from .pyeval import parse_path_string

    segs = parse_path_string(s)
    if not segs:
        return None
    names = []
    for seg in segs:
        if isinstance(seg, Field):
            names.append(seg.name)
        elif isinstance(seg, Key):
            names.append(seg.key)
        else:
            return None
    return tuple(names)


def _struct_chain(schema: T.StructType, path: Tuple[str, ...]) -> Optional[bool]:
    """True: path resolves through structs (project it).  False: the
    path cannot exist in any document — a name absent at a struct level,
    or a chain crossing an array/scalar (ojg ``Child`` fragments only
    descend maps, so the reference no-ops there too; pinned in
    tests/test_redact_fast.py) → skip it.  None: the chain crosses a
    MapType (per-row key presence — only the row backend is exact)."""
    dt: T.DataType = schema
    for name in path:
        if isinstance(dt, T.MapType):
            return None
        if not isinstance(dt, T.StructType):
            return False
        hit = next((f for f in dt.fields if f.name == name), None)
        if hit is None:
            return False
        dt = hit.dataType
    return True


def _with_string_leaf(dt: T.DataType, path: Tuple[str, ...]) -> T.DataType:
    """Schema after redacting ``path``: the leaf becomes string.  Used
    to resolve later redact arguments against the already-mutated shape
    (``redact("a.c") and redact("a.c.d")`` — the second is a no-op, the
    reference can't descend the redacted string)."""
    if not path:
        return T.StringType()
    if not isinstance(dt, T.StructType):
        return dt
    return T.StructType(
        [
            T.StructField(f.name, _with_string_leaf(f.dataType, path[1:]), True)
            if f.name == path[0]
            else f
            for f in dt.fields
        ]
    )


def _redacted_field(root: Column, path: Tuple[str, ...]) -> Column:
    """Replacement value for ``root`` with ``path`` under it redacted.
    A NULL *intermediate* stays NULL (``withField`` on a null struct is
    null — the reference can't descend a null, eval.go:449-452), but a
    NULL *leaf* is redacted: under the typed-view convention a NULL
    column value is a present JSON null, and the reference redacts
    present nulls (pinned against pyeval in tests/test_redact_fast.py)."""
    name, rest = path[0], path[1:]
    if not rest:
        return root.withField(f"`{name}`", F.lit(REDACTED))
    return root.withField(f"`{name}`", _redacted_field(root.getField(name), rest))


def pure_redact_paths(expr: Expr) -> Optional[List[Tuple[str, ...]]]:
    """When a query is nothing but top-level ``redact(...)`` conjuncts
    with static plain-path arguments — the always-truthy ingest-scrub
    form (``/insert-filter 'redact("secret")'``) — return the redacted
    paths; None otherwise.  Lets ingest derive the stored-batch schema
    driver-side (leaf → string) instead of re-parsing the appended
    slice."""
    paths: List[Tuple[str, ...]] = []
    for c in split_conjuncts(expr):
        if not (
            isinstance(c, Path)
            and c.helper == "redact"
            and not c.outer
            and not c.docfunc
        ):
            return None
        for a in c.args:
            p = _static_redact_path(a)
            if p is None:
                return None
            paths.append(p)
    return paths


def compile_redact_fast(
    q: Query,
    df_or_schema: Union[DataFrame, T.StructType],
    protected_roots: Tuple[str, ...] = (),
    now_ms: Optional[int] = None,
) -> Optional[Tuple[Optional[Column], List[Tuple[str, ...]]]]:
    """Compile ``redact("a.b") and <filter>`` to a pure-Column plan
    (reference semantics ``eval.go:526-537``): the redact conjuncts are
    always-truthy document mutations, so the query is equivalent to
    filtering by the remaining conjuncts and projecting
    ``withField(lit('[REDACTED]'))`` over the named paths — whole-stage
    codegen end-to-end, no Python stage.

    Returns ``(other_predicate, redact_paths)`` or None when the query
    needs the exact row backend: redact under ``or``/``!``, dynamic
    paths (``..``, ``[i]``, wildcards), ``json()``/``xml()`` re-decode,
    a non-literal argument, a path crossing a non-struct level, a path
    also *read* by another conjunct (the reference mutates the document
    left-to-right, so the filter would see the redacted value), or a
    protected root (the id column).
    """
    if q.expr is None:
        return None
    conjs = split_conjuncts(q.expr)
    redacts = [
        c for c in conjs if isinstance(c, Path) and c.helper == "redact"
    ]
    others = [
        c for c in conjs if not (isinstance(c, Path) and c.helper == "redact")
    ]
    if not redacts:
        return None
    schema = (
        df_or_schema.schema
        if isinstance(df_or_schema, DataFrame)
        else df_or_schema
    )
    paths: List[Tuple[str, ...]] = []
    # resolve each argument against the schema AS MUTATED by the
    # arguments before it — the reference applies redacts left-to-right
    # on the live document (eval.go:526-537)
    working: T.DataType = schema
    for r in redacts:
        if r.outer or r.docfunc or r.inner:
            return None  # helper must be the bare `redact(...)` call
        for a in r.args:
            p = _static_redact_path(a)
            if p is None:
                return None
            if p[0] in protected_roots:
                return None
            resolved = _struct_chain(working, p)
            if resolved is None:
                return None
            if resolved:
                paths.append(p)
                working = _with_string_leaf(working, p)
    reads: List[Tuple[str, ...]] = []
    for other in others:
        _collect_path_reads(other, reads)
    for rp in paths:
        for rd in reads:
            if _prefix_overlap(rp, rd):
                return None
    pred: Optional[Column] = None
    for other in others:  # UnsupportedBFL propagates → caller falls back
        comp = compile_filter(Query(expr=other, text=q.text), schema, now_ms)
        if comp.predicate is not None:
            pred = comp.predicate if pred is None else pred & comp.predicate
    return pred, paths


def apply_redact_paths(df: DataFrame, paths: List[Tuple[str, ...]]) -> DataFrame:
    """Apply compiled redact projections (see compile_redact_fast)."""
    for p in paths:
        if len(p) == 1:
            df = df.withColumn(p[0], F.lit(REDACTED))
        else:
            df = df.withColumn(
                p[0], _redacted_field(F.col(f"`{p[0]}`"), p[1:])
            )
    return df
