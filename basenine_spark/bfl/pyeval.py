"""Row-level BFL evaluator (pure Python).

Semantics parity target: ``/root/reference/server/lib/eval.go`` — the
coercion tables (§1.3 of SURVEY.md), collapse behavior, helper library and
the ``redact`` document-rewrite algorithm.  This module is the *exact*
oracle for BFL truthiness; the Spark Column compiler
(:mod:`.compiler`) is the vectorized fast path and is tested against this.

Used by the engine for:
* the schema-free document backend (``mapInPandas`` over raw JSON strings)
  when a query needs ``redact`` / recursive descent / exact JSON-doc
  collapse semantics;
* the ingest-time insertion filter (reference ``native.go:277-292``);
* unit-testing the compiler against the reference's golden corpus.

Nothing here imports Spark: it must stay cheap to ship to executors.
"""

from __future__ import annotations

import base64
import binascii
import calendar
import json
import operator
import re
import time
from datetime import datetime
from typing import Any, List, Optional, Tuple

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
    RecursiveDescent,
    RegexLit,
    StringLit,
    SubExpression,
    Unary,
    Wildcard,
)
from .xmlmap import xml_get, xml_redact

REDACTED = "[REDACTED]"


class _Collapse(Exception):
    """Missing JSONPath / unknown helper ⇒ the whole expression is false
    (reference ``eval.go:615-624,641-644,786-790``).  NOT caught by and/or
    — only short-circuiting avoids it (``eval.go:744-776``)."""


# ---------------------------------------------------------------------------
# Operand coercion (eval.go:27-88) — the load-bearing semantics
# ---------------------------------------------------------------------------


def go_g6(x: float) -> str:
    """Go ``strconv.FormatFloat(x, 'g', 6, 64)``: 6 significant digits,
    trailing zeros removed, exponent form outside [1e-4, 1e6)."""
    return "%.6g" % x


def bool_operand(v: Any) -> bool:
    if isinstance(v, bool):
        return v
    if isinstance(v, str):
        return v != ""
    if isinstance(v, (int, float)):
        return v > 0
    if isinstance(v, list):
        return len(v) > 0
    # nil, dict, regex … → false (Go switch falls through, eval.go:27-44)
    return False


def string_operand(v: Any) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return go_g6(v)
    if v is None:
        return "null"
    return ""


def float_operand(v: Any) -> float:
    if isinstance(v, bool):
        return 1.0 if v else 0.0
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return 0.0
    if isinstance(v, (int, float)):
        return float(v)
    return 0.0  # nil, dict, list …


# ---------------------------------------------------------------------------
# Binary operations (eval.go:104-326)
# ---------------------------------------------------------------------------


def _eql(a: Any, b: Any) -> bool:
    if isinstance(a, re.Pattern):
        return a.search(string_operand(b)) is not None
    if isinstance(a, list):
        if isinstance(b, list):
            return a == b  # reflect.DeepEqual
        return any(string_operand(i) == string_operand(b) for i in a)
    if isinstance(b, re.Pattern):
        return b.search(string_operand(a)) is not None
    if isinstance(b, list):
        return any(string_operand(a) == string_operand(i) for i in b)
    return string_operand(a) == string_operand(b)


def _neq(a: Any, b: Any) -> bool:
    # NOT a plain negation of _eql for arrays: `arr != x` is true iff NO
    # element equals (eval.go:137-168), which for the scalar/array cases
    # coincides with `not _eql` — kept explicit for clarity.
    return not _eql(a, b)


_SCALAR_CMP = {
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
}


def _cmp(op: str, a: Any, b: Any) -> bool:
    scalar = _SCALAR_CMP[op]
    if isinstance(a, list):
        if isinstance(b, list):
            # universal over the cross product (eval.go:180-188)
            return all(
                scalar(float_operand(i), float_operand(j)) for i in a for j in b
            )
        # existential (eval.go:189-196)
        return any(scalar(float_operand(i), float_operand(b)) for i in a)
    if isinstance(b, list):
        return any(scalar(float_operand(a), float_operand(i)) for i in b)
    return scalar(float_operand(a), float_operand(b))


# ---------------------------------------------------------------------------
# Path navigation (subset of ojg JSONPath used by BFL)
# ---------------------------------------------------------------------------


def path_get(obj: Any, segments: List[Any]) -> List[Any]:
    """Evaluate path segments against a parsed JSON object; returns the
    (possibly empty) result list, like ``jp.Expr.Get``."""
    results = [obj]
    for seg in segments:
        nxt: List[Any] = []
        for r in results:
            if isinstance(seg, (Field, Key)):
                key = seg.name if isinstance(seg, Field) else seg.key
                if isinstance(r, dict) and key in r:
                    nxt.append(r[key])
            elif isinstance(seg, Index):
                if isinstance(r, list) and 0 <= seg.index < len(r):
                    nxt.append(r[seg.index])
            elif isinstance(seg, Wildcard):
                if isinstance(r, list):
                    nxt.extend(r)
                elif isinstance(r, dict):
                    nxt.extend(r.values())
            elif isinstance(seg, RecursiveDescent):
                _descend(r, seg.name, nxt)
        results = nxt
    return results


def _descend(obj: Any, name: str, out: List[Any]) -> None:
    if isinstance(obj, dict):
        for k, v in obj.items():
            if k == name:
                out.append(v)
            _descend(v, name, out)
    elif isinstance(obj, list):
        for v in obj:
            _descend(v, name, out)


_PATH_TOKEN = re.compile(r"\.\.([A-Za-z_][\w\-]*)|\.|\[(\d+)\]|\[\"([^\"]*)\"\]|\[\'([^\']*)\'\]|\*|([^.\[\]*]+)")


def parse_path_string(path: str) -> List[Any]:
    """Parse a JSONPath-ish string (as used in ``redact`` arguments and by
    the reference's retention code) into segments.  Supports
    ``a.b``, ``[0]``, ``["k"]``, ``..name``, ``*`` — the ojg subset the
    reference exercises (``eval.go:441-524``)."""
    segments: List[Any] = []
    for m in _PATH_TOKEN.finditer(path):
        rd, idx, dkey, skey, field = m.group(1), m.group(2), m.group(3), m.group(4), m.group(5)
        if rd is not None:
            segments.append(RecursiveDescent(rd))
        elif idx is not None:
            segments.append(Index(int(idx)))
        elif dkey is not None:
            segments.append(Key(dkey))
        elif skey is not None:
            segments.append(Key(skey))
        elif m.group() == "*":
            segments.append(Wildcard())
        elif field is not None:
            segments.append(Field(field))
    return segments


def _path_set(obj: Any, segments: List[Any], value: Any) -> None:
    """Set ``value`` at every location matched by ``segments`` (like
    ``jp.Expr.Set`` for the simple-path cases the reference uses)."""
    if not segments:
        return
    *parents, last = segments
    # Collect parent containers by walking all but the last segment.
    containers = [obj]
    for seg in parents:
        nxt = []
        for r in containers:
            if isinstance(seg, (Field, Key)):
                key = seg.name if isinstance(seg, Field) else seg.key
                if isinstance(r, dict) and key in r:
                    nxt.append(r[key])
            elif isinstance(seg, Index):
                if isinstance(r, list) and 0 <= seg.index < len(r):
                    nxt.append(r[seg.index])
            elif isinstance(seg, Wildcard):
                if isinstance(r, list):
                    nxt.extend(r)
                elif isinstance(r, dict):
                    nxt.extend(r.values())
        containers = nxt
    for c in containers:
        if isinstance(last, (Field, Key)):
            key = last.name if isinstance(last, Field) else last.key
            if isinstance(c, dict) and key in c:
                c[key] = value
        elif isinstance(last, Index):
            if isinstance(c, list) and 0 <= last.index < len(c):
                c[last.index] = value


# ---------------------------------------------------------------------------
# Helpers (eval.go:328-562)
# ---------------------------------------------------------------------------

_DATETIME_RE = "%m/%d/%Y, %I:%M:%S.%f %p"  # Go layout "1/2/2006, 3:04:05.000 PM"


def parse_datetime_millis(s: str) -> Optional[int]:
    try:
        dt = datetime.strptime(s, _DATETIME_RE)
    except ValueError:
        return None
    return calendar.timegm(dt.timetuple()) * 1000 + dt.microsecond // 1000


def try_base64(s: str) -> Tuple[str, bool]:
    """Go ``base64.StdEncoding.DecodeString`` probe: strict alphabet and
    padding; on success the decoded text replaces the original
    (``eval.go:362-365``)."""
    if len(s) % 4 != 0 or not re.fullmatch(r"[A-Za-z0-9+/]*={0,2}", s or ""):
        return s, False
    try:
        decoded = base64.b64decode(s, validate=True)
    except binascii.Error:
        return s, False
    try:
        return decoded.decode("utf-8"), True
    except UnicodeDecodeError:
        # Go strings hold the garbage bytes and the subsequent oj/mxj
        # parse fails (probe miss); a one-byte control string reproduces
        # that without leaking invalid UTF-8 into Arrow
        return "\x00", True


def _helper_json(value: Any, inner: List[Any]) -> Any:
    s, _ = try_base64(string_operand(value))
    try:
        obj = json.loads(s)
    except ValueError:
        return False
    result = path_get(obj, inner)
    if not result:
        return False
    return result[0]


def _helper_xml(value: Any, inner: List[Any]) -> Any:
    s, _ = try_base64(string_operand(value))
    return xml_get(s, inner)


# ---------------------------------------------------------------------------
# redact (eval.go:406-537)
# ---------------------------------------------------------------------------


def _redact_recursively(obj: Any, paths: List[str]) -> bool:
    """Port of ``redactRecursively`` (eval.go:441-524).  Returns False on
    "no match" so the caller can continue with the next argument."""
    for i, path in enumerate(paths):
        xml_parts = path.split(".xml()")
        segments = parse_path_string(xml_parts[0])

        result = path_get(obj, segments)
        if not result:
            return False

        if len(xml_parts) > 1:
            new_xml = xml_redact(result[0], xml_parts[1], REDACTED)
            if new_xml is not None:
                _path_set(obj, segments, new_xml)
            return True

        if i < len(paths) - 1:
            nested = result[0]
            if not isinstance(nested, str):
                return False
            decoded, was_b64 = try_base64(nested)
            try:
                nested_obj = json.loads(decoded)
            except ValueError:
                return False
            _redact_recursively(nested_obj, paths[i + 1 :])
            new_value = json.dumps(nested_obj, separators=(",", ":"), ensure_ascii=False)
            if was_b64:
                new_value = base64.b64encode(new_value.encode("utf-8")).decode("ascii")
            _path_set(obj, segments, new_value)
            return True

        if segments and isinstance(segments[0], RecursiveDescent):
            # `..field`: walk and replace by key name; array indices are
            # never considered (eval.go:503-518).
            _walk_redact(obj, segments[0].name)
        else:
            _path_set(obj, segments, REDACTED)
    return True


def _walk_redact(obj: Any, name: str) -> None:
    if isinstance(obj, dict):
        for k in list(obj.keys()):
            if k == name:
                obj[k] = REDACTED
            else:
                _walk_redact(obj[k], name)
    elif isinstance(obj, list):
        for v in obj:
            _walk_redact(v, name)


def redact_document(obj: Any, path_args: List[str]) -> Any:
    """``redact("p1", "p2", …)`` — mutates and returns the document; always
    truthy (eval.go:526-537)."""
    for arg in path_args:
        paths = arg.split(".json()")
        _redact_recursively(obj, paths)
    return obj


# ---------------------------------------------------------------------------
# Expression evaluation (eval.go:601-792)
# ---------------------------------------------------------------------------


class _Ctx:
    __slots__ = ("obj", "now_ms")

    def __init__(self, obj: Any, now_ms: Optional[int]):
        self.obj = obj
        self.now_ms = now_ms


def _eval_param(expr: Expr, ctx: _Ctx) -> Any:
    """Helper-call parameters: literals evaluate normally; Path parameters
    evaluate to ``false`` because the reference never compiles JsonPath for
    them (``eval.go:565-578`` + evalCallExpression → false)."""
    if isinstance(expr, Path):
        return False
    if isinstance(expr, SubExpression):
        return _eval_param(expr.expr, ctx)
    if isinstance(expr, (NumberLit, StringLit, BoolLit, NilLit, RegexLit)):
        return _literal_value(expr)
    if isinstance(expr, Unary):
        v = _eval_param(expr.operand, ctx)
        if expr.op == "!" and isinstance(v, bool):
            return not v
        if expr.op == "-" and isinstance(v, float):
            return -v
        return v
    if isinstance(expr, BinaryOp):
        return _eval_binary(expr, ctx, param_mode=True)
    return False


def _literal_value(expr: Expr) -> Any:
    if isinstance(expr, NumberLit):
        return expr.value
    if isinstance(expr, StringLit):
        return expr.value
    if isinstance(expr, BoolLit):
        return expr.value
    if isinstance(expr, NilLit):
        return None
    if isinstance(expr, RegexLit):
        return re.compile(expr.pattern)
    raise TypeError(expr)


def _eval_path(path: Path, ctx: _Ctx) -> Any:
    # Document-reparse helpers json()/xml().
    if path.docfunc is not None:
        result = path_get(ctx.obj, path.outer)
        v = False if not result else (result[0] if len(result) == 1 else result)
        if path.docfunc == "json":
            return _helper_json(v, path.inner)
        return _helper_xml(v, path.inner)

    if path.helper is not None:
        if path.helper not in HELPERS:
            raise _Collapse()  # unknown helper (eval.go:641-644)
        result = path_get(ctx.obj, path.outer)
        v = False if not result else (result[0] if len(result) == 1 else result)
        args = [_eval_param(a, ctx) for a in path.args]

        h = path.helper
        if h == "startsWith":
            return bool(args) and string_operand(v).startswith(string_operand(args[0]))
        if h == "endsWith":
            return bool(args) and string_operand(v).endswith(string_operand(args[0]))
        if h == "contains":
            return bool(args) and string_operand(args[0]) in string_operand(v)
        if h == "datetime":
            if not args:
                return False
            ms = parse_datetime_millis(string_operand(args[0]))
            return False if ms is None else float(ms)
        if h == "limit":
            return True  # enforced at plan level (precompute.go:153-155)
        if h == "redact":
            ctx.obj = redact_document(ctx.obj, [string_operand(a) for a in args])
            return True
        if h == "now":
            return float(ctx.now_ms)
        if h in TIME_HELPERS:
            n = float_operand(args[0]) if args else 0.0
            return float(ctx.now_ms + int(n) * TIME_HELPERS[h])
        raise _Collapse()

    # Plain path lookup.
    result = path_get(ctx.obj, path.outer)
    if not result:
        raise _Collapse()  # eval.go:615-624
    return result[0] if len(result) == 1 else result


def _eval_binary(expr: BinaryOp, ctx: _Ctx, param_mode: bool = False) -> Any:
    ev = _eval_param if param_mode else _eval
    op = expr.op
    if op in ("and", "or"):
        left = ev(expr.left, ctx)
        lb = bool_operand(left)
        # short-circuit (eval.go:753-761) — also skips collapse on the right
        if op == "and" and not lb:
            return False
        if op == "or" and lb:
            return True
        right = ev(expr.right, ctx)
        rb = bool_operand(right)
        return (lb and rb) if op == "and" else (lb or rb)
    left = ev(expr.left, ctx)
    right = ev(expr.right, ctx)
    if op == "==":
        return _eql(left, right)
    if op == "!=":
        return _neq(left, right)
    return _cmp(op, left, right)


def _eval(expr: Expr, ctx: _Ctx) -> Any:
    if isinstance(expr, (NumberLit, StringLit, BoolLit, NilLit, RegexLit)):
        return _literal_value(expr)
    if isinstance(expr, Path):
        return _eval_path(expr, ctx)
    if isinstance(expr, SubExpression):
        # A parenthesized group is evaluated through evalExpression in the
        # reference (eval.go:649-651), which converts collapse to false at
        # that boundary (eval.go:786-790): `(missing == 1) or x` == `x`,
        # while un-parenthesized `missing == 1 or x` collapses entirely.
        try:
            return _eval(expr.expr, ctx)
        except _Collapse:
            return False
    if isinstance(expr, Unary):
        v = _eval(expr.operand, ctx)
        if expr.op == "!" and isinstance(v, bool):
            return not v
        if expr.op == "-" and isinstance(v, float) and not isinstance(v, bool):
            return -v
        return v
    if isinstance(expr, BinaryOp):
        return _eval_binary(expr, ctx)
    return False


def eval_doc(
    query: Query, obj: Any, now_ms: Optional[int] = None
) -> Tuple[bool, Any]:
    """Evaluate a parsed BFL query against one parsed JSON document.

    Returns ``(truth, new_obj)`` — like reference ``Eval``
    (``eval.go:802-812``); ``new_obj`` differs from ``obj`` only when
    ``redact`` ran, which edits ``obj`` in place (and can run even when
    truth is false, e.g. ``redact(...) and id == 0``,
    ``eval_test.go:123``)."""
    if query.expr is None:
        return True, obj
    ctx = _Ctx(obj, now_ms if now_ms is not None else int(time.time() * 1000))
    try:
        truth = bool_operand(_eval(query.expr, ctx))
    except _Collapse:
        truth = False
    return truth, ctx.obj


def eval_query(
    query: Query, doc: str, now_ms: Optional[int] = None
) -> Tuple[bool, str]:
    """:func:`eval_doc` on one JSON document text: ``(truth,
    new_json)``."""
    truth, obj = eval_doc(query, json.loads(doc), now_ms)
    return truth, json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def eval_obj(query: Query, obj: Any, now_ms: Optional[int] = None) -> bool:
    """Truthiness only, against an already-parsed document (dict)."""
    return eval_doc(query, obj, now_ms)[0]
