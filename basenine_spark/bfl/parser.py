"""BFL recursive-descent parser.

Parity target: the participle grammar in the reference
(``/root/reference/server/lib/parser.go:15-89``) *after* the in-place
annotation done by ``Precompute`` (``precompute.go:59-190``) — i.e. we
parse straight into the normalized AST of :mod:`.ast`.

Behavioral quirks reproduced on purpose (each one is pinned by the
reference's own tests):

* Empty query parses to a match-all ``Query(expr=None)`` (``parser.go:84``).
* A zero-argument call like ``x.startsWith()`` is *not* a call: participle
  leaves ``Parameters == nil`` so the reference treats the whole thing as a
  plain path ending in ``startsWith`` — which later collapses to false
  (``eval_test.go:100-103``).  Exceptions: ``json()`` / ``xml()``
  (``precompute.go:67-75``) and ``now()`` (``precompute.go:180-185``).
* After a bracket select or a ``json()``/``xml()`` call, a following ``.``
  swallows the REST of the expression as a sub-expression whose paths are
  re-rooted under the prefix (``parser.go:66`` SelectExpression.Expression +
  ``precompute.go:102-111``).  So ``a["k"].x == 1 and y == 2`` means
  ``a.k.x == 1 and a.k.y == 2`` in the reference, and we match that.
* ``limit(N)`` is extracted at parse/precompute time into ``Query.limit``;
  left-most wins (``precompute.go:45-54,153-155``).
* Time helpers fold to epoch-millis constants at compile time
  (``precompute.go:156-185``); handled in the evaluator/compiler, the parser
  just records the call.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from .ast import (
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


class BFLSyntaxError(ValueError):
    """Parse error with participle-style ``line:col: message`` text
    (golden error format: ``native_test.go`` /validate tests, e.g.
    ``1:1: unexpected token "="``)."""

    def __init__(self, line: int, col: int, message: str):
        self.line = line
        self.col = col
        super().__init__(f"{line}:{col}: {message}")


# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<float>\d+\.\d+)
  | (?P<int>\d+)
  | (?P<string>"(?:\\.|[^"\\])*")
  | (?P<char>'(?:\\.|[^'\\])*')
  | (?P<rawstring>`[^`]*`)
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<punct>==|!=|>=|<=|&&|\|\||[-!<>()\[\],.:*])
    """,
    re.VERBOSE,
)


class Token:
    __slots__ = ("kind", "value", "line", "col")

    def __init__(self, kind: str, value: str, line: int, col: int):
        self.kind = kind
        self.value = value
        self.line = line
        self.col = col

    def __repr__(self):  # pragma: no cover
        return f"Token({self.kind},{self.value!r}@{self.line}:{self.col})"


def tokenize(text: str) -> List[Token]:
    tokens: List[Token] = []
    pos = 0
    line = 1
    line_start = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if m is None:
            col = pos - line_start + 1
            if text[pos] in "\"'`":
                # Opening quote with no closing partner: participle's
                # text/scanner reports "literal not terminated" at the
                # position after the quote (parser_test.go:1243-1249
                # golden `2:5: literal not terminated`).
                raise BFLSyntaxError(line, col + 1, "literal not terminated")
            # Stray character outside the token set (e.g. a lone "="):
            # lex it as a single-rune punct token — the parser then
            # reports the reference's golden `unexpected token "="`
            # (participle's text/scanner lexer does the same;
            # server_test.go:268 validate table).
            tokens.append(Token("punct", text[pos], line, col))
            pos += 1
            continue
        kind = m.lastgroup
        value = m.group()
        col = pos - line_start + 1
        if kind == "ws":
            nl = value.count("\n")
            if nl:
                line += nl
                line_start = pos + value.rfind("\n") + 1
        else:
            tokens.append(Token(kind, value, line, col))
        pos = m.end()
    tokens.append(Token("eof", "<EOF>", line, len(text) - line_start + 1))
    return tokens


_ESCAPES = {
    "n": "\n",
    "t": "\t",
    "r": "\r",
    '"': '"',
    "'": "'",
    "\\": "\\",
    "a": "\a",
    "b": "\b",
    "f": "\f",
    "v": "\v",
    "0": "\0",
}


def _unquote(raw: str) -> str:
    """Dequote a String/Char/RawString token.

    The reference merely does ``strings.Trim(s, '\"')`` on the *already
    lexer-unescaped* token (``eval.go:612``); participle's lexer resolves
    Go escape sequences.  We resolve the common ones.
    """
    if raw.startswith("`"):
        return raw[1:-1]
    quote = raw[0]
    body = raw[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i]
        if c == "\\" and i + 1 < len(body):
            nxt = body[i + 1]
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
            if nxt == "u" and i + 5 < len(body):
                try:
                    out.append(chr(int(body[i + 2 : i + 6], 16)))
                    i += 6
                    continue
                except ValueError:
                    pass
            out.append(nxt)
            i += 2
            continue
        out.append(c)
        i += 1
    del quote
    return "".join(out)


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------


class _Parser:
    def __init__(self, tokens: List[Token]):
        self.tokens = tokens
        self.i = 0

    # -- token helpers ------------------------------------------------------

    def peek(self, offset: int = 0) -> Token:
        return self.tokens[min(self.i + offset, len(self.tokens) - 1)]

    def next(self) -> Token:
        tok = self.tokens[self.i]
        if tok.kind != "eof":
            self.i += 1
        return tok

    def at(self, value: str) -> bool:
        return self.peek().value == value and self.peek().kind in ("punct", "ident")

    def accept(self, value: str) -> Optional[Token]:
        if self.at(value):
            return self.next()
        return None

    def expect(self, value: str) -> Token:
        tok = self.peek()
        if not self.at(value):
            raise BFLSyntaxError(
                tok.line, tok.col, f'unexpected token "{tok.value}" (expected "{value}")'
            )
        return self.next()

    def error_unexpected(self) -> BFLSyntaxError:
        tok = self.peek()
        return BFLSyntaxError(tok.line, tok.col, f'unexpected token "{tok.value}"')

    # -- grammar ------------------------------------------------------------

    def parse_expression(self) -> Expr:
        return self.parse_logical()

    def parse_logical(self) -> Expr:
        left = self.parse_equality()
        tok = self.peek()
        if tok.kind == "ident" and tok.value in ("and", "or"):
            self.next()
            right = self.parse_logical()  # right-recursive, as in reference
            return BinaryOp(tok.value, left, right)
        return left

    def parse_equality(self) -> Expr:
        left = self.parse_comparison()
        if self.peek().value in ("==", "!=") and self.peek().kind == "punct":
            op = self.next().value
            right = self.parse_equality()
            return BinaryOp(op, left, right)
        return left

    def parse_comparison(self) -> Expr:
        left = self.parse_unary()
        if self.peek().value in (">=", "<=", ">", "<") and self.peek().kind == "punct":
            op = self.next().value
            right = self.parse_comparison()
            return BinaryOp(op, left, right)
        return left

    def parse_unary(self) -> Expr:
        tok = self.peek()
        if tok.kind == "punct" and tok.value in ("!", "-"):
            self.next()
            return Unary(tok.value, self.parse_unary())
        return self.parse_primary()

    def parse_primary(self) -> Expr:
        tok = self.peek()
        if tok.kind in ("float", "int"):
            self.next()
            return NumberLit(float(tok.value))
        if tok.kind in ("string", "char", "rawstring"):
            self.next()
            return StringLit(_unquote(tok.value))
        if tok.kind == "ident":
            if tok.value == "r" and self.peek(1).kind in ("string", "char", "rawstring"):
                self.next()
                pat = self.next()
                return RegexLit(_unquote(pat.value))
            if tok.value == "true":
                self.next()
                return BoolLit(True)
            if tok.value == "false":
                self.next()
                return BoolLit(False)
            if tok.value == "nil":
                self.next()
                return NilLit()
            return self.parse_call_expression()
        if tok.kind == "punct" and tok.value == "(":
            self.next()
            inner = self.parse_expression()
            self.expect(")")
            return SubExpression(inner)
        raise self.error_unexpected()

    # -- call / path expressions -------------------------------------------

    def parse_call_expression(self) -> Expr:
        """Parse ``Ident (('.' '*' | '.') Ident?)* Params? Select?``
        (reference ``parser.go:56-67``) into a normalized Path — applying
        the Precompute rules for json()/xml()/helpers inline."""
        segments: List = [Field(self.next().value)]

        # Dotted chain, with `.*` wildcards (parser.go:57).
        while self.at("."):
            nxt = self.peek(1)
            if nxt.kind == "punct" and nxt.value == "*":
                self.next()
                self.next()
                segments.append(Wildcard())
            elif nxt.kind == "ident":
                self.next()
                segments.append(Field(self.next().value))
            elif nxt.kind == "punct" and nxt.value == ".":
                break  # `..name` handled by select below
            else:
                break

        # Optional parameter list: `( expr, ... )`.
        has_call = False
        args: List[Expr] = []
        if self.at("("):
            self.next()
            if not self.at(")"):
                args.append(self.parse_parameter())
                while self.accept(","):
                    args.append(self.parse_parameter())
            self.expect(")")
            # Zero-arg call: participle leaves Parameters nil ⇒ NOT a call
            # (plain path that will collapse), except json/xml/now
            # (precompute.go:67-75,180-185).
            has_call = len(args) > 0
            last = segments[-1].name if isinstance(segments[-1], Field) else None
            if not has_call and last in ("json", "xml", "now"):
                has_call = True

        path = Path(outer=segments)
        if has_call:
            helper_seg = segments[-1]
            if not isinstance(helper_seg, Field):
                raise self.error_unexpected()
            path = Path(outer=segments[:-1], helper=helper_seg.name, args=args)
            if path.helper in ("json", "xml"):
                path = Path(outer=segments[:-1], docfunc=helper_seg.name)
                if args:
                    # json("arg") is grammatical; args are ignored by the
                    # reference's _json/xml helpers beyond the path param.
                    pass

        return self.parse_select(path)

    def parse_parameter(self) -> Expr:
        # Tagged parameter `tag: expr` (parser.go:69-75) — the tag parses
        # and is discarded: only the grammar-only `rule()` helper uses tags
        # and it always collapses (unknown helper, eval.go:641-644).
        if (
            self.peek().kind == "ident"
            and self.peek(1).kind == "punct"
            and self.peek(1).value == ":"
        ):
            self.next()
            self.next()
        return self.parse_expression()

    def parse_select(self, path: Path) -> Expr:
        """SelectExpression (parser.go:62-67): optional [idx], ["key"],
        ..ident, or `.` + subsumed expression."""
        in_doc = path.docfunc is not None

        def extend(seg) -> None:
            (path.inner if in_doc else path.outer).append(seg)

        progressed = False
        # `[int]` or `["key"]` / `[*]` — both optional & sequential.
        if self.at("[") and self.peek(1).kind == "int":
            self.next()
            extend(Index(int(self.next().value)))
            self.expect("]")
            progressed = True
        if self.at("[") and (
            self.peek(1).kind in ("string", "char", "rawstring")
            or (self.peek(1).kind == "punct" and self.peek(1).value == "*")
        ):
            self.next()
            tok = self.next()
            extend(Wildcard() if tok.value == "*" else Key(_unquote(tok.value)))
            self.expect("]")
            progressed = True
        if self.at("["):
            # Bracket with invalid contents (e.g. a float index): the
            # reference fails inside participle's key-select branch with
            # its expected-token set — golden string pinned by
            # server_test.go:270 (`request.path[3.14]`).
            bad = self.peek(1)
            raise BFLSyntaxError(
                bad.line,
                bad.col,
                f'unexpected token "{bad.value}" (expected (<string> '
                f'| <char> | <rawstring> | "*") "]")',
            )

        # `..name` recursive descent.
        if (
            self.at(".")
            and self.peek(1).kind == "punct"
            and self.peek(1).value == "."
            and self.peek(2).kind == "ident"
        ):
            self.next()
            self.next()
            extend(RecursiveDescent(self.next().value))
            return path

        # `.` + rest-of-expression, re-rooted under this path (the
        # subsumption quirk — precompute.go:102-111).
        if self.at(".") and (progressed or in_doc):
            self.next()
            rest = self.parse_expression()
            return _reroot(rest, path)

        return path


def _reroot(expr: Expr, prefix: Path) -> Expr:
    """Prepend ``prefix`` to every Path reachable in ``expr`` — mirrors
    Precompute's prependPath/jsonHelperPath propagation, which rewrites
    *every* call expression in the subsumed expression, including inside
    parenthesized sub-expressions (``precompute.go:102-111,125-134``)."""
    if isinstance(expr, Path):
        if prefix.docfunc is not None:
            # Re-root under the json()/xml() document.
            return Path(
                outer=list(prefix.outer),
                docfunc=prefix.docfunc,
                inner=list(prefix.inner) + list(expr.outer) + list(expr.inner),
                helper=expr.helper,
                args=expr.args,
            )
        return Path(
            outer=list(prefix.outer) + list(expr.outer),
            docfunc=expr.docfunc,
            inner=list(expr.inner),
            helper=expr.helper,
            args=expr.args,
        )
    if isinstance(expr, BinaryOp):
        return BinaryOp(expr.op, _reroot(expr.left, prefix), _reroot(expr.right, prefix))
    if isinstance(expr, Unary):
        return Unary(expr.op, _reroot(expr.operand, prefix))
    if isinstance(expr, SubExpression):
        return SubExpression(_reroot(expr.expr, prefix))
    return expr


# ---------------------------------------------------------------------------
# Limit extraction (precompute.go:153-155)
# ---------------------------------------------------------------------------


def _extract_limit(expr: Optional[Expr]) -> int:
    """Left-most ``limit(N)`` wins (backpropagate keeps first non-zero,
    precompute.go:45-54)."""
    if expr is None:
        return 0
    if isinstance(expr, Path):
        if expr.helper == "limit" and expr.args and not expr.outer:
            val = _literal_number(expr.args[0])
            if val is not None:
                return int(val)
        return 0
    if isinstance(expr, BinaryOp):
        left = _extract_limit(expr.left)
        return left if left != 0 else _extract_limit(expr.right)
    if isinstance(expr, Unary):
        return _extract_limit(expr.operand)
    if isinstance(expr, SubExpression):
        return _extract_limit(expr.expr)
    return 0


def _literal_number(expr: Expr) -> Optional[float]:
    if isinstance(expr, NumberLit):
        return expr.value
    if isinstance(expr, Unary) and expr.op == "-":
        inner = _literal_number(expr.operand)
        return None if inner is None else -inner
    if isinstance(expr, SubExpression):
        return _literal_number(expr.expr)
    if isinstance(expr, StringLit):
        try:
            return float(expr.value)
        except ValueError:
            return 0.0  # float64Operand: non-numeric string -> 0
    if isinstance(expr, BoolLit):
        return 1.0 if expr.value else 0.0
    return None


# ---------------------------------------------------------------------------
# Public API
# ---------------------------------------------------------------------------


def parse(text: str) -> Query:
    """Parse a BFL query string. Empty string ⇒ match-all
    (``parser.go:84-86``)."""
    if text.strip() == "":
        return Query(expr=None, text=text)
    tokens = tokenize(text)
    p = _Parser(tokens)
    expr = p.parse_expression()
    if p.peek().kind != "eof":
        raise p.error_unexpected()
    q = Query(expr=expr, text=text)
    q.limit = _extract_limit(expr)
    return q


def validate(text: str) -> Tuple[bool, str]:
    """/validate mode (M4): parse-only syntax check.

    Returns ``(True, "OK")`` or ``(False, "<line>:<col>: message")`` in the
    reference's error format (``native.go:605-622``)."""
    try:
        parse(text)
        return True, "OK"
    except BFLSyntaxError as e:
        return False, str(e)
