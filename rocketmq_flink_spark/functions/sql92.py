"""SQL92 message-property filter (reference P2: MessageSelector.bySql).

The reference pushes an SQL92 predicate over user properties to the
broker, which evaluates it per message when `enablePropertyFilter=true`
(docker/conf/broker.conf:96; example
src/main/java/org/apache/rocketmq/flink/example/PropertyFilterExamples.java:24).
Our local broker simulation does the same: the `sql` source option is
compiled ONCE per scan and evaluated against each message's property
bag inside the reader (the "broker side" of this engine), before rows
ever reach Spark.

Grammar (the subset RocketMQ's FilterSpi supports, per its public filter
documentation): comparisons (= <> != > >= < <=), AND/OR/NOT,
[NOT] IN (...), [NOT] BETWEEN x AND y, IS [NOT] NULL, parentheses,
numeric / single-quoted string / TRUE|FALSE literals, identifiers naming
properties. RocketMQ semantics are preserved: properties are strings;
a comparison is numeric when the literal side is numeric and the
property parses as a number; a missing property makes any comparison
(other than IS NULL) false.

Two backends over one AST (VERDICT r7 item 5):

- `compile_sql92` — the reference-shaped per-row closure over a
  {property: value} dict (the broker evaluates per message). Kept as
  the plan-time validator and the semantic model the arrow backend is
  tested against.
- `compile_sql92_arrow` — the scan hot path: one `map_lookup` per
  referenced property pulls the values out of the Arrow props column,
  then the whole tree evaluates as numpy column arithmetic (C loops,
  no per-message Python frames). The grammar is closed, so this
  backend covers every expression the parser accepts; equality with
  the row backend is property-tested across the sql92 corpus.

Catalyst note: on the DataFrame surface the same predicate is simply
`df.filter("props['item'] = 'iphone 12'")` — full SQL92 for free. This
module exists for the option-driven path, where the filter must run
below the DataFrame layer (exactly where the reference's broker runs
it).
"""

from __future__ import annotations

import re
from collections.abc import Callable

__all__ = ["compile_sql92", "compile_sql92_arrow", "Sql92Error"]


class Sql92Error(ValueError):
    """Invalid SQL92 filter expression."""


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>-?\d+(?:\.\d+)?)
      | (?P<str>'(?:[^']|'')*')
      | (?P<op><>|!=|>=|<=|=|>|<)
      | (?P<lpar>\()
      | (?P<rpar>\))
      | (?P<comma>,)
      | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "IN", "BETWEEN", "IS", "NULL", "TRUE", "FALSE"}


def _tokenize(text: str) -> list[tuple[str, str]]:
    out: list[tuple[str, str]] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip() == "":
                break
            raise Sql92Error(f"unexpected character at {pos}: {text[pos:pos+10]!r}")
        pos = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "word":
            up = val.upper()
            if up in _KEYWORDS:
                out.append((up, up))
            else:
                out.append(("ident", val))
        elif kind == "str":
            out.append(("lit", val[1:-1].replace("''", "'")))
        elif kind == "num":
            out.append(("lit", float(val)))
        else:
            out.append((kind if kind != "op" else val, val))
    out.append(("eof", ""))
    return out


class _Parser:
    """Recursive-descent parser producing an AST of plain tuples:
    ("or"/"and", l, r), ("not", x), ("is_null", operand, want_null),
    ("in", operand, frozenset, negate), ("between", operand, lo, hi,
    negate), ("cmp", op, left, right); operands are ("ident", name)
    or ("lit", value)."""

    def __init__(self, tokens: list[tuple[str, str]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def take(self, kind: str | None = None) -> tuple[str, str]:
        tok = self.toks[self.i]
        if kind is not None and tok[0] != kind:
            raise Sql92Error(f"expected {kind}, got {tok[0]} ({tok[1]!r})")
        self.i += 1
        return tok

    # expr := and_expr (OR and_expr)*
    def expr(self):
        node = self.and_expr()
        while self.peek()[0] == "OR":
            self.take()
            node = ("or", node, self.and_expr())
        return node

    def and_expr(self):
        node = self.not_expr()
        while self.peek()[0] == "AND":
            self.take()
            node = ("and", node, self.not_expr())
        return node

    def not_expr(self):
        if self.peek()[0] == "NOT":
            self.take()
            return ("not", self.not_expr())
        return self.primary()

    def primary(self):
        if self.peek()[0] == "lpar":
            self.take()
            node = self.expr()
            self.take("rpar")
            return node
        return self.comparison()

    def _operand(self):
        kind, val = self.peek()
        if kind == "ident":
            self.take()
            return ("ident", val)
        if kind == "lit":
            self.take()
            return ("lit", val)
        if kind in ("TRUE", "FALSE"):
            self.take()
            return ("lit", kind == "TRUE")
        raise Sql92Error(f"expected identifier or literal, got {kind} ({val!r})")

    def comparison(self):
        left = self._operand()
        kind, _ = self.peek()

        negate = False
        if kind == "NOT":
            self.take()
            kind, _ = self.peek()
            if kind not in ("IN", "BETWEEN"):
                raise Sql92Error("NOT must precede IN or BETWEEN here")
            negate = True

        if kind == "IS":
            self.take()
            want_null = True
            if self.peek()[0] == "NOT":
                self.take()
                want_null = False
            self.take("NULL")
            return ("is_null", left, want_null)

        if kind == "IN":
            self.take()
            self.take("lpar")
            items = [self._literal()]
            while self.peek()[0] == "comma":
                self.take()
                items.append(self._literal())
            self.take("rpar")
            return ("in", left, frozenset(_as_str(v) for v in items), negate)

        if kind == "BETWEEN":
            self.take()
            lo = self._operand()
            self.take("AND")
            hi = self._operand()
            return ("between", left, lo, hi, negate)

        if kind in ("=", "<>", "!=", ">", ">=", "<", "<="):
            op = self.take()[0]
            return ("cmp", op, left, self._operand())

        raise Sql92Error(f"expected comparison operator, got {kind}")

    def _literal(self):
        kind, val = self.take()
        if kind == "lit":
            return val
        if kind in ("TRUE", "FALSE"):
            return kind == "TRUE"
        raise Sql92Error(f"expected literal, got {kind} ({val!r})")


def _parse(expression: str):
    parser = _Parser(_tokenize(expression))
    ast = parser.expr()
    if parser.peek()[0] != "eof":
        raise Sql92Error(f"trailing input at token {parser.i}")
    return ast


def sql92_idents(ast) -> frozenset[str]:
    """All property names an AST references."""
    out: set[str] = set()

    def walk(node):
        tag = node[0]
        if tag in ("or", "and"):
            walk(node[1])
            walk(node[2])
        elif tag == "not":
            walk(node[1])
        elif tag in ("is_null", "in"):
            if node[1][0] == "ident":
                out.add(node[1][1])
        elif tag == "between":
            for opnd in (node[1], node[2], node[3]):
                if opnd[0] == "ident":
                    out.add(opnd[1])
        elif tag == "cmp":
            for opnd in (node[2], node[3]):
                if opnd[0] == "ident":
                    out.add(opnd[1])

    walk(ast)
    return frozenset(out)


# ---------------------------------------------------------------------------
# Row backend: AST -> closure over a property dict (per-message, the
# reference broker's evaluation shape).
# ---------------------------------------------------------------------------


def _compile_row(node) -> Callable[[dict], bool]:
    tag = node[0]
    if tag == "or":
        l, r = _compile_row(node[1]), _compile_row(node[2])
        return lambda p: l(p) or r(p)
    if tag == "and":
        l, r = _compile_row(node[1]), _compile_row(node[2])
        return lambda p: l(p) and r(p)
    if tag == "not":
        inner = _compile_row(node[1])
        return lambda p: not inner(p)
    if tag == "is_null":
        _, left, want_null = node
        return lambda p: (_value(left, p) is None) == want_null
    if tag == "in":
        _, left, strs, negate = node

        def in_fn(p, left=left, strs=strs, negate=negate):
            v = _value(left, p)
            if v is None:
                return False
            hit = _as_str(v) in strs
            return (not hit) if negate else hit

        return in_fn
    if tag == "between":
        _, left, lo, hi, negate = node

        def between_fn(p, left=left, lo=lo, hi=hi, negate=negate):
            v, a, b = _value(left, p), _value(lo, p), _value(hi, p)
            if v is None or a is None or b is None:
                return False
            ok = _compare(v, a) >= 0 and _compare(v, b) <= 0
            return (not ok) if negate else ok

        return between_fn
    if tag == "cmp":
        _, op, left, right = node

        def cmp_fn(p, left=left, right=right, op=op):
            a, b = _value(left, p), _value(right, p)
            if a is None or b is None:
                return False
            c = _compare(a, b)
            return {
                "=": c == 0, "<>": c != 0, "!=": c != 0,
                ">": c > 0, ">=": c >= 0, "<": c < 0, "<=": c <= 0,
            }[op]

        return cmp_fn
    raise Sql92Error(f"unknown AST node {tag}")


def _value(operand, props):
    tag, v = operand
    if tag == "lit":
        return v
    return props.get(v)


def _as_str(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v == int(v):
        return str(int(v))
    return str(v)


def _compare(a, b) -> int:
    """RocketMQ-style comparison: numeric when both sides are numeric
    (property strings parse), else string; booleans compare as
    true/false strings."""
    an, bn = _as_num(a), _as_num(b)
    if an is not None and bn is not None:
        return (an > bn) - (an < bn)
    sa, sb = _as_str(a), _as_str(b)
    return (sa > sb) - (sa < sb)


def _as_num(v) -> float | None:
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(str(v).strip())
    except (TypeError, ValueError):
        return None


def compile_sql92(expression: str) -> Callable[[dict], bool]:
    """Compile an SQL92 property-filter expression into a predicate over
    a {property: value} dict. Raises Sql92Error on malformed input (the
    factory-validation analog: fail at plan time, not per message)."""
    return _compile_row(_parse(expression))


# ---------------------------------------------------------------------------
# Vector backend: AST -> numpy column program over the Arrow props map
# (the scan hot path — VERDICT r7 item 5).
#
# Each operand becomes four aligned columns: string value (props are
# map<string,string>, so ident values ARE _as_str-canonical), numeric
# value, is-numeric flag, and validity. _compare's dynamic
# numeric-or-string dispatch is a per-row np.where over the two
# comparison results — bit-identical to the row backend, C-speed.
# ---------------------------------------------------------------------------


class _Side:
    """One comparison operand as aligned columns. String and numeric
    forms materialize LAZILY — an ident only referenced by IS NULL
    never pays the parse, one only compared as a string never pays
    pd.to_numeric."""

    __slots__ = ("_obj", "valid", "_s", "_num", "_isnum", "lit_isnum")

    def __init__(self, filled_obj, valid):
        self._obj = filled_obj  # object ndarray, nulls already ""
        self.valid = valid
        self._s = self._num = self._isnum = None
        # literal sides record statically whether they are numeric so a
        # pure string comparison (e.g. color = 'red') never triggers the
        # ident side's numeric parse at all; None = ident (dynamic)
        self.lit_isnum: bool | None = None

    @property
    def s(self):
        if self._s is None:
            self._s = self._obj.astype("U")
        return self._s

    def _parse_num(self):
        import numpy as np
        import pandas as pd

        num = pd.to_numeric(
            pd.Series(self._obj), errors="coerce"
        ).to_numpy("float64")
        isnum = ~np.isnan(num)
        # residual pass: strings pandas rejects but float() accepts
        # ('nan', 'inf', '1_0', ...) — per-row only on the residue,
        # preserving exact _as_num semantics (a parsed-NaN property IS
        # numeric and compares equal to every number, quirky but
        # faithful). float() can only succeed on a string containing a
        # digit or inf/nan, so the residue is pre-filtered with
        # vectorized substring checks — a pure-string column ('red',
        # 'blue', ...) never enters the Python loop.
        cand = self.valid & ~isnum
        if cand.any():
            low = np.char.lower(self.s)
            maybe = np.zeros_like(cand)
            for tok in "0123456789":
                maybe |= np.char.find(low, tok) >= 0
            maybe |= np.char.find(low, "inf") >= 0
            maybe |= np.char.find(low, "nan") >= 0
            for i in np.flatnonzero(cand & maybe):
                nv = _as_num(self._obj[i])
                if nv is not None:
                    num[i] = nv
                    isnum[i] = True
        self._num, self._isnum = num, isnum

    @property
    def num(self):
        if self._num is None:
            self._parse_num()
        return self._num

    @property
    def isnum(self):
        if self._isnum is None:
            self._parse_num()
        return self._isnum


def _lit_side(v, n):
    import numpy as np

    nv = _as_num(v)
    side = _Side(None, np.broadcast_to(np.asarray(True), n))
    side._s = np.broadcast_to(np.asarray(_as_str(v)), n)
    side._num = np.broadcast_to(
        np.float64(nv if nv is not None else np.nan), n
    )
    side._isnum = np.broadcast_to(np.asarray(nv is not None), n)
    side.lit_isnum = nv is not None
    return side


def _ident_side(looked) -> _Side:
    """looked: the map_lookup result (Arrow string array, null where
    the property is absent). Validity and null-fill stay Arrow-side;
    no per-row Python in the common path."""
    import pyarrow.compute as pc

    valid = pc.is_valid(looked).to_numpy(zero_copy_only=False)
    filled = pc.fill_null(looked, "").to_numpy(zero_copy_only=False)
    return _Side(filled, valid)


def _vec_compare(a: _Side, b: _Side):
    """Elementwise _compare: (c in {-1,0,1}, both-defined mask)."""
    import numpy as np

    c_str = (a.s > b.s).astype(np.int8) - (a.s < b.s).astype(np.int8)
    if a.lit_isnum is False or b.lit_isnum is False:
        # a non-numeric literal side makes the comparison statically a
        # string comparison — never touch (or parse) the numeric forms
        return c_str, a.valid & b.valid
    both_num = a.isnum & b.isnum
    c_num = (a.num > b.num).astype(np.int8) - (a.num < b.num).astype(np.int8)
    return np.where(both_num, c_num, c_str), a.valid & b.valid


def _vec_eval(node, sides: dict, n):
    import numpy as np

    tag = node[0]
    if tag == "or":
        return _vec_eval(node[1], sides, n) | _vec_eval(node[2], sides, n)
    if tag == "and":
        return _vec_eval(node[1], sides, n) & _vec_eval(node[2], sides, n)
    if tag == "not":
        return ~_vec_eval(node[1], sides, n)
    if tag == "is_null":
        _, left, want_null = node
        valid = _vec_side(left, sides, n).valid
        return ~valid if want_null else valid.copy()
    if tag == "in":
        _, left, strs, negate = node
        side = _vec_side(left, sides, n)
        hit = np.isin(side.s, sorted(strs))
        return (hit ^ negate) & side.valid
    if tag == "between":
        _, left, lo, hi, negate = node
        v = _vec_side(left, sides, n)
        a = _vec_side(lo, sides, n)
        b = _vec_side(hi, sides, n)
        c1, v1 = _vec_compare(v, a)
        c2, v2 = _vec_compare(v, b)
        ok = (c1 >= 0) & (c2 <= 0)
        return (ok ^ negate) & v1 & v2
    if tag == "cmp":
        _, op, left, right = node
        c, valid = _vec_compare(
            _vec_side(left, sides, n), _vec_side(right, sides, n)
        )
        if op == "=":
            r = c == 0
        elif op in ("<>", "!="):
            r = c != 0
        elif op == ">":
            r = c > 0
        elif op == ">=":
            r = c >= 0
        elif op == "<":
            r = c < 0
        else:
            r = c <= 0
        return r & valid
    raise Sql92Error(f"unknown AST node {tag}")


def _vec_side(operand, sides: dict, n) -> _Side:
    tag, v = operand
    if tag == "lit":
        key = ("lit", v if not isinstance(v, bool) else ("bool", v))
        if key not in sides:
            sides[key] = _lit_side(v, n)
        return sides[key]
    return sides[v]


class ArrowSql92Predicate:
    """Vectorized SQL92 predicate over an Arrow map<string,string>
    column. `mask(props)` returns a pyarrow boolean array aligned with
    the input — feed it straight to `Table.filter`."""

    def __init__(self, expression: str):
        self.ast = _parse(expression)
        self.idents = sql92_idents(self.ast)

    def mask(self, props):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(props)
        sides: dict = {}
        for name in self.idents:
            looked = pc.map_lookup(props, query_key=name, occurrence="last")
            if isinstance(looked, pa.ChunkedArray):
                looked = looked.combine_chunks()
            sides[name] = _ident_side(looked)
        return pa.array(np.asarray(_vec_eval(self.ast, sides, n), dtype=bool))


def compile_sql92_arrow(expression: str) -> ArrowSql92Predicate:
    """Compile an SQL92 property filter for the Arrow scan hot path.
    Covers the full grammar; raises Sql92Error on malformed input."""
    return ArrowSql92Predicate(expression)
