"""Driver-side evaluation of ``doc_filter`` predicates over the warm_local
docstats snapshot.

The warm_local tier caches a filter's allowed doc ids per
``str(doc_filter)``. Spark renders a Column in prefix form, e.g.
``Column<'and(=(lang, 'python'), in(repo, 'a', 'b'))'>``, so that key
already holds the whole predicate. ``lower`` parses it and evaluates it
with numpy over the pandas docstats frame: no py4j round trip, no
Catalyst plan, no Row unpickling. It recognizes exactly:

- ``=``, ``<=>``, ``in``, ``isNull``, ``isNotNull``, ``!``, ``and``,
  ``or``, and ``<``, ``<=``, ``>``, ``>=`` on integer operands only;
- operands: a bare name equal to a docstats column, or a literal: a
  ``'...'`` string without a backslash, an integer with an optional
  ``L`` suffix, ``true``, ``false`` or ``NULL``.

Semantics are Spark's. ``!``, ``and`` and ``or`` use three-valued
(Kleene) logic, and a NULL result is not kept. ``=`` against NULL
matches nothing; ``<=>`` is NULL-safe. A string column compares only
with strings and an integer column only with integers (a bool is not an
integer).

Every other form returns None and the caller evaluates the Column
through Spark, which stays the semantic authority: float, date and
timestamp columns, integer columns holding NULLs (pandas stores them as
floats), collated strings, string ordering, ``F.expr`` SQL text,
function calls, casts, unknown or spaced names.
"""

from __future__ import annotations

import operator
import re

import numpy as np
import pandas as pd
from pyspark.sql import types as T

_TOKEN = re.compile(
    r"(?P<str>'[^'\\]*')"
    r"|(?P<int>-?\d+L?)(?![\w.])"
    r"|(?P<fn><=>|<=|>=|[=<>!]|and|or|in|isNull|isNotNull)\("
    r"|(?P<word>[A-Za-z_]\w*)"
    r"|(?P<sep>, |\))"
)
_PREFIX, _SUFFIX = "Column<'", "'>"
_ORDER = {"<": operator.lt, "<=": operator.le, ">": operator.gt,
          ">=": operator.ge}
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_I64 = np.iinfo(np.int64)
_FALSE = np.bool_(False)


class _Unlowerable(Exception):
    """The predicate is outside the lowered grammar."""


def _column(name: str, pdf: pd.DataFrame, schema: T.StructType,
            cache: dict):
    """``(kind, values, null)`` of a docstats column, cached per name;
    raises for a column the grammar does not cover."""
    got = cache.get(name)
    if got is None:
        got = ()
        if name in schema.names:
            t, s = schema[name].dataType, pdf[name]
            if t == T.StringType() and s.dtype == object:
                v = s.to_numpy()
                null = pd.isna(v)
                got = ("str", v, null if null.any() else _FALSE)
            elif type(t) in _INT_TYPES and s.dtype.kind == "i":
                got = ("int", s.to_numpy(np.int64), _FALSE)
        cache[name] = got
    if not got:
        raise _Unlowerable(name)
    return got


class _Lowering:
    """Recursive-descent evaluator over the rendering's tokens. A
    predicate evaluates to ``(true, null)`` numpy bools (arrays over the
    docstats rows, or scalars); ``true & null`` is never set."""

    def __init__(self, tokens: list, pdf, schema, cache):
        self.tokens, self.pos = tokens, 0
        self.pdf, self.schema, self.cache = pdf, schema, cache

    def next(self):
        if self.pos >= len(self.tokens):
            raise _Unlowerable("truncated")
        tok = self.tokens[self.pos]
        self.pos += 1
        return tok

    def expect(self, sep: str):
        if self.next() != ("sep", sep):
            raise _Unlowerable(sep)

    def operand(self):
        """``(kind, value, null)``: a column's arrays or a literal."""
        kind, text = self.next()
        if kind == "str":
            return "str", text[1:-1], _FALSE
        if kind == "int":
            v = int(text.rstrip("L"))
            if not _I64.min <= v <= _I64.max:
                raise _Unlowerable(text)
            return "int", v, _FALSE
        if kind == "word":
            if text == "NULL":
                return "null", None, np.bool_(True)
            if text in ("true", "false"):
                return "bool", text == "true", _FALSE
            return _column(text, self.pdf, self.schema, self.cache)
        raise _Unlowerable(text)

    def pred(self, nested: bool):
        kind, text = self.next()
        if kind == "word" and text in ("true", "false"):
            return np.bool_(text == "true"), _FALSE
        if kind == "word" and text == "NULL" and nested:
            return _FALSE, np.bool_(True)  # Spark rejects a bare NULL filter
        if kind != "fn":
            raise _Unlowerable(text)
        if text == "!":
            v, n = self.pred(True)
            self.expect(")")
            return ~v & ~n, n
        if text in ("and", "or"):
            av, an = self.pred(True)
            self.expect(", ")
            bv, bn = self.pred(True)
            self.expect(")")
            if text == "and":
                true = av & bv
                false = (~av & ~an) | (~bv & ~bn)
            else:
                true = av | bv
                false = ~av & ~an & ~bv & ~bn
            return true, ~true & ~false
        if text in ("isNull", "isNotNull"):
            _, _, n = self.operand()
            self.expect(")")
            return (n if text == "isNull" else ~n), _FALSE
        if text == "in":
            return self.isin()
        a = self.operand()
        self.expect(", ")
        b = self.operand()
        self.expect(")")
        return self.compare(text, a, b)

    def compare(self, op: str, a, b):
        (ka, va, na), (kb, vb, nb) = a, b
        kinds = {ka, kb} - {"null"}
        if (len(kinds) != 1 or "bool" in kinds
                or (op in _ORDER and kinds != {"int"})):
            raise _Unlowerable(op)
        if op == "<=>":
            if ka == "null" or kb == "null":
                return (nb if ka == "null" else na), _FALSE
            eq = np.asarray(va == vb)  # ~ on a Python bool is -1 or -2
            return (eq & ~na & ~nb) | (na & nb), _FALSE
        if "null" in (ka, kb):
            return _FALSE, np.bool_(True)
        hit = np.asarray(va == vb if op == "=" else _ORDER[op](va, vb))
        null = na | nb
        return hit & ~null, null

    def isin(self):
        kx, vx, nx = self.operand()
        if kx not in ("str", "int"):
            raise _Unlowerable("in")
        vals, has_null = [], False
        while self.next() == ("sep", ", "):
            k, v, _ = self.operand()
            if k == "null":
                has_null = True
            elif k != kx or isinstance(v, np.ndarray):
                raise _Unlowerable("in")  # a mistyped or column item
            else:
                vals.append(v)
        self.pos -= 1
        self.expect(")")
        if not vals and not has_null:
            raise _Unlowerable("in()")
        if not isinstance(vx, np.ndarray):
            match = np.bool_(vx in vals)
        elif kx == "str":
            match = pd.Series(vx, copy=False).isin(vals).to_numpy()
        else:
            match = np.isin(vx, np.asarray(vals, dtype=np.int64))
        null = nx | (~match & has_null)
        return match & ~nx, null


def _tokens(text: str) -> list:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if m is None:
            raise _Unlowerable(text[pos:])
        out.append((m.lastgroup, m.group(m.lastgroup)))
        pos = m.end()
    return out


def lower(key: str, pdf: pd.DataFrame, schema: T.StructType,
          cache: dict) -> np.ndarray | None:
    """Rows of ``pdf`` kept by the Column whose ``str()`` is ``key``, as
    a boolean mask, or None when the predicate is outside the grammar.
    ``cache`` holds per-column arrays for the snapshot's lifetime."""
    if not (key.startswith(_PREFIX) and key.endswith(_SUFFIX)):
        return None
    try:
        low = _Lowering(_tokens(key[len(_PREFIX):-len(_SUFFIX)]), pdf,
                        schema, cache)
        keep, _ = low.pred(False)
        if low.pos != len(low.tokens):
            return None
    except _Unlowerable:
        return None
    return np.broadcast_to(keep, (len(pdf),))
