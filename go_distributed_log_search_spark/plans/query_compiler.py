"""Tantivy-ish query-string -> Catalyst Column compiler.

The reference ADVERTISES this syntax (README.md:35, args.go:221 example
``tenant_id:[60 TO 65} AND severity_text:INFO``) but its implemented
predicate is plain substring containment (search.go:228 — see SURVEY.md
§2.2 P10 note). We provide both: operators/search.py implements the
implemented semantics for parity; this module implements the advertised
syntax as a clearly-labeled extension, compiled entirely to Catalyst
expressions (col == lit, between, &, |).

Grammar (subset of Tantivy/Lucene query syntax, public docs):

    query   := clause (("AND" | "OR") clause)*
    clause  := ["NOT"] term
    term    := field ":" value
             | field ":" range
             | bare-word            (substring match over default field)
    range   := ("[" | "{") lo "TO" hi ("]" | "}")   -- incl/excl bounds

AND binds tighter than OR (Lucene behavior). ``*`` as lo/hi = unbounded.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<AND>AND\b) | (?P<OR>OR\b) | (?P<NOT>NOT\b)
      | (?P<RANGE>(?P<rf>[\w.]+):(?P<lb>[\[{])\s*(?P<lo>\S+)\s+TO\s+(?P<hi>\S+)\s*(?P<rb>[\]}]))
      | (?P<FIELD>(?P<ff>[\w.]+):(?P<fv>"[^"]*"|\S+))
      | (?P<BARE>"[^"]*"|\S+)
    )""",
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    m: re.Match


def _lex(q: str) -> list[_Tok]:
    toks, pos = [], 0
    while pos < len(q):
        m = _TOKEN.match(q, pos)
        if not m or m.end() == pos:
            raise ValueError(f"cannot tokenize query at: {q[pos:]!r}")
        for kind in ("AND", "OR", "NOT", "RANGE", "FIELD", "BARE"):
            if m.group(kind):
                toks.append(_Tok(kind, m))
                break
        pos = m.end()
    return toks


def _unquote(v: str) -> str:
    return v[1:-1] if len(v) >= 2 and v[0] == '"' and v[-1] == '"' else v


class QueryCompiler:
    """Compile a query string against a known set of columns.

    ``default_fields``: columns a bare word is substring-matched against
    (the implemented-semantics bridge).
    """

    def __init__(self, columns: dict[str, str], default_fields: list[str]):
        self.columns = columns  # name -> spark dtype simple string
        self.default_fields = default_fields

    def compile(self, query: str) -> Column:
        toks = _lex(query)
        col, pos = self._parse_or(toks, 0)
        if pos != len(toks):
            raise ValueError(f"trailing tokens in query: {query!r}")
        return col

    # OR = lowest precedence
    def _parse_or(self, toks, pos):
        left, pos = self._parse_and(toks, pos)
        while pos < len(toks) and toks[pos].kind == "OR":
            right, pos = self._parse_and(toks, pos + 1)
            left = left | right
        return left, pos

    def _parse_and(self, toks, pos):
        left, pos = self._parse_unary(toks, pos)
        while pos < len(toks) and toks[pos].kind == "AND":
            right, pos = self._parse_unary(toks, pos + 1)
            left = left & right
        return left, pos

    def _parse_unary(self, toks, pos):
        if pos < len(toks) and toks[pos].kind == "NOT":
            inner, pos = self._parse_unary(toks, pos + 1)
            return ~inner, pos
        return self._parse_term(toks, pos)

    def _cast(self, field: str, v: str):
        dtype = self.columns.get(field, "string")
        if dtype in ("bigint", "int", "smallint", "tinyint"):
            return int(v)
        if dtype in ("double", "float"):
            return float(v)
        return _unquote(v)

    def _parse_term(self, toks, pos):
        if pos >= len(toks):
            raise ValueError("unexpected end of query")
        t = toks[pos]
        if t.kind == "RANGE":
            f_, lo, hi = t.m.group("rf"), t.m.group("lo"), t.m.group("hi")
            lb, rb = t.m.group("lb"), t.m.group("rb")
            c = F.col(f_)
            cond = F.lit(True)
            if lo != "*":
                v = self._cast(f_, lo)
                cond = cond & (c >= v if lb == "[" else c > v)
            if hi != "*":
                v = self._cast(f_, hi)
                cond = cond & (c <= v if rb == "]" else c < v)
            return cond, pos + 1
        if t.kind == "FIELD":
            f_, v = t.m.group("ff"), t.m.group("fv")
            return (F.col(f_) == F.lit(self._cast(f_, v))), pos + 1
        if t.kind == "BARE":
            word = _unquote(t.m.group("BARE")).lower()
            cond = F.lit(False)
            for f_ in self.default_fields:
                cond = cond | (F.instr(F.lower(F.col(f_)), word) > 0)
            return cond, pos + 1
        raise ValueError(f"unexpected token {t.kind}")
