"""Tokenizers — the text-field analysis modes of the reference schema.

Reference: /root/reference/src/config/mod.go:53-58 declares tokenizer
``default | raw | en_stem | whitespace`` per text field; Bluge applies them
at index time (src/commands/index.go:174). Here a tokenizer is a Column ->
ArrayType(String) expression used by the posting-count aggregation
(operators/aggregate.py) and text stats. All JVM-side except en_stem's
Arrow-batched stemming pass.

- default:    lowercase, split on non-alphanumeric runs, drop empties
              (Lucene/Bluge standard-analyzer analog).
- whitespace: split on whitespace runs, case preserved.
- raw:        whole trimmed value is a single term (keyword field).
- en_stem:    default + the Porter2 (snowball english) stemmer — the
              algorithm Bluge itself applies (functions/stemmer.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .stemmer import porter2_stem

# Token = maximal alnum run of the lowercased text. Equivalent to
# split-on-[^a-z0-9]+ then dropping empties (the DuckDB oracle's form), but
# expressed as regexp_extract_all:
# - no empty tokens ever (no post-filter needed),
# - RegExpExtractAll caches the compiled Pattern per-operator when the
#   regex is foldable; StringSplit recompiles it per row,
# - no filter(arr, lambda) HOF — those knock the surrounding stage out of
#   whole-stage codegen into interpreted eval (measured 30-50x slower under
#   explode on the aggregation hot path).
DEFAULT_TOKEN_PATTERN = "[a-z0-9]+"

# kept for oracle documentation: the equivalent split form
DEFAULT_SPLIT_PATTERN = "[^a-z0-9]+"


def tokenize_default(col: Column) -> Column:
    return F.regexp_extract_all(F.lower(col), F.lit(DEFAULT_TOKEN_PATTERN), F.lit(0))


def tokenize_whitespace(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(r"\S+"), F.lit(0))


def tokenize_raw(col: Column) -> Column:
    return F.array(F.trim(col))


def _stem_tokens_impl(s: pd.Series) -> pd.Series:
    return s.map(
        lambda toks: None if toks is None else [porter2_stem(t) for t in toks]
    )


def _stem_tokens_udf():
    """array<string> -> array<string>, Porter2 stem per token
    (functions/stemmer.py), Arrow-batched. Built lazily: pandas_udf
    registration needs an active session."""
    return F.pandas_udf(_stem_tokens_impl, "array<string>")


def tokenize_en_stem(col: Column) -> Column:
    """default tokenization + the Porter2 (snowball english) stemmer —
    the same algorithm Bluge applies for ``en_stem`` (closes the
    round-2/3 classic-Porter delta; see functions/stemmer.py)."""
    return _stem_tokens_udf()(tokenize_default(col))


TOKENIZERS = {
    "default": tokenize_default,
    "whitespace": tokenize_whitespace,
    "raw": tokenize_raw,
    "en_stem": tokenize_en_stem,
}


def tokenize(col: Column, mode: str = "default") -> Column:
    return TOKENIZERS[mode](col)
