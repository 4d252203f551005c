"""Tokenizers — the text-field analysis modes of the reference schema.

Reference: /root/reference/src/config/mod.go:53-58 declares tokenizer
``default | raw | en_stem | whitespace`` per text field; Bluge applies them
at index time (src/commands/index.go:174). Here a tokenizer is a Column ->
ArrayType(String) expression used by the posting-count aggregation
(operators/aggregate.py) and text stats, all JVM-side. CLI index fields
are never tokenized (search is substring-based), so ``en_stem`` has no
engine counterpart; the YAML ``tokenizer:`` key is parsed and kept only.

- default:    lowercase, split on non-alphanumeric runs, drop empties
              (Lucene/Bluge standard-analyzer analog).
- whitespace: split on whitespace runs, case preserved.
- raw:        whole trimmed value is a single term (keyword field).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


TOKENIZERS = {
    "default": tokenize_default,
    "whitespace": tokenize_whitespace,
    "raw": tokenize_raw,
}


def tokenize(col: Column, mode: str = "default") -> Column:
    return TOKENIZERS[mode](col)
