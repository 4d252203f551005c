"""Parse stage — schema-driven projection of the transcript text column.

Reference analog: P1 schema-driven field projection
(/root/reference/src/commands/index.go:139-156): for each schema field
present in the doc, parse+emit the typed value and REMOVE it from the raw
doc; everything unclaimed lands in the ``_dynamic`` map
(src/commands/mod.go:23, index.go:154-156).

Here the "document" is a transcript turn and the claimed fields are the
grok-extracted structured columns (level, error_signature, tool_call,
src/dest/bytes/op/duration); the unclaimed ``key: value`` pairs of the text
body land in ``_dynamic: map<string,string>`` — computed with
``regexp_extract_all`` + ``map_from_arrays`` minus the claimed keys, fully
JVM-side.

Scale notes: one narrow projection over the scan — no shuffle, no UDF;
Catalyst prunes unused extraction exprs when downstream selects fewer
columns. At 100 TB this stage is scan-bound, exactly as it should be.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..functions import grok
from ..functions.sqltext import column_ref, string_literal

# keys the typed schema claims from the k:v body (P1 "delete from raw doc");
# src/dest stay unclaimed so they land in _dynamic — exercising the
# dynamic-field path (index.go:154-156) with real leftovers.
CLAIMED_KEYS = ("bytes", "op", "duration")

# Lineage tags (column metadata). A column cut out of ``text`` carries
# ``{SUBSTRING_OF: {"column": "text", "token": T}}``: every value of it, in
# string form, is a substring of that row's ``text``. ``text`` itself
# carries ``{PARSE_TOKEN: T}``. T is fresh per parse_turns call, so a
# ``text`` column replaced after parsing (no token, or another one) voids
# the tags; see ``substring_tagged``.
SUBSTRING_OF = "substring_of"
PARSE_TOKEN = "parse_token"


def _kv_sql(text: str, group: int) -> str:
    """SQL of the array of group ``group`` (1 the key, 2 the value) of every
    ``key: value`` pair in ``text``, in order."""
    pattern = string_literal(grok.KV_PATTERN)
    return (
        f"transform(regexp_extract_all({text}, {pattern}, 0), "
        f"_kv -> regexp_extract(_kv, {pattern}, {group}))"
    )


# lambda body keeping the keys (``_k``) the typed schema does not claim
_UNCLAIMED = "_k NOT IN (" + ", ".join(string_literal(k) for k in CLAIMED_KEYS) + ")"


def _dynamic_sql(text: str) -> str:
    # duplicate keys within one line are legal (free text can repeat
    # `src: ...`); map construction resolves them last-win via
    # spark.sql.mapKeyDedupPolicy=LAST_WIN (session.py) — the analog of
    # the reference overwriting a doc field on re-parse. Occurrence
    # counts (which the oracle checks) come from
    # unclaimed_kv_count_expr over the raw array, not from the map.
    return (
        f"map_filter(map_from_arrays({_kv_sql(text, 1)}, {_kv_sql(text, 2)}), "
        f"(_k, _v) -> {_UNCLAIMED})"
    )


def parse_turns(df: DataFrame, dynamic: bool = True) -> DataFrame:
    """transcripts -> typed columns + _dynamic map (P1-P9 analog).

    The projection is one ``selectExpr`` of SQL text, and the lineage tags
    go on in one ``to(schema)``: a few dozen driver round trips, where the
    same projection as Column-API calls takes a few hundred, and this plan
    is rebuilt by every query over the parsed frame. Every grok column and
    ``_dynamic`` is tagged as a substring of ``text`` (see
    ``SUBSTRING_OF``).
    """
    text = column_ref("text")
    fields = grok.turn_fields_sql(text)
    exprs = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    exprs += [f"{sql} AS {name}" for name, sql in fields.items()]
    tagged = set(fields)
    if dynamic:
        # defensive: the harness may run this in a session without
        # session.py's defaults; EXCEPTION (the default policy) would abort
        # the whole job on one repeated `key: value` in free text
        df.sparkSession.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        exprs.append(f"{_dynamic_sql(text)} AS _dynamic")
        tagged.add("_dynamic")
    out = df.selectExpr(*exprs)
    token = uuid.uuid4().hex
    tags = {name: {SUBSTRING_OF: {"column": "text", "token": token}} for name in tagged}
    tags["text"] = {PARSE_TOKEN: token}
    schema = StructType([
        StructField(f.name, f.dataType, f.nullable, {**f.metadata, **tags.get(f.name, {})})
        for f in out.schema.fields
    ])
    return out.to(schema)


def substring_tagged(schema: StructType, columns: list[str]) -> set[str]:
    """The columns of ``schema`` whose lineage tag names a column in
    ``columns`` that still carries the token of the same parse_turns call:
    every value of such a column is a substring of that column's value in
    the same row. A frame without tags, or whose ``text`` was replaced
    after parsing, has none. Reads the schema only: no job.

    The tags describe how the columns were produced, like the ``hot_keys``
    statistic: a union with a frame whose same-named columns were produced
    otherwise must drop them first (``withMetadata(name, {})``).
    """
    tokens = {f.name: f.metadata.get(PARSE_TOKEN) for f in schema.fields}
    out = set()
    for f in schema.fields:
        tag = f.metadata.get(SUBSTRING_OF)
        if tag and tag["column"] in columns and tokens.get(tag["column"]) == tag["token"]:
            out.add(f.name)
    return out


def unclaimed_kv_count_expr(text: str) -> Column:
    """Number of unclaimed `key: value` OCCURRENCES in the text column
    (duplicates counted, matching the DuckDB oracle's list semantics —
    F.size(_dynamic) would count distinct keys only)."""
    return F.expr(f"size(filter({_kv_sql(column_ref(text), 1)}, _k -> {_UNCLAIMED}))")


def parse_turns_grok_udf(df: DataFrame) -> DataFrame:
    """Same extraction via the Arrow-vectorized grok engine — the
    demonstrated slow path for non-Catalyst-expressible dictionaries.
    Used by tests to assert both engines agree; NOT the default."""
    return grok.grok_extract_pandas(
        df,
        "text",
        [
            "level=%{LOGLEVEL:level} sig=%{WORD:error_signature}",
            "level=%{LOGLEVEL:level}",
            "<tool:%{WORD:tool_call} ",
        ],
        ["level", "error_signature", "tool_call"],
    )


def parse_coverage(
    parsed: DataFrame,
    fields: tuple = (
        "level",
        "error_signature",
        "tool_call",
        "bytes",
        "op",
        "duration",
    ),
) -> DataFrame:
    """Grok-extraction coverage audit: for every extracted field, how
    many turns produced a non-null value and what fraction of the corpus
    that is — the parse-observability counter a production log pipeline
    alarms on (a pattern whose hit-rate collapses after an upstream
    format change is the #1 silent-corruption mode; the reference's
    analog is its corrupt-line quarantine count, jsonl_source.go).

    Shape: ONE scan + ONE global aggregate computing all per-field sums
    map-side (partial+final around a single 1-row exchange); stack()
    reshapes the 1-row result into |fields| rows driver-free. Adding a
    field adds a column to the same pass, never another scan.

    Output: (field, n_present, n_total, pct) ordered by field.
    """
    sums = parsed.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(F.col(f).isNotNull().cast("long")).alias(f"_{f}")
            for f in fields
        ],
    )
    stack_args = ", ".join(f"'{f}', _{f}" for f in fields)
    return (
        sums.selectExpr(
            "n_total",
            f"stack({len(fields)}, {stack_args}) AS (field, n_present)",
        )
        .select(
            "field",
            "n_present",
            "n_total",
            F.round(F.col("n_present") / F.col("n_total"), 4).alias("pct"),
        )
        .orderBy("field")
    )
