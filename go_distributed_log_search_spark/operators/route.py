"""Route stage — tag-based fan-out to per-sink tables.

Reference analog: each ingest batch becomes exactly one index file
registered in the catalog (S5, /root/reference/src/commands/mod.go:263-371,
insert :362-365) with its doc_count in the footer (A2, mod.go:314-347).
Here one pass over the parsed+enriched turns fans out to 3+ sink tables
(mirroring index-shard routing, BASELINE.json north_star):

    sink_errors          level = ERROR
    sink_tool_calls      tool is set or a <tool:...> marker parsed
    sink_assistant_turns role = assistant

A row may satisfy several predicates and lands in EVERY matching sink (like
a doc indexed under several shards). ``with_sink_tags`` computes the tag
array once; the writer persists the exploded ``routed`` frame and appends
each sink with a cheap filter — single-pass economics (SURVEY.md §4
"fan-out router").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINKS = ("errors", "tool_calls", "assistant_turns")

# Shared predicate spec: ANSI SQL accepted VERBATIM by both Spark SQL
# and DuckDB. The router (sink_predicates), the fan-out audit
# (route_overlap), and the DuckDB oracles (oracles.py _ROUTED /
# route_overlap) are all generated from this one table — add or change
# a sink HERE and every consumer, including the cross-engine oracle,
# picks it up; nothing can drift.
SINK_PREDICATES_SQL: dict[str, str] = {
    "errors": "level = 'ERROR'",
    "tool_calls": "tool IS NOT NULL OR tool_call IS NOT NULL",
    "assistant_turns": "role = 'assistant'",
}


def sink_predicates() -> dict[str, Column]:
    return {s: F.expr(SINK_PREDICATES_SQL[s]) for s in SINKS}


def with_sink_tags(df: DataFrame) -> DataFrame:
    """Compute the tag array once per row (array<string> ``sinks``).

    Unmatched slots stay NULL inside the array; callers must drop them
    after exploding. array_compact() here would be an ArrayFilter HOF —
    interpreted eval, breaking whole-stage codegen on the fan-out hot path.
    """
    preds = sink_predicates()
    tags = F.array(*[F.when(preds[s], F.lit(s)) for s in SINKS])
    return df.withColumn("sinks", tags)


def routed(df: DataFrame) -> DataFrame:
    """Exploded (sink, row) view — one output row per (row, matching sink).

    This is the logical fan-out. The physical writer
    (streaming/microbatch.commit_batch) persists this exploded frame once
    and runs one filtered append per sink plus the agg_terms aggregate over
    it. The null-tag filter runs on the exploded scalar column (codegen)
    rather than inside the array (HOF).

    Shape alternatives measured (3.2M turns, local[8], sink-count job,
    round 3): this explode+filter 4.63s; array_compact before the explode
    5.35s (the compact is an extra array copy that doesn't pay for the
    rows it saves the Generate); filter() HOF inside the array 6.20s
    (interpreted eval, as documented above); conditional-SUM aggregation
    0.16s — 29x faster but ONLY valid when the query wants counts, since
    it never materializes the routed rows (route_counts-style consumers
    could use it; the router itself exists to emit rows to sinks).
    Also measured: the writer's persist-then-3-filtered-passes shape costs
    5.05s and three re-computed passes 5.76s for the COUNT job — the
    cache materialization outweighs the Generate here; the writer still
    uses persist because its passes APPEND full rows (re-parsing per sink
    would triple the parse, and appends can't share one explode without
    materializing it anyway).
    """
    return (
        with_sink_tags(df)
        .withColumn("sink", F.explode("sinks"))
        .filter(F.col("sink").isNotNull())
        .drop("sinks")
    )


def routed_sink(df: DataFrame, sink: str) -> DataFrame:
    """Single-sink slice of :func:`routed` with the predicate pushed BEFORE
    the fan-out (round-6, guide §3.3 "explode multiplies; filter first"):
    ``routed(df).filter(sink = s)`` is row-identical to ``df.filter(pred_s)``
    with the sink tag attached as a literal — the explode emits tag ``s``
    exactly when ``pred_s`` holds — but the explode form builds and
    explodes the full 3-tag array for EVERY row and needs every sink's
    predicate columns, while this form evaluates one predicate and lets
    Catalyst prune the other sinks' parse columns at the scan. Consumers
    that aggregate a single sink (q_agg_terms, q_terms_whitespace) read
    ~15% of the rows with ~1/3 of the parse work. Multi-sink consumers
    keep :func:`routed`. Same output schema (sink appended last)."""
    return df.filter(F.expr(SINK_PREDICATES_SQL[sink])).withColumn(
        "sink", F.lit(sink)
    )


def route_counts(df: DataFrame) -> DataFrame:
    """A2 analog: per-sink row/conversation counts (lineage doc_count)."""
    return (
        routed(df)
        .groupBy("sink")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("conv_id").alias("n_convs"),
        )
    )


def route_overlap(parsed: DataFrame) -> DataFrame:
    """Sink fan-out audit: how many rows land in each COMBINATION of
    sinks — including the rows no sink claims ('(none)', silently
    dropped by the fan-out) and multi-sink rows (written 2-3 times,
    inflating downstream storage). The router's predicates are taken
    from sink_predicates(), so this audit can never drift from the
    routing it audits.

    Output (combo asc): (combo, n_sinks, n_turns, share).

    Scale shape: the combo label is a concat_ws over the same codegen'd
    CASE predicates the router uses (concat_ws skips NULLs — no array,
    no HOF, per the fan-out lesson in routed()'s docstring), collapsing
    straight into a ≤ 2^|sinks|-row aggregate; the share denominator is
    a window over that bounded table.
    """
    from pyspark.sql import Window

    preds = sink_predicates()
    combo = F.concat_ws("+", *[F.when(preds[s], F.lit(s)) for s in SINKS])
    # when/otherwise, not a bare cast: a NULL predicate (e.g. level IS
    # NULL vs = 'ERROR') must count 0, not poison the sum to NULL
    n_sinks = sum(
        (F.when(preds[s], 1).otherwise(0) for s in SINKS), F.lit(0)
    )
    agg = (
        parsed.select(
            F.when(combo == "", "(none)").otherwise(combo).alias("combo"),
            n_sinks.alias("n_sinks"),
        )
        .groupBy("combo", "n_sinks")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
    total = F.sum("n_turns").over(Window.partitionBy())
    return (
        agg.withColumn("share", F.round(F.col("n_turns") / total.cast("double"), 4))
        .orderBy("combo")
    )
