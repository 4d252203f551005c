"""Enrich stage — broadcast dimension-lookup joins.

The reference has no relational joins (SURVEY.md §2.3); the north rule adds
a broadcast lookup join of each turn against role/tool dimension tables.
Both dims are tiny (4-5 rows) so the joins are forced broadcast — no shuffle
is added to the hot path, which is what keeps this stage scale-free at
10^12 turns: each executor holds the dim hash map and streams its scan
partition through, preserving upstream partitioning for the aggregate stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..transcripts import dim_roles_df, dim_tools_df


def skew_safe_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    hot_keys: list,
) -> DataFrame:
    """Hot-key-split inner join for a FACT-SIZED dim (too big to broadcast
    whole — e.g. per-conversation metadata at 10^12 conversations) joined
    on a Zipf-skewed key: a plain hash join sends every row of a hot key
    to ONE reducer (the 40%-of-corpus conv-hot straggler), while this
    splits:

    - hot branch: the handful of hot dim rows broadcast; the fact's hot
      rows stream map-side through a BroadcastHashJoin — no shuffle, no
      straggler;
    - cold branch: ordinary shuffled hash join, now free of the hot keys
      so its partitions are balanced.

    The union preserves join semantics exactly (each fact row is in
    exactly one branch; pinned against a plain join by tests and oracle).
    Same hot-list discipline as aggregate.term_counts: split on DETECTED
    heavy hitters only — blanket splitting doubles plan size for nothing.
    NULL keys fall out of both branches, as they match nothing in an
    inner join.
    """
    if not hot_keys:
        return fact.join(dim, on=key)
    is_hot = F.col(key).isin(*hot_keys)
    hot = fact.filter(is_hot).join(F.broadcast(dim.filter(is_hot)), on=key)
    cold = fact.filter(~is_hot).join(dim.filter(~is_hot), on=key)
    return hot.unionByName(cold)


def enrich_turns(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Left broadcast joins: role dim always matches; tool dim is left so
    unmatched/NULL tools survive with null attributes (FIXTURES.md §2)."""
    return df.join(F.broadcast(dim_roles_df(spark)), on="role", how="left").join(
        F.broadcast(dim_tools_df(spark)), on="tool", how="left"
    )


def enrich_coverage(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Dimension-join coverage audit for the enrich stage: per role, how
    many turns matched the role dimension, how many tool turns matched
    the tool dimension, and the tool match rate — the schema-drift alarm
    (a new tool name or role appearing upstream shows up here as a
    falling match rate before it silently NULLs downstream attributes).

    Output (role asc): (role, n_turns, n_role_matched, n_tool_turns,
    n_tool_matched, tool_match_rate); tool_match_rate is NULL for roles
    with no tool turns.

    Scale shape: the same two broadcast left joins as enrich_turns (the
    audit reuses the production operator, auditing exactly what runs),
    then one |roles|-cardinality aggregate.
    """
    e = enrich_turns(df, spark)
    tool_turns = F.col("tool").isNotNull()
    tool_matched = tool_turns & F.col("tool_family").isNotNull()
    return (
        e.groupBy("role")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("role_kind").isNotNull().cast("long")).alias(
                "n_role_matched"
            ),
            F.sum(tool_turns.cast("long")).alias("n_tool_turns"),
            F.sum(tool_matched.cast("long")).alias("n_tool_matched"),
            F.round(
                F.sum(tool_matched.cast("int"))
                / F.nullif(F.sum(tool_turns.cast("int")), F.lit(0)).cast(
                    "double"
                ),
                4,
            ).alias("tool_match_rate"),
        )
        .orderBy("role")
    )
