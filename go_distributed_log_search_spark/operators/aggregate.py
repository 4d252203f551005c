"""Aggregate stage — posting-count summaries with heavy-hitter skew salting.

Reference analog: A1, the inverted-index build
(/root/reference/src/commands/index.go:159-179): Bluge tokenizes each field
per its analyzer and accumulates term->postings. The materialized equivalent
is ``GROUP BY sink, conv_id, term -> count`` — per-sink, per-conversation
posting counts (BASELINE.json north_star).

Skew design (the north rule's "hash aggregates over salted keys"):

conv_id is Zipf-skewed (two hot convs own ~40% of turns in the test view;
worse at 10^12 turns). For a COUNT aggregate, Spark's partial aggregation
(map-side combine) already bounds any reducer's input to at most
#map-partitions rows per (group, term) key — so blanket salting is not just
unnecessary, it is actively harmful: salting EVERY key by N multiplies the
partial-agg hash-map cardinality by up to N (measured: the map stops
combining, BytesToBytesMap.growAndRehash dominates task CPU, and the
stage-1 shuffle approaches the un-aggregated explode size). Round 1 shipped
that blanket-salt version and it was the single largest CPU sink in the
pipeline.

What salting IS for: (a) keys hot enough that even #map-partitions partial
rows overload one reducer (requires huge clusters + extreme skew), and
(b) non-combinable aggregates (collect_list/set). We therefore salt ONLY
detected heavy-hitter keys:

    1. the hot set: keys above ``HOT_SHARE`` of the input (at most
       ``MAX_HOT_KEYS``), broadcast as a literal IN-list. It is a table
       statistic: ``transcripts.transcripts_df`` counts it once per cache
       and carries it as the ``hot_keys`` metadata of ``conv_id``, which
       every derived frame (parse, enrich, route, filters, joins) keeps,
       so reading it costs no job. Only a frame without the statistic
       pays ``detect_hot_keys``: one exact count job, per-key row counts
       (a small hash aggregate, one row per distinct key) plus the input
       total from an ``Observation`` on the same scan. A sample would save
       nothing: it still reads, and on a routed input parses, every row.
    2. stage 1: groupBy(group, term, salt) where salt = hash(turn_idx) % N
       for hot keys, 0 otherwise -> partial counts. Cold keys aggregate
       fully here; hot keys split across <= N reducers.
    3. stage 2: groupBy(group, term) -> sum. Input is ~result-sized.

``hot_keys=None`` (plain single-shuffle agg) and an explicit key list are
also supported; tests pin all modes to identical results.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions.tokenize import tokenize

NSALT = 16
# column-metadata key of the hot-key statistic (a list of key values)
HOT_KEYS = "hot_keys"
# heavy-hitter threshold: a key owning > 1/(2 * shuffle partitions) of the
# data can straggle a reducer; below that, partial agg absorbs it.
HOT_SHARE = 1.0 / 64
MAX_HOT_KEYS = 64


def detect_hot_keys(df: DataFrame, key_col: str) -> list:
    """Heavy-hitter keys of ``key_col``: the (at most ``MAX_HOT_KEYS``)
    keys owning more than ``HOT_SHARE`` of the rows, most frequent first.

    One Spark job, exact: the per-key counts are a hash aggregate over the
    distinct keys, and the input total is observed on the same scan (a
    scalar, not a window over an empty partitionBy, which would funnel
    every distinct key through ONE task). An empty input has no hot keys.
    """
    seen = Observation()
    keys = df.select(key_col).observe(seen, F.count(F.lit(1)).alias("rows"))
    top = (
        keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col(key_col))
        .limit(MAX_HOT_KEYS)
        .collect()
    )
    total = seen.get["rows"]
    return [r[0] for r in top if r["c"] > total * HOT_SHARE]


def hot_keys_stat(df: DataFrame, key_col: str) -> list | None:
    """The hot keys ``key_col`` carries as column metadata (set where its
    table is written, see ``transcripts.transcripts_df``), or None when
    the frame has no such statistic. Reads the schema only: no job."""
    return df.schema[key_col].metadata.get(HOT_KEYS)


def _terms(
    df: DataFrame, group_cols: tuple[str, ...], text_col: str, tokenizer: str,
    extra: list | None = None,
) -> DataFrame:
    """Exploded (group..., term) rows.

    Hot-path discipline: the empty-token filter (``raw`` yields one empty
    term for blank text) runs AFTER the explode as a plain scalar predicate. Filtering inside the array with the
    ``filter(arr, lambda)`` higher-order function would knock the whole
    Generate out of whole-stage codegen into interpreted eval
    (ArrayFilter.eval per row) — measured 30-50x slower on this stage.
    """
    return df.select(
        *group_cols,
        *(extra or []),
        F.explode(tokenize(F.col(text_col), tokenizer)).alias("term"),
    ).filter(F.col("term") != "")


def term_counts(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("sink", "conv_id"),
    text_col: str = "text",
    tokenizer: str = "default",
    hot_keys: str | Iterable | None = "auto",
    num_partitions: int | None = None,
) -> DataFrame:
    """(group..., term) -> cnt posting counts. Grouped by ``conv_id`` (the
    Zipf-skewed key), they are skew-split into a pre-partitioned cold
    branch and a salted two-stage hot branch; without it, they are one
    plain hash aggregate, where partial aggregation does the heavy lifting.

    ``num_partitions`` sizes the cold-branch exchange; it bounds per-task
    aggregation-state (distinct groups per task ~ total_groups /
    num_partitions). On this sandbox hash-agg throughput falls off a cliff
    beyond ~10^5 in-flight groups per task (BytesToBytesMap growth +
    page-fault cost), so size it to data, not to cores: default
    2 x defaultParallelism, and callers benchmarking across parallelism
    levels should pin it (identical plan at N and 4N cores).

    Why not one big groupBy: (conv_id, term) is a NEAR-UNIQUE key — posting
    counts are almost input-sized, so partial aggregation combines nothing
    while its per-task hash map holds hundreds of thousands of string keys
    (measured on this sandbox: a plain groupBy over 55M exploded tokens ran
    >30x slower than the shape below purely on BytesToBytesMap growth/spill;
    the map stage's FastHashMap/BytesToBytesMap dominated task CPU).

    Shape (cold keys — everything but detected heavy hitters):
        repartition(conv_id) of the COMPACT pre-explode rows (shuffle
        payload = the text column once, not 40x exploded tokens), then
        explode + aggregate. HashPartitioning(conv_id) satisfies the
        ClusteredDistribution of (group..., term), so Catalyst fuses
        partial+final into ONE stage after the exchange — no intermediate
        shuffle of the near-input-sized aggregate. At 100 TB the same plan
        is exchange-free if the Iceberg table is bucketed by conv_id.

    Shape (hot keys — the Zipf head, north rule "salted keys"):
        hot conversations are few, so their (conv, term) domain is small
        and REPEATS heavily — exactly where partial agg + salting shine:
        stage 1 groupBy(group..., term, salt = hash(turn_idx) % NSALT)
        bounds any reducer's share of a hot conv to 1/NSALT; stage 2
        re-sums. Without the split, one task would own 20%+ of all turns.

    The union of both branches scans the input twice; the scan is the cheap
    part (column-pruned compact rows) and the hot predicate is pushed to
    the scan. Results are identical across modes (pinned by tests).

    ``hot_keys="auto"`` takes the hot set from the ``hot_keys`` metadata of
    ``conv_id`` (``hot_keys_stat``; frames derived from
    ``transcripts_df`` / ``transcripts_scaled_df`` carry it) and runs
    ``detect_hot_keys``' one count job only for a frame without it. A
    stale or wrong list costs balance, never correctness: the output does
    not depend on the hot set.
    """
    skew_col = "conv_id"
    if skew_col not in group_cols:
        return _terms(df, group_cols, text_col, tokenizer).groupBy(
            *group_cols, "term"
        ).agg(F.count(F.lit(1)).alias("cnt"))

    if hot_keys == "auto":
        hot_keys = hot_keys_stat(df, skew_col)
        if hot_keys is None:
            hot_keys = detect_hot_keys(df, skew_col)
    hot = list(hot_keys or [])

    # null-safe complement: a NULL skew key must land in the cold branch,
    # not be dropped by three-valued logic
    nparts = num_partitions or 2 * df.sparkSession.sparkContext.defaultParallelism
    cold_src = (
        df.filter(~F.coalesce(F.col(skew_col).isin(*hot), F.lit(False))) if hot else df
    )
    cold = _terms(cold_src.repartition(nparts, skew_col), group_cols, text_col, tokenizer)
    cold_agg = cold.groupBy(*group_cols, "term").agg(F.count(F.lit(1)).alias("cnt"))
    if not hot:
        return cold_agg

    hot_src = df.filter(F.col(skew_col).isin(*hot))
    hot_terms = _terms(
        hot_src, group_cols, text_col, tokenizer,
        extra=[F.pmod(F.hash("turn_idx"), F.lit(NSALT)).alias("_salt")],
    )
    stage1 = hot_terms.groupBy(*group_cols, "term", "_salt").agg(
        F.count(F.lit(1)).alias("_partial")
    )
    hot_agg = stage1.groupBy(*group_cols, "term").agg(F.sum("_partial").alias("cnt"))
    # conv_id is a group key, so each (group..., term) row comes from
    # exactly one branch and the union needs no re-aggregation
    return cold_agg.unionByName(hot_agg)


def ordering_check(df: DataFrame) -> DataFrame:
    """North-rule 'stable turn ordering' invariant as a DataFrame:
    per conversation, rows where row_number-by-turn_idx disagrees with
    turn_idx (must be 0) plus turn stats. Uses an explicit repartition by
    conv_id + sortWithinPartitions — the pattern every order-sensitive
    stage must follow (SURVEY.md §4.2)."""
    from pyspark.sql import Window as W

    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return (
        df.repartition("conv_id")
        .sortWithinPartitions("conv_id", "turn_idx")
        .withColumn("_rn", F.row_number().over(w) - 1)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.max("turn_idx").alias("max_turn"),
            F.sum(F.when(F.col("_rn") != F.col("turn_idx"), 1).otherwise(0)).alias(
                "order_violations"
            ),
        )
    )
