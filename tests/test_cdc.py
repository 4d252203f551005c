"""CDC compaction semantics: latest-wins, deterministic ordinal,
tombstone delete + resurrection."""

from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import cdc


def _log(spark, rows):
    return spark.createDataFrame(rows, "key string, ord int, op string, val int")


def test_latest_wins_and_tombstone_drops(spark):
    log = _log(spark, [
        ("a", 1, "upsert", 10),
        ("a", 2, "upsert", 20),   # latest for a -> survives with val 20
        ("b", 1, "upsert", 30),
        ("b", 2, "delete", 0),    # delete is latest -> b gone
    ])
    out = cdc.compact_latest(
        log, ["key"], ["ord"], delete_predicate=F.col("op") == "delete"
    )
    got = {(r.key, r.val) for r in out.collect()}
    assert got == {("a", 20)}


def test_delete_then_upsert_resurrects(spark):
    log = _log(spark, [
        ("a", 1, "upsert", 1),
        ("a", 2, "delete", 0),
        ("a", 3, "upsert", 3),    # post-delete upsert resurrects the key
    ])
    out = cdc.compact_latest(
        log, ["key"], ["ord"], delete_predicate=F.col("op") == "delete"
    )
    assert [(r.key, r.val) for r in out.collect()] == [("a", 3)]


def test_tie_broken_by_second_ordinal(spark):
    # same primary ordinal: the second order column decides, deterministically
    log = spark.createDataFrame(
        [("a", 1, 1, 10), ("a", 1, 2, 20)],
        "key string, ord int, seq int, val int",
    )
    out = cdc.compact_latest(log, ["key"], ["ord", "seq"])
    assert [r.val for r in out.collect()] == [20]


def test_no_delete_predicate_keeps_all_keys(spark):
    log = _log(spark, [("a", 1, "delete", 0), ("b", 1, "upsert", 5)])
    out = cdc.compact_latest(log, ["key"], ["ord"])
    assert {r.key for r in out.collect()} == {"a", "b"}


def test_gap_fill_semantics(spark):
    """Forward fill carries the last good value through gaps; a leading
    gap (no prior good value) stays NULL; fills never cross users."""
    from go_distributed_log_search_spark.queries import q_gap_fill
    import os, tempfile

    rows = [
        (1, 1, "2024-01-01 10:00:00", "view", 5.0),
        (1, 2, "2024-01-01 10:01:00", "error", 99.0),   # masked -> carries 5.0
        (1, 3, "2024-01-01 10:02:00", "click", 7.0),
        (2, 4, "2024-01-01 10:00:00", "error", 1.0),    # leading gap -> NULL
        (2, 5, "2024-01-01 10:01:00", "view", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_s string, event_type string, value double"
    ).select("user_id", "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
             "event_type", "value", F.lit("{}").alias("props"))
    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        out = {(r.user_id, r.event_id): r.filled_value
               for r in q_gap_fill(spark, d).collect()}
    assert out[(1, 1)] == 5.0
    assert out[(1, 2)] == 5.0          # gap filled from the previous good row
    assert out[(1, 3)] == 7.0
    assert out[(2, 4)] is None         # leading gap: nothing to carry
    assert out[(2, 5)] == 3.0          # and user 1's values never leak over


def test_skew_safe_join_equals_plain_join(spark):
    """The hot/cold split must be invisible in results, including NULL
    keys and an empty hot list."""
    from go_distributed_log_search_spark.operators.enrich import skew_safe_join

    fact = spark.createDataFrame(
        [("h", 1), ("h", 2), ("h", 3), ("c", 4), ("d", 5), (None, 6), ("x", 7)],
        "k string, v int",
    )
    dim = spark.createDataFrame(
        [("h", "hot"), ("c", "cold"), ("d", "cold2")], "k string, label string"
    )
    plain = {(r.k, r.v, r.label) for r in fact.join(dim, "k").collect()}
    split = {
        (r.k, r.v, r.label)
        for r in skew_safe_join(fact, dim, "k", ["h"]).collect()
    }
    assert split == plain
    empty = {
        (r.k, r.v, r.label)
        for r in skew_safe_join(fact, dim, "k", []).collect()
    }
    assert empty == plain


def test_skew_safe_join_hot_branch_broadcasts(spark):
    from go_distributed_log_search_spark.operators.enrich import skew_safe_join

    fact = spark.range(100).select(
        F.when(F.col("id") % 2 == 0, "hot").otherwise(
            F.concat(F.lit("k"), F.col("id"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    dim = fact.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    j = skew_safe_join(fact, dim, "k", ["hot"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_geomean_udaf_equals_catalyst_decomposition(spark):
    """The grouped-agg pandas UDAF must equal exp(avg(ln(|v|+1))) — the
    partial-aggregating Catalyst form that is the documented hot path."""
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from go_distributed_log_search_spark.functions.udaf import geomean_plus1

    udaf = {
        r.event_type: r.g
        for r in ev.groupBy("event_type")
        .agg(F.round(geomean_plus1("value"), 6).alias("g"))
        .collect()
    }
    builtin = {
        r.event_type: r.g
        for r in ev.groupBy("event_type")
        .agg(F.round(F.exp(F.avg(F.ln(F.abs(F.col("value")) + 1))), 6).alias("g"))
        .collect()
    }
    assert udaf == builtin


def test_sliding_window_fanout_is_window_over_slide(spark):
    """Every event must appear in exactly window/slide = 4 hopping windows:
    the sum of all window counts is 4x the row count."""
    from go_distributed_log_search_spark.streaming.windowed import (
        windowed_counts_batch,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_counts_batch(ev, window="1 hour", slide="15 minutes")
    total = out.agg(F.sum("n")).first()[0]
    assert total == 4 * ev.count()
