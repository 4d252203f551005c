"""As-of join operator: at-or-before matching, ties, unmatched rows,
and no cross-key leakage."""

from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators.asof import as_of_join


def _dfs(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "a"),
         (1, "2024-01-01 12:00:00", "b"),
         (2, "2024-01-01 09:00:00", "c"),   # before any right row for key 2
         (3, "2024-01-01 10:00:00", "d")],  # key has no right rows at all
        ["k", "ts_s", "tag"],
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100.0),  # tie with left 'a' -> matches
         (1, "2024-01-01 11:00:00", 200.0),
         (2, "2024-01-01 11:30:00", 300.0)],
        ["k", "rts_s", "price"],
    ).select("k", F.col("rts_s").cast("timestamp").alias("rts"), "price")
    return left, right


def test_asof_left_semantics(spark):
    left, right = _dfs(spark)
    out = {r.tag: (r.price, str(r.rts) if r.rts else None) for r in as_of_join(
        left, right, on="k", left_ts="ts", right_ts="rts", value_cols=["rts", "price"]
    ).collect()}
    assert out["a"] == (100.0, "2024-01-01 10:00:00")  # tie matches (>=)
    assert out["b"] == (200.0, "2024-01-01 11:00:00")  # latest at-or-before
    assert out["c"] == (None, None)                    # right row is later
    assert out["d"] == (None, None)                    # key absent on right
    assert len(out) == 4


def test_range_join_boundaries(spark):
    from go_distributed_log_search_spark.operators.asof import range_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 12:00:00", "e1")], ["k", "ts_s", "tag"]
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"), "tag")
    right = spark.createDataFrame(
        [(1, "2024-01-01 11:00:00", "lo_edge"),   # exactly -1h: inclusive
         (1, "2024-01-01 13:00:00", "hi_edge"),   # exactly +1h: inclusive
         (1, "2024-01-01 10:59:59", "too_early"),
         (1, "2024-01-01 13:00:01", "too_late"),
         (2, "2024-01-01 12:00:00", "wrong_key")],
        ["k", "rts_s", "name"],
    ).select("k", F.col("rts_s").cast("timestamp").alias("rts"), "name")
    got = sorted(r.name for r in range_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        lower_sec=-3600, upper_sec=3600, value_cols=["name"],
    ).collect())
    assert got == ["hi_edge", "lo_edge"]
