"""term_counts mode equality — every salting mode must return IDENTICAL
results (ADVICE r02: a skew split whose skew_col is not a group key emitted
duplicate group rows) — and the hot-key detector's result and job count."""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import aggregate


@pytest.fixture(scope="module")
def skewed(spark):
    # Zipf-ish: conv "hot" owns ~60% of rows, the rest spread thin
    rows = []
    for i in range(300):
        conv = "hot" if i % 5 < 3 else f"conv-{i % 37}"
        rows.append((conv, i, "errors", f"fail error code {i % 7} retry disk"))
    return spark.createDataFrame(rows, ["conv_id", "turn_idx", "sink", "text"])


def _counts(df):
    return {tuple(r)[:-1]: r.cnt for r in df.collect()}


def test_modes_identical(spark, skewed):
    base = _counts(
        aggregate.term_counts(skewed, hot_keys=None)
    )
    assert base  # non-empty
    for kwargs in (
        {"hot_keys": "auto"},
        {"hot_keys": ["hot"]},
        {"hot_keys": []},
    ):
        assert _counts(aggregate.term_counts(skewed, **kwargs)) == base, kwargs
    # "auto" trusts the conv_id statistic; a wrong one costs balance only
    stale = skewed.withMetadata("conv_id", {"hot_keys": ["conv-1", "absent"]})
    assert _counts(aggregate.term_counts(stale)) == base


def test_skew_col_not_in_group_cols_no_duplicates(spark, skewed):
    """Cold/hot branches both emit (sink, term) rows for hot convs' terms;
    the final re-aggregate must merge them."""
    out = aggregate.term_counts(
        skewed, group_cols=("sink",), hot_keys=["hot"]
    )
    rows = out.collect()
    keys = [(r.sink, r.term) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate group keys"
    plain = _counts(
        skewed.select(
            "sink", F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("sink", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert {(r.sink, r.term): r.cnt for r in rows} == plain


def test_detect_hot_keys_one_exact_job(spark, skewed):
    """The detector counts every key in ONE Spark job: "hot" owns 60% of
    the rows, every other conv under the 1/64 hot share. An empty input
    has no hot keys."""
    sc = spark.sparkContext
    sc.setJobGroup("detect_hot_keys", "detect_hot_keys")
    try:
        assert aggregate.detect_hot_keys(skewed, "conv_id") == ["hot"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("detect_hot_keys")) == 1
    empty = spark.createDataFrame([], skewed.schema)
    assert aggregate.detect_hot_keys(empty, "conv_id") == []
