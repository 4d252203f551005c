"""Hot keys as a transcripts-table statistic: counted once per cache into
the ``_hot_keys.json`` sidecar, carried as ``conv_id`` column metadata
through parse, enrich and route, and read by ``term_counts`` without a
Spark job."""

import glob
import json
import os

from pyspark.sql import functions as F

from go_distributed_log_search_spark import transcripts
from go_distributed_log_search_spark.operators import aggregate, enrich, parse, route

from .conftest import SF0001


def _jobs(spark, name, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(name))


def test_stats_survive_parse_enrich_route(spark):
    base = transcripts.transcripts_df(spark, SF0001)
    hot = aggregate.hot_keys_stat(base, "conv_id")
    assert hot and set(hot) >= {"conv-hot-0", "conv-hot-1"}
    enriched = enrich.enrich_turns(parse.parse_turns(base), spark)
    assert aggregate.hot_keys_stat(route.routed(enriched), "conv_id") == hot
    for sink in route.SINKS:
        assert aggregate.hot_keys_stat(route.routed_sink(enriched, sink), "conv_id") == hot


def test_term_counts_reads_stats_without_a_job(spark):
    """On a routed frame carrying the statistic, building term_counts
    submits no job; a frame without it pays the one detection job. The
    counts equal the unsalted plan's."""
    base = transcripts.transcripts_df(spark, SF0001)
    routed = route.routed(enrich.enrich_turns(parse.parse_turns(base), spark))
    with_stats, n = _jobs(spark, "tc_stats", lambda: aggregate.term_counts(routed))
    assert n == 0
    bare = base.withMetadata("conv_id", {}).withColumn("sink", F.lit("all"))
    _, n = _jobs(spark, "tc_bare", lambda: aggregate.term_counts(bare))
    assert n == 1
    plain = aggregate.term_counts(routed, hot_keys=None)
    assert sorted(map(tuple, with_stats.collect())) == sorted(map(tuple, plain.collect()))


def test_sidecar_written_once_and_rebuilt_when_missing(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE", str(tmp_path))
    first = transcripts.transcripts_df(spark, SF0001)
    (path,) = glob.glob(str(tmp_path / "transcripts_*.parquet"))
    sidecar = os.path.join(path, "_hot_keys.json")
    with open(sidecar) as f:
        hot = json.load(f)
    assert aggregate.hot_keys_stat(first, "conv_id") == hot
    assert not glob.glob(os.path.join(path, "_hot_keys.*.tmp"))

    # a second read costs only the parquet reader's own footer job
    _, n_read = _jobs(spark, "bare_read", lambda: spark.read.parquet(path))
    again, n = _jobs(spark, "second", lambda: transcripts.transcripts_df(spark, SF0001))
    assert n == n_read
    assert aggregate.hot_keys_stat(again, "conv_id") == hot

    # a cache from before the sidecar existed gets one on its first read
    os.remove(sidecar)
    rebuilt, n = _jobs(spark, "rebuild", lambda: transcripts.transcripts_df(spark, SF0001))
    assert n == n_read + 1
    with open(sidecar) as f:
        assert json.load(f) == hot
    assert aggregate.hot_keys_stat(rebuilt, "conv_id") == hot
