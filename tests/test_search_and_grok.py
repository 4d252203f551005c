"""Search semantics (P10/A3/T1) and grok-engine equivalence."""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.functions import grok
from go_distributed_log_search_spark.operators import parse, search
from go_distributed_log_search_spark.transcripts import transcripts_df

from .conftest import SF0001


@pytest.fixture(scope="module")
def parsed(spark):
    return parse.parse_turns(transcripts_df(spark, SF0001), dynamic=False).cache()


def test_limit_zero_returns_nothing(spark, parsed):
    # search.go:45-47 fast path
    assert search.substring_search(parsed, "error", limit=0).count() == 0


def test_default_limit_one(spark, parsed):
    # args.go:215-216: default limit 1
    assert search.substring_search(parsed, "error").count() == 1


def test_score_weights(spark, parsed):
    # ERROR turns: text(+10) + level(+8) [+ error_signature(+2) if it
    # contains 'error'] — search.go:230-243 weight classes
    top = search.substring_search(parsed, "error", limit=5000).collect()
    assert top, "expected matches"
    assert {r.score for r in top} <= {18.0, 20.0}
    oom = [r for r in top if "OutOfMemoryError" in r.text]
    assert all(r.score == 20.0 for r in oom)


def test_topk_deterministic(spark, parsed):
    a = search.substring_search(parsed, "error", limit=10).collect()
    b = search.substring_search(parsed, "error", limit=10).collect()
    assert [(r.conv_id, r.turn_idx) for r in a] == [(r.conv_id, r.turn_idx) for r in b]


def test_grok_udf_matches_catalyst(spark):
    """The Arrow-vectorized grok engine and the Catalyst regexp exprs must
    extract identical fields (both first-match-wins)."""
    t = transcripts_df(spark, SF0001)
    catalyst = parse.parse_turns(t, dynamic=False).select(
        "conv_id", "turn_idx", "level", "error_signature", "tool_call"
    )
    udf = parse.parse_turns_grok_udf(t).select(
        "conv_id", "turn_idx", "level", "error_signature", "tool_call"
    )
    key = lambda r: (r.conv_id, r.turn_idx)
    c_rows = sorted(catalyst.collect(), key=key)
    u_rows = sorted(udf.collect(), key=key)
    assert c_rows == u_rows


def test_grok_kv_key_must_be_plain_word(spark):
    """The ``key: `` prefix offset is len(key) + 2 only when the key
    matches itself literally, so any other key is refused."""
    text = F.col("text")
    for key in ("a.b", "x+", "(k)", "a b", ""):
        with pytest.raises(ValueError):
            grok.kv_long_expr(text, key)
        with pytest.raises(ValueError):
            grok.kv_str_expr(text, key)
    row = (
        spark.createDataFrame([("op: read bytes: 42",)], "text string")
        .select(grok.kv_str_expr(text, "op"), grok.kv_long_expr(text, "bytes"))
        .first()
    )
    assert tuple(row) == ("read", 42)


def test_match_predicate(spark, parsed):
    pred = search.match_predicate(["text", "level"], "WARN")
    n = parsed.filter(pred).count()
    # all WARN rows match (case-insensitive substring)
    warn = parsed.filter(F.col("level") == "WARN").count()
    assert n >= warn > 0


def test_phrase_topk_overlap_and_guards(spark):
    """Overlapping occurrences count ("a a a" has TWO "a a" starts);
    short docs (len < K) and non-adjacent terms never match."""
    df = spark.createDataFrame(
        [
            (1, "a a a"),            # overlapping: 2 occurrences
            (2, "x a y a"),          # terms present, never adjacent: 0
            (3, "a"),                # shorter than the phrase: 0
            (4, "b A-a c"),          # case/punct normalize: "a a" once
            (5, ""),                 # empty
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: r.n_occ
        for r in search.phrase_topk(df, ["a", "a"], k=10).collect()
    }
    assert got == {1: 2, 4: 1}


def test_phrase_topk_k_truncates_deterministically(spark):
    df = spark.createDataFrame(
        [(i, "p q r") for i in range(10)], ["doc_id", "text"]
    )
    rows = search.phrase_topk(df, ["p", "q"], k=3).collect()
    # equal counts -> doc_id ascending tiebreak
    assert [(r.doc_id, r.n_occ) for r in rows] == [(0, 1), (1, 1), (2, 1)]


def test_trending_terms_tiebreak_and_limit(spark):
    """Per-hour top-3 with (cnt desc, term asc) — rank is dense-free
    row_number, so the 3-row cut is deterministic across engines."""
    from datetime import datetime

    from go_distributed_log_search_spark.queries import q_trending_terms  # noqa: F401
    from pyspark.sql import Window as W

    rows = [
        ("c1", 0, datetime(2024, 1, 1, 10, 5), "b b a a c"),
        ("c1", 1, datetime(2024, 1, 1, 10, 25), "d d"),
        ("c1", 2, datetime(2024, 1, 1, 11, 0), "z"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts", "text"])
    from go_distributed_log_search_spark.functions.tokenize import tokenize

    counts = (
        df.select(
            F.window("ts", "1 hour").getField("start").alias("hour_start"),
            F.explode(tokenize(F.col("text"), "default")).alias("term"),
        )
        .groupBy("hour_start", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = W.partitionBy("hour_start").orderBy(F.col("cnt").desc(), F.col("term"))
    out = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .collect()
    )
    ten = sorted(
        [(r.term, r.cnt, r.rank) for r in out if r.hour_start.hour == 10]
    , key=lambda x: x[2])
    # a/b/d all have cnt 2 -> term-asc tiebreak; c (cnt 1) is cut at 3
    assert ten == [("a", 2, 1), ("b", 2, 2), ("d", 2, 3)]
