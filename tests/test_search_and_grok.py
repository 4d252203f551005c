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
    for key in ("a.b", "x+", "(k)", "a b", ""):
        with pytest.raises(ValueError):
            grok.kv_long_sql("text", key)
        with pytest.raises(ValueError):
            grok.kv_str_sql("text", key)
    row = (
        spark.createDataFrame([("op: read bytes: 42",)], "text string")
        .selectExpr(grok.kv_str_sql("text", "op"), grok.kv_long_sql("text", "bytes"))
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


# the benchmark's six queries (broad, medium, narrow), then edge cases:
# tag fragments, regex and LIKE metacharacters, quotes, non-ASCII, empty
TAG_QUERIES = [
    "stream", "window", "error", "hdfs_read", "tombstone", "quorum",
    "level", "=", "err", "ERROR", "op: ", "9000", "'", "\\", "%", "_", "ü",
    "", '""',
]
TAGGED = {"level", "error_signature", "tool_call", "bytes", "op", "duration"}


def _untagged(df):
    for name in TAGGED | {"_dynamic", "text"}:
        if name in df.columns:
            df = df.withMetadata(name, {})
    return df


def _hits(df, q, **kw):
    return [tuple(r) for r in search.substring_search(df, q, **kw)
            .select("conv_id", "turn_idx", "score").collect()]


def test_tags_mark_parse_columns_as_substrings_of_text(parsed):
    fields = search.DEFAULT_SEARCH_FIELDS
    assert parse.substring_tagged(parsed.schema, fields) == TAGGED
    # the source column itself must be searched for a tag to count
    assert parse.substring_tagged(parsed.schema, ["level", "op"]) == set()
    assert parse.substring_tagged(_untagged(parsed).schema, fields) == set()


def test_tagged_search_equals_full_predicate(spark, parsed):
    """Skipping the tagged columns in the filter returns exactly the rows
    and scores of the full P10 predicate, for every query, with a limit
    that covers every match."""
    plain = _untagged(parsed)
    n = parsed.count()
    for q in TAG_QUERIES:
        assert _hits(parsed, q, limit=n) == _hits(plain, q, limit=n), q
    # the map-scoring form: _dynamic is tagged too
    dyn = parse.parse_turns(transcripts_df(spark, SF0001), dynamic=True)
    assert "_dynamic" in parse.substring_tagged(dyn.schema, ["text"])
    kw = dict(limit=n, string_fields=["text"], map_fields=["_dynamic"])
    for q in ("9000", "src", "hdfs", "/10.10.", "error", ""):
        assert _hits(dyn, q, **kw) == _hits(_untagged(dyn), q, **kw), q


def test_replaced_text_voids_tags(parsed):
    """A text column replaced after parsing no longer holds the tagged
    values, so search falls back to the full predicate: rows found only
    through level still come back."""
    replaced = parsed.withColumn("text", F.lit("nothing here"))
    assert parse.substring_tagged(replaced.schema, search.DEFAULT_SEARCH_FIELDS) == set()
    n = parsed.count()
    got = _hits(replaced, "error", limit=n)
    expected = sorted(
        ((r.conv_id, r.turn_idx, 8.0 + (2.0 if "error" in r.error_signature.lower() else 0.0))
         for r in parsed.filter(F.col("level") == "ERROR").collect()),
        key=lambda t: (-t[2], t[0], t[1]),
    )
    assert expected and got == expected


def _filters(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Filter " in ln]


def test_tagged_filter_runs_no_regexp(spark):
    # an input no cached frame shares a plan with: where the cached fixture
    # stands in, level is a stored column, not an extraction
    turns = spark.createDataFrame(
        [("c", 0, "assistant", None, None, "level=ERROR sig=AuthFailure x")],
        "conv_id string, turn_idx int, role string, tool string, ts timestamp, text string",
    )
    parsed = parse.parse_turns(turns, dynamic=False)
    filters = _filters(search.substring_search(parsed, "error", limit=10))
    assert filters and not any("regexp" in f for f in filters), filters
    # without the tags the filter extracts level, op and error_signature
    plain = _filters(search.substring_search(_untagged(parsed), "error", limit=10))
    assert any("regexp" in f for f in plain), plain


def test_plan_build_driver_round_trips(spark):
    """Building the parse projection and a search plan takes a few dozen
    py4j calls from the driver, not the hundreds a Column-API chain makes
    (each Column-API call is one or more round trips)."""
    client = spark.sparkContext._gateway._gateway_client
    base = transcripts_df(spark, SF0001)
    calls = []
    send = client.send_command

    def counting(*args, **kwargs):
        calls.append(1)
        return send(*args, **kwargs)

    client.send_command = counting
    try:
        parsed = parse.parse_turns(base)
        n_parse = len(calls)
        calls.clear()
        search.substring_search(parsed, "error", limit=100)
        n_search = len(calls)
    finally:
        del client.send_command
    assert n_parse <= 40, n_parse
    assert n_search <= 40, n_search
