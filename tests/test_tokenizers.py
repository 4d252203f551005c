"""Tokenizer modes (config/mod.go:53-58): default / raw / whitespace,
oracle-backed via the terms_* entry queries and pinned here."""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.functions import tokenize


@pytest.fixture(scope="module")
def one(spark):
    def run(expr):
        return spark.range(1).select(expr.alias("v")).first().v

    return run


def test_default_lowercases_and_splits(one):
    got = one(tokenize.tokenize(F.lit("Hello, World-42!  x"), "default"))
    assert got == ["hello", "world", "42", "x"]


def test_whitespace_preserves_case_and_punct(one):
    got = one(tokenize.tokenize(F.lit("  Hello,  World-42! "), "whitespace"))
    assert got == ["Hello,", "World-42!"]


def test_raw_whole_value_single_term(one):
    got = one(tokenize.tokenize(F.lit("  ERROR Level  "), "raw"))
    assert got == ["ERROR Level"]


def test_bpe_ish_token_budget(one):
    from go_distributed_log_search_spark.operators import textstats

    text = F.lit("don't stop, it's 42km!")
    assert one(textstats.ws_token_count_expr(text)) == 4
    # don | 't | ' stop' | ',' | ' it' | 's-contraction | ' 42' | km | '!'
    assert one(textstats.bpe_token_count_expr(text)) == 9


def test_approx_distinct_close_to_exact(spark):
    from .conftest import SF0001
    from go_distributed_log_search_spark.queries import q_approx_distinct

    for r in q_approx_distinct(spark, SF0001).collect():
        assert abs(r.approx_distinct - r.exact_distinct) <= max(
            3, 0.05 * r.exact_distinct
        ), r


def test_vocab_oov_stats_exact(spark):
    """Vocabulary = top-V by (count desc, term asc); OOV counted per doc
    against that exact boundary."""
    from go_distributed_log_search_spark.operators.textstats import vocab_oov_stats

    df = spark.createDataFrame(
        [
            (1, "aa aa bb cc", "s1"),   # aa:2 bb:1 cc:1
            (2, "aa bb bb dd", "s2"),   # dd ties cc at count 1
        ],
        ["doc_id", "text", "source"],
    )
    # counts: aa=3, bb=3, cc=1, dd=1; V=3 -> vocab {aa, bb, cc}
    # (cc beats dd on the term-asc tie-break)
    rows = {
        r.source: (r.n_docs, r.n_tokens, r.n_oov_tokens, r.avg_oov_rate)
        for r in vocab_oov_stats(df, vocab_size=3).collect()
    }
    assert rows == {"s1": (1, 4, 0, 0.0), "s2": (1, 4, 1, 0.25)}


def test_vocab_oov_skips_empty_docs(spark):
    from go_distributed_log_search_spark.operators.textstats import vocab_oov_stats

    df = spark.createDataFrame(
        [(1, "x y", "s"), (2, "", "s"), (3, "...", "s")],
        ["doc_id", "text", "source"],
    )
    [r] = vocab_oov_stats(df, vocab_size=10).collect()
    assert (r.n_docs, r.n_tokens, r.n_oov_tokens) == (1, 2, 0)


def test_lm_perplexity_exact(spark):
    """Hand-computed bigram add-k model: docs "a b a b" and "a b c".
    Bigrams (a,b)x3 (b,a)x1 (b,c)x1; c_a=3, c_b=2; V=3; k=0.5.
    P(a,b)=3.5/4.5, P(b,a)=P(b,c)=1.5/3.5.
    doc1 ppl = exp(-(2*ln(7/9)+ln(3/7))/3) = 1.5683
    doc2 ppl = exp(-(ln(7/9)+ln(3/7))/2)   = sqrt(3) = 1.7321
    avg = 1.6502; the 1-token doc contributes nothing."""
    from go_distributed_log_search_spark.operators.textstats import lm_perplexity

    df = spark.createDataFrame(
        [(1, "a b a b", "s"), (2, "a b c", "s"), (3, "a", "s")],
        ["doc_id", "text", "source"],
    )
    [r] = lm_perplexity(df).collect()
    assert (r.source, r.n_docs) == ("s", 2)
    assert abs(r.avg_ppl - 1.6502) < 5e-5, r.avg_ppl
