"""Round-4 session-2 extension operators: log-template mining, DSIR
importance weights, RRF hybrid fusion, token-entropy histogram.

Each test pins the operator's arithmetic on a hand-computable fixture;
sf0.01 oracle parity is covered by test_entry_oracle.py like every other
registered query.
"""

import math

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import sampling, search, textstats


# ---------------------------------------------------------------- templates


def test_log_templates_masks_and_counts(spark):
    df = spark.createDataFrame(
        [
            ("c1", "read 123 bytes from  shard 7"),
            ("c2", "read 99999 bytes from shard 0"),
            ("c1", "totally unique line"),
        ],
        ["conv_id", "text"],
    )
    out = {r["template"]: r for r in textstats.log_templates(df, k=10).collect()}
    assert out["read <num> bytes from shard <num>"]["n_rows"] == 2
    assert out["read <num> bytes from shard <num>"]["n_keys"] == 2
    assert out["totally unique line"]["n_rows"] == 1


def test_log_templates_topk_cut_deterministic(spark):
    # 3 templates tied at 1 row each, k=2 -> lexicographically smallest two
    df = spark.createDataFrame(
        [("c", "bb"), ("c", "aa"), ("c", "cc")], ["conv_id", "text"]
    )
    got = [r["template"] for r in textstats.log_templates(df, k=2).collect()]
    assert got == ["aa", "bb"]


# --------------------------------------------------------------------- DSIR


def test_dsir_target_source_scores_highest(spark):
    # target vocab disjoint from raw vocab -> target docs must be the
    # clear positive class and every raw doc negative
    rows = [(i, "alpha beta gamma delta", "tgt") for i in range(4)] + [
        (10 + i, "epsilon zeta eta theta", "bg") for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in sampling.dsir_weights(df, "tgt").collect()}
    assert out["tgt"]["avg_logratio"] > 0 > out["bg"]["avg_logratio"]
    assert out["tgt"]["n_positive"] == 4
    assert out["bg"]["n_positive"] == 0
    assert out["tgt"]["n_docs"] == out["bg"]["n_docs"] == 4


def test_dsir_weight_arithmetic_add_one(spark):
    # single shared token: smoothed ratio must be exactly
    # ln((t+1)/(t_tot+B)) - ln((r+1)/(r_tot+B)) per occurrence
    df = spark.createDataFrame(
        [(1, "tok tok", "tgt"), (2, "tok", "bg")],
        ["doc_id", "text", "source"],
    )
    out = {r["source"]: r for r in sampling.dsir_weights(df, "tgt", n_buckets=64).collect()}
    per_tok = math.log(3 / 66) - math.log(2 / 65)
    assert out["tgt"]["avg_logratio"] == pytest.approx(round(2 * per_tok, 4), abs=1e-4)
    assert out["bg"]["avg_logratio"] == pytest.approx(round(per_tok, 4), abs=1e-4)


# ---------------------------------------------------------------------- RRF


def test_rrf_fusion_arithmetic(spark):
    # docs 1..3 share the query term with tf 3/2/1 -> lex ranks 1/2/3.
    # embeddings: id 1 exactly matches the query vector (cos 1), id 2
    # orthogonal-ish, id 3 opposite -> sem ranks 1/2/3 as well.
    docs = spark.createDataFrame(
        [
            (1, "needle needle needle pad"),
            (2, "needle needle pad pad"),
            (3, "needle pad pad pad"),
        ],
        ["doc_id", "text"],
    )
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [2.0, 0.0]),
            (2, [1.0, 1.0]),
            (3, [-1.0, 0.1]),
        ],
        ["vec_id", "embedding"],
    )
    out = search.hybrid_rrf(docs, emb, ["needle"], query_vec_id=0, n=10, k=10)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[1]["lex_rank"] == 1 and rows[1]["sem_rank"] == 1
    assert rows[1]["rrf"] == pytest.approx(round(2 / 61, 6), abs=1e-6)
    assert rows[2]["rrf"] == pytest.approx(round(2 / 62, 6), abs=1e-6)
    # fused order: doc present at rank 1 in both beats everything
    ordered = [r["doc_id"] for r in out.collect()]
    assert ordered[0] == 1


def test_rrf_fusion_single_list_miss_is_null_rank(spark):
    docs = spark.createDataFrame(
        [(1, "needle"), (2, "haystack only")], ["doc_id", "text"]
    )
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (2, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {r["doc_id"]: r for r in search.hybrid_rrf(
        docs, emb, ["needle"], query_vec_id=0, n=5, k=5
    ).collect()}
    assert rows[1]["sem_rank"] is None and rows[1]["lex_rank"] == 1
    assert rows[2]["lex_rank"] is None and rows[2]["sem_rank"] == 1
    assert rows[1]["rrf"] == rows[2]["rrf"] == pytest.approx(round(1 / 61, 6))


# ------------------------------------------------------------------ entropy


def test_token_entropy_known_values(spark):
    # "a a a a": H = 0 -> bucket 0; "a b c d": H = ln 4 ~ 1.3863 -> bucket 2
    df = spark.createDataFrame(
        [(1, "a a a a", "s"), (2, "a b c d", "s")],
        ["doc_id", "text", "source"],
    )
    rows = {r["bucket"]: r for r in textstats.token_entropy_hist(df).collect()}
    assert rows[0]["n_docs"] == 1 and rows[0]["avg_entropy"] == 0.0
    assert rows[2]["n_docs"] == 1
    assert rows[2]["avg_entropy"] == pytest.approx(round(math.log(4), 4), abs=1e-4)


def test_token_entropy_empty_docs_drop(spark):
    df = spark.createDataFrame(
        [(1, "...", "s"), (2, "word", "s")], ["doc_id", "text", "source"]
    )
    out = textstats.token_entropy_hist(df).collect()
    # tokenizer drops the punctuation-only doc entirely
    assert sum(r["n_docs"] for r in out) == 1


# ---------------------------------------------------------- cluster purity


def test_cluster_purity_separated_clusters(spark):
    from go_distributed_log_search_spark.operators.cluster import cluster_purity

    # two tight, far-apart blobs; labels agree with geometry except one
    # contaminant in cluster 0 -> purity 3/4 there, 1.0 elsewhere
    rows = [
        (0, [0.0, 0.0], 7),
        (1, [0.1, 0.0], 7),
        (2, [0.0, 0.1], 7),
        (3, [0.1, 0.1], 9),   # contaminant label
        (4, [10.0, 10.0], 5),
        (5, [10.1, 10.0], 5),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["cluster_id"]: r for r in cluster_purity(df, k=2, iters=2).collect()}
    assert out[0]["n_members"] == 4 and out[0]["majority_label"] == 7
    assert out[0]["n_majority"] == 3 and out[0]["purity"] == 0.75
    assert out[1]["n_members"] == 2 and out[1]["purity"] == 1.0


def test_cluster_purity_majority_tie_breaks_low_label(spark):
    from go_distributed_log_search_spark.operators.cluster import cluster_purity

    rows = [(0, [0.0], 3), (1, [0.01], 1), (2, [0.02], 3), (3, [0.03], 1)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = cluster_purity(df, k=1, iters=1).collect()
    assert len(out) == 1
    assert out[0]["majority_label"] == 1  # 2-2 tie -> lowest label


# ---------------------------------------------------------- retrieval eval


def test_retrieval_eval_perfect_when_quantization_preserves_order(spark):
    from go_distributed_log_search_spark.operators.similarity import retrieval_eval

    # axis-aligned well-separated vectors: int8 quantization preserves
    # the exact ranking -> recall@k = ndcg@k = 1.0 for every query
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = retrieval_eval(df, df.filter(F.col("vec_id") < 2), k=2).collect()
    assert len(out) == 2
    for r in out:
        assert r["recall"] == 1.0 and r["ndcg"] == 1.0


def test_retrieval_eval_partial_overlap_arithmetic(spark):
    import math

    from go_distributed_log_search_spark.operators.similarity import retrieval_eval

    # vec 3 has max-norm component far larger than its signal dims, so
    # quantization crushes its cosine-relevant coordinates: approx list
    # diverges from exact and the metrics must drop below 1 for query 0
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.98, 0.199, 0.0]),
        (2, [0.97, 0.0, 0.241]),
        (3, [0.96, 0.005, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["query_id"]: r for r in retrieval_eval(
        df, df.filter(F.col("vec_id") == 0), k=2
    ).collect()}
    r = out[0]
    # both metrics are in [0,1] and consistent: recall counts hits,
    # ndcg discounts their positions
    assert 0.0 <= r["recall"] <= 1.0 and 0.0 <= r["ndcg"] <= 1.0
    idcg = 1 / math.log2(2) + 1 / math.log2(3)
    assert r["ndcg"] <= round((1 / math.log2(2) + 1 / math.log2(3)) / idcg, 4)


# ------------------------------------------------------------ grok coverage


def test_parse_coverage_counts_nonnull(spark):
    from go_distributed_log_search_spark.operators.parse import parse_coverage

    df = spark.createDataFrame(
        [
            ("INFO", None, "bash", 10, None, 5),
            (None, "Timeout", None, None, "read", None),
            ("ERROR", None, None, 3, None, None),
        ],
        ["level", "error_signature", "tool_call", "bytes", "op", "duration"],
    )
    rows = {r["field"]: r for r in parse_coverage(df).collect()}
    assert rows["level"]["n_present"] == 2 and rows["level"]["n_total"] == 3
    assert rows["level"]["pct"] == 0.6667
    assert rows["error_signature"]["n_present"] == 1
    assert rows["bytes"]["n_present"] == 2
    assert sorted(rows) == [
        "bytes", "duration", "error_signature", "level", "op", "tool_call"
    ]


# ------------------------------------------------------------------- BPE


def test_bpe_merges_matches_reference_semantics(spark):
    from go_distributed_log_search_spark.operators.bpe import bpe_merges

    # verified against a classic greedy BPE reference implementation:
    # pair counts weighted by word frequency, ties (count desc, lhs asc,
    # rhs asc), greedy non-overlapping left-to-right merge
    df = spark.createDataFrame(
        [("aaaa",), ("abab",), ("abab",), ("banana",)], ["text"]
    )
    got = [tuple(r) for r in bpe_merges(df, iters=2).collect()]
    assert got == [(1, "a", "b", "ab", 4), (2, "a", "a", "aa", 3)]


def test_bpe_merges_self_pair_then_merged_symbol(spark):
    from go_distributed_log_search_spark.operators.bpe import bpe_merges

    # iteration 2 must count pairs over MERGED symbols: after (a,a)->aa,
    # "aaaaa" is [aa, aa, a] so (aa, aa) and (aa, a) exist
    df = spark.createDataFrame([("aaaaa",), ("aaaaa",), ("aab",)], ["text"])
    got = [tuple(r) for r in bpe_merges(df, iters=2).collect()]
    assert got == [(1, "a", "a", "aa", 9), (2, "aa", "a", "aaa", 2)]


def test_bpe_merges_batched_disjoint_pairs_match_exact(spark):
    from go_distributed_log_search_spark.operators.bpe import bpe_merges

    # top-2 pairs are symbol-disjoint ((a,b) and (c,d)): one merge per
    # pass takes them in rank order, and the first merge leaves the
    # second pair's count untouched
    df = spark.createDataFrame(
        [("abab",), ("abab",), ("cdcd",), ("cd",), ("ab",)], ["text"]
    )
    got = [tuple(r) for r in bpe_merges(df, iters=2).collect()]
    assert got == [(1, "a", "b", "ab", 5), (2, "c", "d", "cd", 3)]


def test_bpe_merges_batched_conflict_defers_to_next_pass(spark):
    from go_distributed_log_search_spark.operators.bpe import bpe_merges

    # top-2 pairs share symbol a: (a,a) then (a,b). (a,a) merges first
    # and the next pass re-counts: "aab" is [aa, b] after merge 1, so
    # the second merge is (aa, b), not the stale (a, b)
    df = spark.createDataFrame([("aab",)] * 3 + [("aa",)], ["text"])
    got = [tuple(r) for r in bpe_merges(df, iters=2).collect()]
    assert got == [(1, "a", "a", "aa", 4), (2, "aa", "b", "aab", 3)]


def test_merge_pair_sql_greedy_fold(spark):
    from go_distributed_log_search_spark.operators.bpe import _merge_pair_sql

    words = spark.createDataFrame([("abab",), ("aaa",)], ["w"]).withColumn(
        "s", F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
    )
    for lhs, rhs in [("a", "b"), ("a", "a")]:
        words = words.withColumn("s", F.expr(_merge_pair_sql(lhs, rhs)))
    out = {r["w"]: r["s"] for r in words.collect()}
    # abab -> [ab, ab]; aaa -> (a,b): no-op -> (a,a): greedy [aa, a]
    assert out == {"abab": ["ab", "ab"], "aaa": ["aa", "a"]}


# ------------------------------------------------------ conv template dedup


def test_conv_template_dedup_masks_counters(spark):
    from go_distributed_log_search_spark.operators.dedup import conv_template_dedup

    rows = [
        # c1 and c2: same script, different run ids/counters -> template dup
        ("c1", 0, "start run 17"), ("c1", 1, "fetch 234 bytes"),
        ("c2", 0, "start run 99"), ("c2", 1, "fetch 8 bytes"),
        # c3: structurally different second turn
        ("c3", 0, "start run 17"), ("c3", 1, "fetch bytes failed"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = conv_template_dedup(df, k=10).collect()
    assert len(out) == 1
    assert out[0]["n_convs"] == 2 and out[0]["keep_conv"] == "c1"


def test_conv_template_dedup_order_sensitive(spark):
    from go_distributed_log_search_spark.operators.dedup import conv_template_dedup

    rows = [
        ("a", 0, "x 1"), ("a", 1, "y 2"),
        ("b", 0, "y 3"), ("b", 1, "x 4"),  # same turns, swapped order
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    assert conv_template_dedup(df, k=10).count() == 0


def test_bpe_fertility_arithmetic(spark):
    from go_distributed_log_search_spark.operators.bpe import bpe_fertility

    # corpus: "abab" x2 + "cd" -> merges (a,b) then (ab,ab).
    # final syms: abab -> [abab] (1), cd -> [c, d] (2).
    # srcA: 2x abab -> 2 words, 2 tokens, fertility 1.0
    # srcB: 1x cd   -> 1 word,  2 tokens, fertility 2.0
    df = spark.createDataFrame(
        [("abab", "srcA"), ("abab", "srcA"), ("cd", "srcB")],
        ["text", "source"],
    )
    rows = {r["grp"]: r for r in bpe_fertility(df, iters=2).collect()}
    assert rows["srcA"]["n_words"] == 2 and rows["srcA"]["n_bpe_tokens"] == 2
    assert rows["srcA"]["fertility"] == 1.0
    assert rows["srcB"]["n_bpe_tokens"] == 2 and rows["srcB"]["fertility"] == 2.0


# ------------------------------------------------------------ agent tools


def test_tool_call_audit_registry_and_drift(spark):
    from go_distributed_log_search_spark.operators.agenttools import tool_call_audit

    rows = [
        ("<tool:bash arg=q1> run", "bash"),        # ok
        ("<tool:bash arg=q2> run", None),          # column missing -> drift
        ("<tool:frobnicate arg=q1> x", "frobnicate"),  # unregistered tool
        ("plain text no marker", None),            # ignored
    ]
    df = spark.createDataFrame(rows, ["text", "tool"])
    got = {r["tool"]: r for r in tool_call_audit(df).collect()}
    assert set(got) == {"bash", "frobnicate"}
    assert got["bash"]["n_calls"] == 2 and got["bash"]["n_distinct_args"] == 2
    assert got["bash"]["n_col_mismatch"] == 1 and got["bash"]["in_registry"]
    assert not got["frobnicate"]["in_registry"]


# ------------------------------------------------------- preference pairs


def test_preference_pairs_tiebreaks(spark):
    from go_distributed_log_search_spark.operators.chatformat import preference_pairs

    rows = [
        # c1: clear longest (turn 3) vs shortest (turn 1)
        ("c1", 1, "assistant", "a"), ("c1", 3, "assistant", "w x y z"),
        ("c1", 2, "user", "q"),
        # c2: all assistant turns tie -> chosen earliest, rejected latest
        ("c2", 0, "assistant", "a b"), ("c2", 2, "assistant", "c d"),
        # c3: single assistant turn -> no pair
        ("c3", 0, "assistant", "solo"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    got = {r["conv_id"]: r for r in preference_pairs(df).collect()}
    assert set(got) == {"c1", "c2"}
    assert (got["c1"]["chosen_turn"], got["c1"]["rejected_turn"]) == (3, 1)
    assert got["c1"]["margin"] == 3
    assert (got["c2"]["chosen_turn"], got["c2"]["rejected_turn"]) == (0, 2)
    assert got["c2"]["margin"] == 0


# -------------------------------------------------------- loss mask spans


def test_loss_mask_spans_offsets(spark):
    from go_distributed_log_search_spark.operators.chatformat import loss_mask_spans

    rows = [
        ("c", 0, "system", "sys"),        # [0, 3)
        ("c", 1, "assistant", "hello"),   # starts at 4
        ("c", 2, "user", "hm"),
        ("c", 3, "assistant", "ok"),      # starts at 4 + 6 + 3 = 13
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    got = loss_mask_spans(df).collect()
    assert [(r["turn_idx"], r["start_char"], r["end_char"]) for r in got] == [
        (1, 4, 9), (3, 13, 15)
    ]
    # spans index into the packed string exactly
    packed = "sys\nhello\nhm\nok"
    assert packed[4:9] == "hello" and packed[13:15] == "ok"


# ------------------------------------------------------- curriculum order


def test_curriculum_order_rank_and_phase(spark):
    from go_distributed_log_search_spark.operators.sampling import curriculum_order

    rows = [(i, "tok " * (i % 3 + 1)) for i in range(8)]  # 1-3 tokens
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = curriculum_order(df, n_phases=4).collect()
    ranks = [r["global_rank"] for r in out]
    assert ranks == list(range(1, 9))
    toks = [r["n_tokens"] for r in out]
    assert toks == sorted(toks)  # easy-first global order
    assert [r["phase"] for r in out] == [0, 0, 1, 1, 2, 2, 3, 3]


def test_curriculum_order_no_global_single_partition_window(spark):
    from go_distributed_log_search_spark.operators.sampling import curriculum_order

    rows = [(i, "t " * (i % 5 + 1)) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = curriculum_order(df)._jdf.queryExecution().executedPlan().toString()
    # every Window node over the CORPUS must be partitioned; the only
    # unpartitioned window allowed is the tiny per-difficulty offset frame
    import re
    wins = re.findall(r"Window \[.*?\]", plan)
    assert any("n_tokens" in w and "_lr" in w for w in wins)


def test_conv_template_dedup_opening_variant(spark):
    from go_distributed_log_search_spark.operators.dedup import conv_template_dedup

    rows = [
        # a and b: same structural opening (first 2 tokens of first 2
        # turns), divergent tails and later turns -> opening-template dup
        ("a", 0, "sys boot v1 extra alpha"), ("a", 1, "run job 5 then x"),
        ("a", 2, "totally unique tail aaa"),
        ("b", 0, "sys boot v2 extra beta"), ("b", 1, "run job 9 then y"),
        ("b", 2, "different unique tail bbb"),
        # c: different opening structure
        ("c", 0, "boot sys v1"), ("c", 1, "run job 5"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    # full-text semantics: no dup
    assert conv_template_dedup(df, k=10).count() == 0
    # opening-template semantics: a and b cluster
    out = conv_template_dedup(df, k=10, max_turns=2, head_tokens=2).collect()
    assert len(out) == 1
    assert out[0]["n_convs"] == 2 and out[0]["keep_conv"] == "a"


def test_echo_rate_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import echo_rate

    rows = [
        # c1: user "alpha beta gamma" -> assistant repeats 2 of 3 tokens
        ("c1", 0, "system", "boot"),
        ("c1", 1, "user", "alpha beta gamma"),
        ("c1", 2, "assistant", "alpha beta reply"),
        # c1: second pair, zero overlap
        ("c1", 3, "user", "delta"),
        ("c1", 4, "assistant", "epsilon"),
        # c2: user followed by tool, not assistant -> no pair
        ("c2", 0, "user", "x y"),
        ("c2", 1, "tool", "x y"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = {r["conv_id"]: r for r in echo_rate(df).collect()}
    assert set(out) == {"c1"}
    assert out["c1"]["n_pairs"] == 2
    assert abs(out["c1"]["max_echo"] - 2 / 3) < 1e-3
    assert abs(out["c1"]["avg_echo"] - (2 / 3) / 2) < 1e-3


def test_ctx_overflow_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import ctx_overflow

    rows = [
        ("c1", 0, "one two three"),      # cum 3
        ("c1", 1, "four five"),          # cum 5 -> overflows budget 4
        ("c1", 2, "six"),                # cum 6
        ("c2", 0, "a b"),                # fits entirely
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["conv_id"]: r for r in ctx_overflow(df, budget=4).collect()}
    assert out["c1"]["overflow_turn_idx"] == 1
    assert out["c1"]["turns_in_budget"] == 1
    assert out["c1"]["total_tokens"] == 6
    assert out["c2"]["overflow_turn_idx"] is None
    assert out["c2"]["frac_in_budget"] == 1.0


def test_gopher_rules_semantics(spark):
    from go_distributed_log_search_spark.operators.textstats import gopher_rules

    rows = [
        (0, "the cat and the dog sat in a big warm house today"),  # passes
        (1, "### ### ###"),            # word_count+stopword+symbol... no tokens
        (2, "- one\n- two\n- three"),  # bullet lines (but short -> word_count)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["rule"]: r for r in gopher_rules(df, min_tokens=5).collect()}
    assert set(out) == {
        "alpha_words", "bullet_lines", "ellipsis_lines", "mean_word_len",
        "stopword_hits", "symbol_ratio", "word_count", "pass_all",
    }
    assert out["pass_all"]["n_docs"] == 1
    assert out["bullet_lines"]["n_docs"] == 1
    assert out["word_count"]["n_docs"] == 2  # docs 1 (0 toks) and 2 (3 toks)
    assert out["stopword_hits"]["n_docs"] == 2


def test_weighted_sample_is_deterministic_and_weighted(spark):
    from go_distributed_log_search_spark.operators.sampling import weighted_sample

    rows = [("s", i, "w " * (1 if i < 50 else 40)) for i in range(60)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    a = weighted_sample(df, k=5).collect()
    b = weighted_sample(df, k=5).collect()
    assert a == b  # replayable: identical sample across runs
    assert [r["rank"] for r in a] == [1, 2, 3, 4, 5]
    # heavy docs (weight 40, ids 50..59) dominate a weighted-by-token draw
    heavy = sum(1 for r in a if r["doc_id"] >= 50)
    assert heavy >= 4


def test_turn_selfrep_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import turn_selfrep

    rows = [
        ("c1", 0, "assistant", "a b c"),
        ("c1", 1, "user", "ignored interleaved turn"),
        ("c1", 2, "assistant", "a b c"),    # identical -> jac 1.0
        ("c1", 3, "assistant", "x y z"),    # disjoint -> jac 0.0
        ("c2", 0, "assistant", "only one assistant turn"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = {r["conv_id"]: r for r in turn_selfrep(df).collect()}
    assert set(out) == {"c1"}
    assert out["c1"]["n_pairs"] == 2
    assert out["c1"]["max_selfrep"] == 1.0
    assert out["c1"]["avg_selfrep"] == 0.5
    assert out["c1"]["n_high"] == 1


def test_hhi_concentration_semantics(spark):
    from go_distributed_log_search_spark.operators.textstats import hhi_concentration

    rows = [
        ("even", 0, "a b"), ("even", 1, "c d"),          # 2 equal docs -> HHI 0.5
        ("skew", 2, "w " * 99), ("skew", 3, "x"),        # 99:1 -> HHI ~0.98
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {r["source"]: r for r in hhi_concentration(df).collect()}
    assert out["even"]["hhi"] == 0.5
    assert out["even"]["effective_docs"] == 2.0
    assert out["skew"]["hhi"] > 0.95
    assert out["skew"]["total_tokens"] == 100


def test_term_burstiness_semantics(spark):
    from go_distributed_log_search_spark.operators.textstats import term_burstiness

    rows = [
        ("c1", "bursty bursty bursty common"),
        ("c2", "common"),
        ("c3", "common"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "text"])
    out = {r["term"]: r for r in term_burstiness(df, top_n=10).collect()}
    assert out["bursty"]["n_groups"] == 1 and out["bursty"]["burstiness"] == 3.0
    assert out["common"]["n_groups"] == 3 and out["common"]["burstiness"] == 1.0


def test_kl_drift_semantics(spark):
    from go_distributed_log_search_spark.operators.textstats import kl_drift

    rows = [
        ("s1", 0, "a a b"), ("s1", 1, "a b b"),
        ("s2", 2, "a a b"), ("s2", 3, "a b b"),
        ("s3", 4, "zzz zzz zzz zzz"),  # divergent source
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {r["source"]: r for r in kl_drift(df).collect()}
    # identical sources -> identical drift; corpus = {a:6, b:6, zzz:4},
    # s1 = {a:.5, b:.5} -> KL = ln(16/12) = 0.2877
    assert out["s1"]["kl"] == out["s2"]["kl"] == 0.2877
    # disjoint-vocabulary source is the most drifted: KL = ln(16/4)
    assert out["s3"]["kl"] == round(__import__("math").log(4), 4)
    # a source matching the corpus blend exactly would score 0
    one = kl_drift(df.filter("source = 's1'")).collect()
    assert all(r["kl"] == 0.0 for r in one)


def test_tool_error_rate_semantics(spark):
    from go_distributed_log_search_spark.operators.telemetry import tool_error_rate

    rows = [
        # bash call at 0; ERROR at 2 (within k=2) -> charged
        ("c1", 0, "bash", None), ("c1", 1, None, None), ("c1", 2, None, "ERROR"),
        # calc call at 3; next turns clean -> not charged
        ("c1", 3, "calc", None), ("c1", 4, None, None), ("c1", 5, None, None),
        # search call at the conversation tail (empty forward frame)
        ("c2", 0, "search", None),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "tool", "level"])
    out = {r["tool"]: r for r in tool_error_rate(df, k=2).collect()}
    assert out["bash"]["n_err_follow"] == 1 and out["bash"]["err_rate"] == 1.0
    assert out["calc"]["n_err_follow"] == 0
    assert out["search"]["n_err_follow"] == 0


def test_conv_gap_sessions_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import conv_gap_sessions

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, t0),
        ("c1", 1, t0 + dt.timedelta(minutes=5)),     # same session
        ("c1", 2, t0 + dt.timedelta(hours=2)),       # gap > 30 min -> new session
        ("c2", 0, t0),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
    out = {r["conv_id"]: r for r in conv_gap_sessions(df).collect()}
    assert out["c1"]["n_sessions"] == 2
    assert out["c1"]["max_gap_s"] == 2 * 3600 - 5 * 60
    assert out["c2"]["n_sessions"] == 1 and out["c2"]["max_gap_s"] == 0.0


def test_ooo_turns_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import ooo_turns

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, t0),
        ("c1", 1, t0 - dt.timedelta(seconds=30)),  # clock goes backwards
        ("c1", 2, t0 + dt.timedelta(seconds=10)),
        ("c2", 0, t0), ("c2", 1, t0 + dt.timedelta(seconds=1)),  # ordered
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
    out = ooo_turns(df).collect()
    assert [r["conv_id"] for r in out] == ["c1"]  # ordered convs filtered
    assert out[0]["n_backward"] == 1 and out[0]["max_jump_s"] == 30.0


def test_conv_depth_hist_semantics(spark):
    from go_distributed_log_search_spark.operators.convstruct import conv_depth_hist

    rows = [("c1", i, "w w") for i in range(5)] + [("c2", 0, "x")]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["bucket"]: r for r in conv_depth_hist(df).collect()}
    assert out[2]["depth_min"] == 4 and out[2]["n_convs"] == 1  # 5 turns -> bucket 2
    assert out[2]["total_tokens"] == 10
    assert out[0]["depth_min"] == 1 and out[0]["n_convs"] == 1


def test_vocab_novelty_trend_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.textstats import (
        vocab_novelty_trend,
    )

    d1, d2 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    rows = [
        (d1, "alpha beta"),            # day 1: both terms new
        (d2, "alpha gamma gamma"),     # day 2: gamma new, alpha carried over
    ]
    df = spark.createDataFrame(rows, ["ts", "text"])
    out = {r["day"]: r for r in vocab_novelty_trend(df).collect()}
    assert out["2026-01-01"]["n_new_terms"] == 2
    assert out["2026-01-01"]["novelty_rate"] == 1.0
    assert out["2026-01-02"]["n_terms"] == 2
    assert out["2026-01-02"]["n_new_terms"] == 1
    assert out["2026-01-02"]["novelty_rate"] == 0.5
    assert out["2026-01-02"]["n_tokens"] == 3


def test_tool_bigrams_semantics(spark):
    from go_distributed_log_search_spark.operators.agenttools import tool_bigrams

    rows = [
        # c1 tool sequence (non-tool turns skipped): search -> bash -> search
        ("c1", 0, "search"), ("c1", 1, None), ("c1", 2, "bash"),
        ("c1", 3, "search"),
        # c2: search -> browser
        ("c2", 0, "search"), ("c2", 1, "browser"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "tool"])
    out = {(r["prev_tool"], r["next_tool"]): r for r in tool_bigrams(df).collect()}
    assert out[("search", "bash")]["n"] == 1
    assert out[("search", "bash")]["prob"] == 0.5   # search fans out to 2
    assert out[("search", "browser")]["prob"] == 0.5
    assert out[("bash", "search")]["prob"] == 1.0
    assert ("search", None) not in out


def test_conv_outcomes_semantics(spark):
    from go_distributed_log_search_spark.operators.convstruct import conv_outcomes

    rows = [
        ("c1", 0, "system", None), ("c1", 1, "assistant", "ERROR"),
        ("c2", 0, "user", None), ("c2", 1, "tool", None),
        ("c3", 0, "tool", None),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "level"])
    out = {(r["last_role"], r["last_level"]): r for r in conv_outcomes(df).collect()}
    assert out[("assistant", "ERROR")]["n_convs"] == 1
    assert out[("assistant", "ERROR")]["avg_turns"] == 2.0
    assert out[("tool", "NONE")]["n_convs"] == 2
    assert out[("tool", "NONE")]["avg_turns"] == 1.5


def test_ingest_volume_trend_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import (
        ingest_volume_trend,
    )

    d1, d2 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    rows = [(d1, "one two"), (d1, "three"), (d2, "four five six seven")]
    df = spark.createDataFrame(rows, ["ts", "text"])
    out = {r["day"]: r for r in ingest_volume_trend(df).collect()}
    assert out["2026-01-01"]["n_turns"] == 2
    assert out["2026-01-01"]["n_tokens"] == 3
    assert out["2026-01-01"]["cum_frac"] == round(3 / 7, 4)
    assert out["2026-01-02"]["cum_tokens"] == 7
    assert out["2026-01-02"]["cum_frac"] == 1.0


def test_ttfr_stats_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import ttfr_stats

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # c1: user at t0, assistant 10 s later -> ttfr 10
        ("c1", 0, "user", t0),
        ("c1", 1, "assistant", t0 + dt.timedelta(seconds=10)),
        # c2: assistant opens BEFORE any user -> excluded
        ("c2", 0, "assistant", t0),
        ("c2", 1, "user", t0 + dt.timedelta(seconds=5)),
        # c3: no assistant at all -> excluded
        ("c3", 0, "user", t0),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "ts"])
    out = ttfr_stats(df).collect()[0]
    assert out["n_convs"] == 1
    assert out["avg_s"] == out["p50_s"] == out["max_s"] == 10.0


def test_turn_position_profile_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import (
        turn_position_profile,
    )

    # 10-turn conversation: turns 0-1 -> band 0, ..., 8-9 -> band 4;
    # final band carries the heavy turns
    rows = [("c", i, "w " * (10 if i >= 8 else 1)) for i in range(10)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["bucket"]: r for r in turn_position_profile(df).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(out[b]["n_turns"] == 2 for b in out)
    assert out[4]["avg_tokens"] == 10.0
    assert out[4]["token_share"] == round(20 / 28, 4)  # 8×1 + 2×10 tokens


def test_system_prompt_stats_semantics(spark):
    from go_distributed_log_search_spark.operators.convstruct import (
        system_prompt_stats,
    )

    rows = [
        ("c1", 0, "system", "You are   helpful."), ("c1", 1, "user", "hi"),
        ("c2", 0, "system", "you are helpful."),   # same after normalization
        ("c3", 0, "system", "Different prompt"), ("c3", 1, "user", "x"),
        ("c3", 2, "assistant", "y"),
        ("c4", 0, "user", "no system turn"),       # excluded
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = system_prompt_stats(df).collect()
    assert [r["n_convs"] for r in out] == [2, 1]
    assert out[0]["avg_turns"] == 1.5  # c1 has 2 turns, c2 has 1
    assert out[1]["example"] == "Different prompt" and out[1]["avg_turns"] == 3.0


def test_response_ratio_stats_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import (
        response_ratio_stats,
    )

    rows = [
        ("c1", 0, "user", "a b c d"),        # 4 tokens
        ("c1", 1, "assistant", "x"),          # ratio 0.25 -> short
        ("c1", 2, "user", "q r"),             # 2 tokens
        ("c1", 3, "assistant", "w x y z"),    # ratio 2.0
        ("c2", 0, "user", "solo"),            # no adjacent assistant
        ("c2", 1, "tool", "t"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "text"])
    out = response_ratio_stats(df).collect()[0]
    assert out["n_pairs"] == 2
    assert out["avg_ratio"] == round((0.25 + 2.0) / 2, 4)
    assert out["frac_short"] == 0.5


def test_code_switch_stats_semantics(spark):
    from go_distributed_log_search_spark.operators.textstats import code_switch_stats

    rows = [
        # c1: an English turn, a German turn, a markerless turn
        ("c1", "the cat and the dog of note"),
        ("c1", "der hund und die katze"),
        ("c1", "xyzzy 123"),
        # c2: monolingual English
        ("c2", "the one and only of all"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "text"])
    out = {r["conv_id"]: r for r in code_switch_stats(df).collect()}
    assert out["c1"]["n_langs"] == 2
    assert out["c1"]["dominant_lang"] in ("de", "en")  # 1-1 tie -> lexicographic
    assert out["c1"]["dominant_lang"] == "de"
    assert out["c2"]["n_langs"] == 1 and out["c2"]["dominant_lang"] == "en"
    assert out["c2"]["dominant_share"] == 1.0


def test_psi_drift_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import psi_drift

    d1, d2 = dt.datetime(2026, 1, 1), dt.datetime(2026, 1, 2)
    # day 1: all bytes in bin 0; day 2: all in bin 9 -> both days drift
    # from the pooled 50/50 corpus by the same symmetric amount
    rows = [(d1, 100) for _ in range(10)] + [(d2, 99999) for _ in range(10)]
    df = spark.createDataFrame(rows, ["ts", "bytes"])
    out = {r["day"]: r for r in psi_drift(df).collect()}
    import math
    expected = round((1.0 - 0.5) * math.log(1.0 / 0.5), 4)
    assert out["2026-01-01"]["psi"] == expected
    assert out["2026-01-02"]["psi"] == expected
    assert out["2026-01-01"]["n_lines"] == 10


def test_conv_duration_hist_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import (
        conv_duration_hist,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("fast", 0, t0), ("fast", 1, t0 + dt.timedelta(seconds=30)),  # <1 min
        ("slow", 0, t0), ("slow", 1, t0 + dt.timedelta(minutes=5)),   # 5 min
        ("single", 0, t0),                                            # 0 s
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
    out = {r["bucket"]: r for r in conv_duration_hist(df).collect()}
    assert out[-1]["n_convs"] == 2 and out[-1]["dur_min_minutes"] == 0
    assert out[2]["n_convs"] == 1  # 5 min -> floor(log2(5)) = 2 -> band 4-8 min
    assert out[2]["dur_min_minutes"] == 4


def test_active_convs_hourly_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import (
        active_convs_hourly,
    )

    t0 = dt.datetime(2026, 1, 1, 10, 15)
    rows = [
        # c1 active 10:xx through 12:xx with NO turn in hour 11 — the
        # interval semantics hourly_windows can't see
        ("c1", 0, t0), ("c1", 1, t0 + dt.timedelta(hours=2)),
        ("c2", 0, t0 + dt.timedelta(minutes=10)),   # only hour 10
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "ts"])
    out = {r["hour"]: r for r in active_convs_hourly(df).collect()}
    assert out["2026-01-01 10:00"]["n_active"] == 2
    assert out["2026-01-01 10:00"]["n_starting"] == 2
    assert out["2026-01-01 11:00"]["n_active"] == 1  # gap hour still active
    assert out["2026-01-01 11:00"]["n_starting"] == 0
    assert out["2026-01-01 12:00"]["n_active"] == 1


def test_tool_latency_stats_semantics(spark):
    import datetime as dt

    from go_distributed_log_search_spark.operators.telemetry import (
        tool_latency_stats,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("c1", 0, None, t0),
        ("c1", 1, "bash", t0 + dt.timedelta(seconds=3)),   # latency 3
        ("c1", 2, None, t0 + dt.timedelta(seconds=4)),
        ("c1", 3, "bash", t0 + dt.timedelta(seconds=9)),   # latency 5
        ("c2", 0, "search", t0),                           # no predecessor
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "tool", "ts"])
    out = {r["tool"]: r for r in tool_latency_stats(df).collect()}
    assert set(out) == {"bash"}  # search's first-turn call is excluded
    assert out["bash"]["n_calls"] == 2
    assert out["bash"]["avg_s"] == 4.0 and out["bash"]["max_s"] == 5.0


def test_embedding_norm_outliers_semantics(spark):
    from go_distributed_log_search_spark.operators.similarity import (
        embedding_norm_outliers,
    )

    rows = [(i, [1.0, 0.0]) for i in range(8)] + [
        (100, [10.0, 0.0]),   # giant norm -> rank 1
        (101, [0.0, 0.0]),    # zero vector -> strong negative z
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = embedding_norm_outliers(df, k=2).collect()
    assert [r["vec_id"] for r in out] == [100, 101]
    assert out[0]["rank"] == 1 and out[0]["norm"] == 10.0
    assert out[0]["z"] > 0 > out[1]["z"]


def test_route_overlap_semantics(spark):
    from go_distributed_log_search_spark.operators.route import route_overlap

    rows = [
        # errors + assistant (2 sinks)
        ("c", 0, "assistant", None, None, "ERROR"),
        # tool only (tool col), level NULL must not poison n_sinks
        ("c", 1, "tool", "bash", None, None),
        # nothing matches
        ("c", 2, "user", None, None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string, "
        "tool_call string, level string",
    )
    out = {r["combo"]: r for r in route_overlap(df).collect()}
    assert out["errors+assistant_turns"]["n_sinks"] == 2
    assert out["tool_calls"]["n_sinks"] == 1
    assert out["(none)"]["n_sinks"] == 0
    assert sum(r["n_turns"] for r in out.values()) == 3


def test_enrich_coverage_semantics(spark):
    from go_distributed_log_search_spark.operators.enrich import enrich_coverage

    rows = [
        ("c", 0, "assistant", None),
        ("c", 1, "tool", "bash"),       # known tool -> matched
        ("c", 2, "tool", "unknowntool"),  # unknown tool -> unmatched
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "role", "tool"])
    out = {r["role"]: r for r in enrich_coverage(df, spark).collect()}
    assert out["tool"]["n_tool_turns"] == 2
    assert out["tool"]["n_tool_matched"] == 1
    assert out["tool"]["tool_match_rate"] == 0.5
    assert out["assistant"]["n_role_matched"] == 1
    assert out["assistant"]["tool_match_rate"] is None


def test_error_position_profile_semantics(spark):
    from go_distributed_log_search_spark.operators.telemetry import (
        error_position_profile,
    )

    # 10 turns: errors only in the last fifth
    rows = [("c", i, "ERROR" if i >= 8 else None) for i in range(10)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "level"])
    out = {r["bucket"]: r for r in error_position_profile(df).collect()}
    assert out[4]["n_errors"] == 2 and out[4]["err_rate"] == 1.0
    assert all(out[b]["n_errors"] == 0 for b in (0, 1, 2, 3))


def test_quality_calibration_semantics(spark):
    from go_distributed_log_search_spark.operators.sampling import (
        quality_calibration,
    )

    # source A: 11 docs, lengths 1..11 -> percent_rank i/10, deciles 0..9
    # source B: all ties -> everyone shares rank 0 -> one decile-0 row
    rows = [("A", i, "w " * (i + 1)) for i in range(11)] + [
        ("B", 100 + i, "same same") for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {(r["source"], r["decile"]): r for r in quality_calibration(df).collect()}
    a_rows = [k for k in out if k[0] == "A"]
    assert len(a_rows) == 10  # deciles 0..9, decile 9 holds ranks .9 and 1.0
    assert out[("A", 9)]["n_docs"] == 2
    assert out[("A", 0)]["min_raw"] == 1
    assert [k for k in out if k[0] == "B"] == [("B", 0)]
    assert out[("B", 0)]["n_docs"] == 4


def test_ctx_amplification_semantics(spark):
    from go_distributed_log_search_spark.operators.chatformat import (
        ctx_amplification,
    )

    rows = [
        ("c1", 0, "a b"),      # cum 2
        ("c1", 1, "c d"),      # cum 4
        ("c1", 2, "e f"),      # cum 6 -> resend 12, total 6 -> amp 2.0
        ("c2", 0, "solo"),     # single turn -> amp 1.0
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = {r["conv_id"]: r for r in ctx_amplification(df).collect()}
    assert out["c1"]["resend_tokens"] == 12 and out["c1"]["amplification"] == 2.0
    assert out["c2"]["amplification"] == 1.0
