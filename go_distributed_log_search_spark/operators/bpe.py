"""Distributed BPE merge training — the tokenizer-training inner loop
(Sennrich et al. 2016) as DataFrame algebra.

Each iteration: count adjacent symbol pairs across the corpus (weighted
by word frequency), pick the most frequent pair, merge every
non-overlapping occurrence greedily left-to-right, repeat. This is
exactly what SentencePiece/HuggingFace trainers do in one process; at
10^12 tokens the pair counting is the bottleneck and is embarrassingly
distributable.

Scale shape (the standard trick, restated on DataFrames):
- BPE statistics only ever depend on the WORD VOCABULARY with counts,
  not the corpus: one corpus-sized aggregate up front collapses 10^12
  tokens to |vocab| rows (Zipf-bounded), and every Lloyd-style iteration
  after that runs on the vocabulary table.
- Pair counting is explode + partial-agg'd hash aggregate; the argmax
  pair is a TakeOrdered top-1 — the driver holds ONE (a, b) pair per
  iteration, never distributions.
- The merge step is a pure map-side Catalyst fold (aggregate() HOF):
  greedy non-overlapping left-to-right, the semantics every BPE
  implementation uses. The fold is safe against re-merging its own
  output inside one iteration because the merged token a||b can never
  equal a (b is non-empty).

Determinism: pair ties break (count desc, left asc, right asc) in both
engines; the DuckDB oracle replays the merge with a run-parity closed
form (greedy merges positions at odd offsets within each maximal run of
pair occurrences — runs longer than 1 only arise when left == right).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _merge_pair_sql(a: str, b: str) -> str:
    """Catalyst fold that greedily merges adjacent (a, b) into a||b
    within the symbol array column ``s``."""
    ae, be = a.replace("'", "\\'"), b.replace("'", "\\'")
    return f"""CASE WHEN size(s) < 2 THEN s ELSE aggregate(
        slice(s, 2, size(s) - 1),
        slice(s, 1, 1),
        (acc, e) -> CASE
            WHEN element_at(acc, -1) = '{ae}' AND e = '{be}'
            THEN concat(slice(acc, 1, size(acc) - 1),
                        array(concat(element_at(acc, -1), e)))
            ELSE concat(acc, array(e)) END
    ) END"""


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    iters: int = 2,
) -> DataFrame:
    """Learn ``iters`` BPE merges over the corpus and return the merge
    table: (iter, lhs, rhs, merged, pair_count), one row per learned
    merge, iter asc. pair_count is the corpus-wide weighted frequency of
    the chosen pair at the time it was chosen.

    Loop shape: EXACT greedy BPE — one top-1 Spark job per merge,
    so a 32k-merge vocabulary means 32k scheduler round-trips. That is
    inherent to exact distributed BPE (each merge invalidates pair counts
    touching its symbols).
    """
    from ..functions.tokenize import tokenize

    spark = df.sparkSession
    words = (
        df.select(F.explode(tokenize(F.col(text_col), "default")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cur = words.withColumn(
        "s",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
    ).persist()
    results = []
    try:
        while len(results) < iters:
            pairs = (
                cur.filter(F.size("s") >= 2)
                .select(
                    "cnt",
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(s) - 1), i -> "
                            "named_struct('a', element_at(s, i), "
                            "'b', element_at(s, i + 1)))"
                        )
                    ).alias("p"),
                )
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("cnt").alias("pc"))
            )
            best = pairs.orderBy(F.col("pc").desc(), "a", "b").limit(1).collect()
            if not best:
                break
            a, b, pc = best[0]
            results.append((len(results) + 1, a, b, a + b, pc))
            nxt = cur.withColumn("s", F.expr(_merge_pair_sql(a, b))).persist()
            nxt.count()  # materialize before dropping the parent cache
            cur.unpersist()
            cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        results,
        "iter INT, lhs STRING, rhs STRING, merged STRING, pair_count BIGINT",
    )


def bpe_fertility(
    df: DataFrame,
    iters: int = 2,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Tokenizer fertility audit: learn ``iters`` BPE merges on the
    corpus (bpe_merges), then report per group how many BPE symbols the
    encoded text needs per word — fertility = n_bpe_tokens / n_words,
    THE standard tokenizer-fit metric (a domain whose fertility is far
    above the corpus mean is poorly served by the learned vocabulary and
    will burn context budget at training time).

    Scale shape: the merges are learned on the word vocabulary (see
    bpe_merges); encoding for the audit ALSO runs on the vocabulary —
    each distinct word is folded once and only its final symbol COUNT
    joins back (broadcast) onto the per-group word counts. The corpus is
    never re-encoded row by row; the only corpus-sized work is the one
    (group, word) count aggregate.

    Output: (group, n_words, n_bpe_tokens, fertility) rounded to 4dp,
    group asc.
    """
    from ..functions.tokenize import tokenize

    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_merges(df, text_col=text_col, iters=iters).collect()
    ]
    gw = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(tokenize(F.col(text_col), "default")).alias("w"),
        )
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = gw.select("w").distinct().withColumn(
        "s",
        F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"),
    )
    for lhs, rhs in merges:
        vocab = vocab.withColumn("s", F.expr(_merge_pair_sql(lhs, rhs)))
    lens = vocab.select("w", F.size("s").alias("n_sym"))
    return (
        gw.join(F.broadcast(lens), "w")
        .groupBy("grp")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.sum(F.col("cnt") * F.col("n_sym")).alias("n_bpe_tokens"),
        )
        .select(
            "grp",
            "n_words",
            "n_bpe_tokens",
            F.round(F.col("n_bpe_tokens") / F.col("n_words"), 4).alias(
                "fertility"
            ),
        )
        .orderBy("grp")
    )
