"""Search — reference-parity substring scorer + true top-k.

Reference lifecycle (/root/reference/src/commands/search.go:39-150):
scatter one goroutine per index file, evaluate the P10 predicate
(case-insensitive substring of the whole query against every string field,
search.go:222-255), additively score matching fields (A3 weights), gather
the first ``limit`` arrivals, sort by score desc, emit.

Spark restatement: partitioned scan + one filter/score column expression +
``orderBy(desc(score)).limit(k)`` (TakeOrderedAndProject — per-partition
top-k heaps, then a single driver merge; no full sort, no full shuffle).

NOTE on parity (SURVEY.md §2.6 T1): the reference's arrival-order
truncation is a race — a high-score doc arriving after `limit` results is
dropped. We implement true top-k; scores are deterministic, so whenever
total matches <= limit the outputs coincide, and tests pin that regime.
Ties are broken by (conv_id, turn_idx) for full determinism, which the
reference cannot offer at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.scoring import match_sql, score_sql
from ..plans.query_compiler import QueryCompiler
from . import parse

# transcript-turn string fields that participate in P10/A3
DEFAULT_SEARCH_FIELDS = ["text", "level", "role", "tool", "op", "error_signature"]


def substring_search(
    df: DataFrame,
    query: str,
    limit: int = 1,
    string_fields: list[str] | None = None,
    map_fields: list[str] | None = None,
    tiebreak: tuple[str, ...] = ("conv_id", "turn_idx"),
) -> DataFrame:
    """Implemented-semantics search: P10 predicate + A3 score + top-k.

    limit semantics follow the reference: default 1 (args.go:215-216),
    limit == 0 returns nothing (search.go:45-47).

    The predicate and the score are each one SQL expression, so building
    the plan costs a few dozen driver round trips whatever the field
    count; a Column-API chain costs about a dozen per operator.
    """
    if limit == 0:
        return df.limit(0).withColumn("score", F.lit(0.0))
    fields = string_fields or [c for c in DEFAULT_SEARCH_FIELDS if c in df.columns]
    maps = map_fields or []
    # Columns parse_turns cut out of a searched column (level, op,
    # error_signature, _dynamic out of text): each value is an ASCII run
    # of that column, and lowercasing ASCII is character by character, so
    # a query found in one is found in the column it came from. The
    # filter can skip them — no regexp extraction on rows that fail it —
    # and the full score still runs on the rows that pass.
    implied = parse.substring_tagged(df.schema, fields)
    scored = df
    if all(m in implied for m in maps):
        # filter on the short-circuiting OR of the P10 predicates instead
        # of `score > 0`: the pushed-down filter then stops at the first
        # matching field (usually `text`, weight 10) instead of evaluating
        # the FULL additive score a second time below the projection (the
        # optimizer duplicates the whole score expression into a pushed
        # `score > 0`). Every weight is > 0 and a tagged field only
        # matches where its source does, so the OR holds wherever
        # score > 0 does (NULL fields add 0 to the sum and FALSE-or-NULL
        # to the OR).
        untagged = [f for f in fields if f not in implied]
        scored = scored.filter(match_predicate(untagged, query))
    scored = scored.withColumn("score", F.expr(score_sql(query, fields, maps)))
    if maps:
        # the score decides for rows with a NULL map, whose part of the
        # score is NULL (or negative, under the legacy size-of-NULL rule)
        # rather than 0. Untagged maps get no OR prefilter: its
        # exists()-style map predicate would be an interpreted HOF on
        # every row.
        scored = scored.filter("score > 0")
    order = [F.desc("score")] + [F.asc(c) for c in tiebreak if c in df.columns]
    return scored.orderBy(*order).limit(limit)


def field_query_search(
    df: DataFrame,
    query: str,
    default_fields: list[str] | None = None,
) -> DataFrame:
    """Advertised-syntax search (labeled extension — see plans/query_compiler):
    ``level:ERROR AND duration:[10 TO 50}`` compiled to Catalyst exprs."""
    compiler = QueryCompiler(dict(df.dtypes), default_fields or ["text"])
    return df.filter(compiler.compile(query))


def match_predicate(df_columns: list[str], query: str) -> Column:
    """Bare P10 predicate over the given string columns (search.go:222-255),
    as one SQL expression."""
    return F.expr(match_sql(query, df_columns))


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranking over the corpus — the scoring Bluge/Lucene runs inside
    its inverted index (the reference delegates ranking to Bluge;
    search.go's additive field scorer is its own layer on top), expressed
    as explicit DataFrame algebra so it runs at 100 TB without an index:

      idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))     (Lucene variant)
      score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b*len/avglen))

    Plan shape: the term filter lands BEFORE the tf aggregation, so only
    query-term postings (|terms| x matching docs) ever aggregate or join
    — everything else dies at the exploded-scan stage. Doc lengths are a
    per-doc map-side count; df and avglen are tiny aggregates broadcast
    into the scoring join. One shuffle on (doc, term), broadcast
    everything else.
    """
    from ..functions.tokenize import tokenize

    toks = df.select(
        F.col(id_col).alias("_d"),
        F.explode(tokenize(F.col(text_col), "default")).alias("term"),
    )
    doclen = toks.groupBy("_d").agg(F.count(F.lit(1)).alias("dl"))
    n_avg = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        toks.filter(F.col("term").isin(*query_terms))
        .groupBy("_d", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, "_d")
        .crossJoin(F.broadcast(n_avg))
        .withColumn(
            "idf",
            F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "w",
            # per-term weight rounded to 6dp BEFORE the sum: double
            # addition is non-associative, so summing engine-identical
            # rounded terms keeps the final 4dp score bit-stable across
            # engines regardless of aggregation order
            F.round(
                F.col("idf") * F.col("tf") * (k1 + 1)
                / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
                6,
            ),
        )
    )
    return (
        scored.groupBy("_d")
        .agg(F.round(F.sum("w"), 4).alias("bm25"))
        .select(F.col("_d").alias(id_col), "bm25")
        .orderBy(F.col("bm25").desc(), F.col(id_col))
        .limit(k)
    )


def phrase_topk(
    df: DataFrame,
    phrase_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Positional phrase match — the query the reference's ``pos`` record
    option exists for (src/config/text.go:7-11 stores term positions so
    Bluge can answer PhraseQuery; the CLI never exposes it, making this
    the natural extension of that stored capability).

    Semantics: tokenize with the ``default`` analyzer, then count the
    positions i where tokens[i..i+K-1] equals the phrase exactly
    (overlapping occurrences count — identical to walking the position
    postings). Top-k docs by occurrence count.

    Plan shape: ONE column expression per row (tokenize + a higher-order
    filter over candidate start offsets) — a pure scan with predicate and
    column pruning intact, NO shuffle, no join, no explode. At 100 TB this
    is scan-bound and embarrassingly parallel; the only data movement is
    the final TakeOrderedAndProject top-k merge of (id, count) pairs. An
    inverted-index engine answers from postings without the scan, but on
    an unindexed lake this is the optimal one-pass shape.
    """
    from ..functions.tokenize import tokenize

    kk = len(phrase_terms)
    phrase = F.array(*[F.lit(t.lower()) for t in phrase_terms])
    toks = tokenize(F.col(text_col), "default")
    # Cheap SUFFICIENT prefilter before the positional check (round-6,
    # guide §3.2 spirit — drop definitely-non-matching rows before the
    # expensive part): a phrase occurrence requires every phrase term to
    # appear as a maximal alnum run of lower(text), hence as a substring
    # of it, so AND-of-contains never drops a matching doc (false
    # POSITIVES like "monkey" ⊃ "key" just fall through to the exact
    # check). The positional filter is a per-start-offset interpreted
    # higher-order function — and the optimizer duplicates it into the
    # pushed-down `n_occ > 0` filter — so running it only on candidate
    # docs is the win: sf0.1 phrase query 2.5 → <1 s.
    pre = None
    for t in phrase_terms:
        c = F.instr(F.lower(F.col(text_col)), t.lower()) > 0
        pre = c if pre is None else (pre & c)
    if pre is not None:
        df = df.filter(pre)
    d = df.select(F.col(id_col), toks.alias("_toks"))
    # guard short docs: sequence(1, 0) would DESCEND, not return empty
    starts = F.sequence(F.lit(1), F.size(F.col("_toks")) - kk + 1)
    occ = F.when(
        F.size(F.col("_toks")) >= kk,
        F.size(
            F.filter(starts, lambda i: F.slice(F.col("_toks"), i, kk) == phrase)
        ),
    ).otherwise(F.lit(0))
    return (
        d.select(F.col(id_col), occ.alias("n_occ"))
        .filter(F.col("n_occ") > 0)
        .orderBy(F.col("n_occ").desc(), F.col(id_col))
        .limit(k)
    )


def hybrid_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    n: int = 50,
    k0: int = 60,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval with Reciprocal Rank Fusion
    (Cormack et al. 2009): fuse the BM25 top-``n`` (bm25_topk above) with
    the cosine top-``n`` for one query embedding, each doc scored

        rrf = sum_lists 1 / (k0 + rank_in_list)

    — the standard RAG hybrid-retrieval recipe (rank-based, so the two
    incommensurable score scales never mix). The shared id space
    (doc_id == vec_id) is the "document with an embedding column" shape
    from the brief.

    Scale shape: both branches end in TakeOrderedAndProject (per-partition
    top-n heaps, driver merge of n rows) BEFORE any window — ranking
    windows only ever see n pre-cut rows, never the corpus. The semantic
    branch is a broadcast of ONE query vector + a pure-Catalyst zip_with/
    aggregate dot product (stays in codegen; the multi-query BLAS
    pandas_udf path is operators/similarity.brute_force_topk — this
    variant exists for the single-query fusion case and exact oracle
    replay). The fuse join is n-vs-n rows: negligible at any scale.
    1/(k0+rank) is an exact IEEE division of small ints — bit-identical
    across engines, so ranks and the fused order replay exactly.

    Output: (doc_id, lex_rank, sem_rank, rrf) — top-``k`` by rrf desc,
    doc_id asc; ranks are NULL for list-misses.
    """
    from pyspark.sql import Window as _W

    lex = bm25_topk(
        docs, query_terms, id_col=id_col, text_col=text_col, k=n
    ).select(
        F.col(id_col),
        F.row_number()
        .over(_W.orderBy(F.col("bm25").desc(), F.col(id_col)))
        .alias("lex_rank"),
    )

    qvec = emb.filter(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).cast("array<double>").alias("_qv")
    )
    dot = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"), F.col("_qv"), lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sqnorm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sem = (
        emb.crossJoin(F.broadcast(qvec))
        .filter(F.col(vec_id_col) != query_vec_id)
        .select(
            F.col(vec_id_col).alias(id_col),
            F.round(
                dot / (sqnorm(F.col(vec_col).cast("array<double>")) * sqnorm(F.col("_qv"))),
                6,
            ).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col(id_col))
        .limit(n)
    )
    sem_ranked = sem.select(
        F.col(id_col),
        F.row_number()
        .over(_W.orderBy(F.col("cos").desc(), F.col(id_col)))
        .alias("sem_rank"),
    )

    contrib = lambda r: F.coalesce(  # noqa: E731
        1.0 / (F.lit(k0) + F.col(r)), F.lit(0.0)
    )
    return (
        lex.join(sem_ranked, id_col, "outer")
        .select(
            F.col(id_col),
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("sem_rank").cast("int").alias("sem_rank"),
            F.round(contrib("lex_rank") + contrib("sem_rank"), 6).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), F.col(id_col))
        .limit(k)
    )
