"""Deterministic sampling operators for training-data pipelines.

Every large-scale corpus build ends with (a) per-source quota sampling
(balance the mixture) and (b) a deterministic train/val/test split that
never moves a document between splits across reruns. Both are expressed
on a portable hash ordering — md5 of the stringified id — so the exact
same rows are selected by Spark and by the DuckDB oracle, on any cluster
size, with no RNG state anywhere.

Scale shapes:
- stratified_sample: row_number window partitioned by the stratum. The
  stratum cardinality is low (sources, languages), so the window shuffle
  is skewed by construction. Spark >= 3.5 inserts WindowGroupLimit BELOW
  the exchange (verified in this operator's physical plan): every map
  task pre-prunes to its local top-quota per stratum before shuffling,
  so the skewed reducer receives at most quota x map-tasks rows, not the
  stratum.
- split_assign: pure map-side projection (hash mod 100 against cumulative
  percentage bounds) — no shuffle, no state, resumable by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import ws_token_count_expr


def _order_hash(id_col: str):
    """Portable deterministic order key: md5 of the stringified id."""
    return F.md5(F.col(id_col).cast("string").cast("binary"))


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    quota: int,
) -> DataFrame:
    """Exactly ``quota`` rows per stratum (fewer if the stratum is
    smaller), chosen by md5(id) order — deterministic across engines and
    cluster sizes.
    """
    src = df.select(stratum_col, id_col, _order_hash(id_col).alias("_h"))
    w = Window.partitionBy(stratum_col).orderBy("_h")
    return (
        src.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= quota)
        .select(stratum_col, id_col)
    )


def split_assign(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int] | None = None,
) -> DataFrame:
    """Deterministic split assignment: md5(id)'s first 7 hex digits mod
    100 bucketed against cumulative percentage bounds. A document's split
    depends only on its id — stable under reruns, resharding, and
    incremental appends. ``splits`` maps name -> percent (must sum 100).
    """
    splits = splits or {"train": 90, "val": 5, "test": 5}
    if sum(splits.values()) != 100:
        raise ValueError(f"split percents must sum to 100: {splits}")
    bucket = F.conv(F.substring(_order_hash(id_col), 1, 7), 16, 10).cast("long") % 100
    expr = None
    acc = 0
    for name, pct in splits.items():
        acc += pct
        cond = bucket < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def mix_rebalance(
    df: DataFrame,
    targets: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebalance the corpus toward a target source mixture by
    DOWNSAMPLING only (never upsampling): the largest corpus consistent
    with ``targets`` is total = min_i(n_i / w_i), each source keeps
    ~w_i * total rows via a deterministic hash threshold.

    The keep rule is pure map-side — md5(id)'s first 7 hex digits
    (uniform in [0, 16^7)) compared against frac_i * 16^7 — so after one
    vocabulary-of-sources-sized count aggregate the operator is a single
    scan + filter with NO window, NO sort, NO per-source shuffle: the
    shape that survives 10^12 rows (contrast stratified_sample, whose
    exact-quota guarantee costs a per-stratum window). Counts are
    Bernoulli-approximate per source (realized shares converge to
    targets at corpus scale); a document's fate depends only on its id —
    stable under reruns, resharding, and incremental appends, and
    replayable exactly by a SQL oracle (same md5-prefix parity trick as
    operators/dedup.py md5_60).

    Sources absent from ``targets`` are dropped (weight 0). Returns the
    kept rows with original columns.
    """
    if not targets or any(w <= 0 for w in targets.values()):
        raise ValueError(f"targets must be positive weights: {targets}")
    w_df = df.sparkSession.createDataFrame(
        [(s, float(w)) for s, w in targets.items()], [source_col, "_w"]
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("_n"))
    caps = counts.join(w_df, source_col).select(
        source_col, "_n", "_w", (F.col("_n") / F.col("_w")).alias("_cap")
    )
    total = caps.agg(F.min("_cap").alias("_total"))
    fracs = caps.crossJoin(F.broadcast(total)).select(
        source_col,
        F.least(F.lit(1.0), (F.col("_w") * F.col("_total")) / F.col("_n")).alias("_frac"),
    )
    bucket = F.conv(F.substring(_order_hash(id_col), 1, 7), 16, 10).cast("long")
    return (
        df.join(F.broadcast(fracs), source_col)
        .filter(bucket < F.col("_frac") * F.lit(16 ** 7))
        .drop("_frac")
    )


def assign_shards(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: shard =
    md5-prefix(id) % n_shards, reported as (shard, n_docs, total_tokens,
    n_sources).

    The assignment is pure map-side (same md5-prefix trick as
    mix_rebalance — stable under reruns, resharding, and incremental
    appends; a doc's shard depends only on its id), so the export is a
    single scan + partitionBy(shard) write at scale; the audit here is
    one partial-agg'd groupBy on an n_shards-sized key. The balance
    check is the point: a skewed shard at 10^12 rows is a straggler in
    every downstream training-reader epoch.
    """
    shard = (
        F.conv(F.substring(_order_hash(id_col), 1, 7), 16, 10).cast("long")
        % n_shards
    ).alias("shard")
    return (
        df.select(
            shard,
            F.col(source_col),
            ws_token_count_expr(F.col(text_col)).cast("long").alias("_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("total_tokens"),
            F.count_distinct(source_col).alias("n_sources"),
        )
        .orderBy("shard")
    )


def temperature_mix(
    df: DataFrame,
    tau: float = 0.7,
    source_col: str = "source",
) -> DataFrame:
    """Temperature-scaled source mixture weights: w_s = n_s^tau / sum_i
    n_i^tau — the multilingual/multi-domain upsampling rule (tau < 1
    flattens the mixture toward rare sources; tau = 1 is proportional,
    tau = 0 uniform). Output: (source, n_docs, mix_weight) with
    mix_weight rounded to 6 dp for cross-engine float stability.

    One vocabulary-of-sources-sized aggregate + a broadcast scalar total:
    the scan is the entire corpus cost, the mixture math is control-plane
    sized. Feed the weights to mix_rebalance's targets to realize the
    mix.
    """
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powed = counts.withColumn(
        "_p", F.pow(F.col("n_docs").cast("double"), F.lit(float(tau)))
    )
    total = powed.agg(F.sum("_p").alias("_tot"))
    return (
        powed.crossJoin(F.broadcast(total))
        .select(
            source_col,
            "n_docs",
            F.round(F.col("_p") / F.col("_tot"), 6).alias("mix_weight"),
        )
        .orderBy(source_col)
    )


def length_trim(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Per-source length-outlier trim report: exact token-length
    quantile cutoffs [lo_q, hi_q] and how many docs fall outside —
    the standard too-short/too-long corpus filter, with the thresholds
    LEARNED per source instead of hard-coded.

    Exact interpolated percentile (Spark `percentile` == DuckDB
    `quantile_cont`) for oracle parity; at 10^12 rows approx_percentile
    (t-digest, map-side combinable) would bound the per-group state. Two
    aggregates over one shuffle key (source); the cutoff join is a
    broadcast (one row per source).
    """
    toks = df.select(
        source_col,
        ws_token_count_expr(F.col(text_col)).cast("long").alias("_n"),
    )
    cuts = toks.groupBy(source_col).agg(
        F.percentile(F.col("_n"), F.lit(float(lo_q))).alias("lo_cut"),
        F.percentile(F.col("_n"), F.lit(float(hi_q))).alias("hi_cut"),
    )
    flagged = toks.join(F.broadcast(cuts), source_col)
    return (
        flagged.groupBy(source_col, "lo_cut", "hi_cut")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("_n") < F.col("lo_cut")).cast("long")).alias(
                "n_too_short"
            ),
            F.sum((F.col("_n") > F.col("hi_cut")).cast("long")).alias(
                "n_too_long"
            ),
        )
        .select(
            source_col,
            F.round("lo_cut", 4).alias("lo_cut"),
            F.round("hi_cut", 4).alias("hi_cut"),
            "n_docs",
            "n_too_short",
            "n_too_long",
        )
        .orderBy(source_col)
    )


def dsir_weights(
    df: DataFrame,
    target_source: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al. 2023, arXiv:2302.03169): score every document by how much
    more likely its hashed-unigram features are under a *target*
    distribution (docs from ``target_source``) than under the *raw*
    distribution (everything else):

        w(d) = sum_{t in tokens(d)} ln p_tgt(h(t)) - ln p_raw(h(t))

    with h(t) = md5-prefix(t) mod ``n_buckets`` and add-one smoothing on
    both histograms. Positive w = "looks like the target domain" — the
    selection signal DSIR resamples by when curating pre-training data
    toward a high-quality reference corpus.

    Scale shape: the two feature histograms are ONE partial-agg'd
    group-by over the exploded tokens onto ``n_buckets`` keys (tiny,
    uniformly spread by the hash — no skew by construction); the
    log-ratio table (n_buckets rows) broadcasts back onto the token
    stream, so the only real shuffle is the per-doc weight aggregate on
    ``id_col``. No vocabulary collect, no driver state — the hashing
    trick is exactly what makes DSIR O(1)-memory at 10^12 tokens.

    Output: per-source selection summary (source, n_docs, avg_logratio,
    n_positive), source asc. The target source itself should float to
    the top — a built-in sanity check.
    """
    from ..functions.tokenize import tokenize

    toks = df.select(
        F.col(id_col).alias("_d"),
        F.col(source_col).alias("_src"),
        F.explode(tokenize(F.col(text_col), "default")).alias("term"),
    )
    bucketed = toks.select(
        "_d",
        "_src",
        (
            F.conv(F.substring(F.md5(F.col("term").cast("binary")), 1, 6), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("bucket"),
    )
    # Round-6 (guide §2.3/§2.4): aggregate to (doc, src, bucket) token
    # counts FIRST and derive both consumers from that one aggregate. The
    # previous shape fed the raw exploded+md5 token stream into two
    # different exchanges (the bucket histogram and the per-doc weight
    # agg), so the tokenize+md5 map work ran TWICE; `counts` is consumed
    # by both branches through the IDENTICAL exchange subtree, which
    # Spark's ReuseExchange computes once. w(d) = sum_t lr(h(t)) =
    # sum_bucket c * lr — same arithmetic on smaller rows; value-equality
    # re-verified against the (unchanged) DuckDB oracle at
    # sf0.001/0.01/0.1.
    counts = bucketed.groupBy("_d", "_src", "bucket").agg(
        F.count(F.lit(1)).alias("c")
    )
    hist = counts.groupBy("bucket").agg(
        F.sum(F.when(F.col("_src") == target_source, F.col("c")).otherwise(0)).alias("t_cnt"),
        F.sum(F.when(F.col("_src") != target_source, F.col("c")).otherwise(0)).alias("r_cnt"),
    )
    tot = hist.agg(
        F.sum("t_cnt").alias("t_tot"), F.sum("r_cnt").alias("r_tot")
    )
    log_ratio = hist.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("t_cnt") + 1) / (F.col("t_tot") + n_buckets))
            - F.log((F.col("r_cnt") + 1) / (F.col("r_tot") + n_buckets))
        ).alias("lr"),
    )
    per_doc = (
        counts.join(F.broadcast(log_ratio), "bucket")
        .groupBy("_d", "_src")
        .agg(F.sum(F.col("lr") * F.col("c")).alias("w"))
    )
    return (
        per_doc.groupBy(F.col("_src").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("w"), 4).alias("avg_logratio"),
            F.sum((F.col("w") > 0).cast("long")).alias("n_positive"),
        )
        .orderBy("source")
    )


def curriculum_order(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_phases: int = 4,
) -> DataFrame:
    """Curriculum ordering: a deterministic GLOBAL rank of every document
    by difficulty proxy (whitespace token count asc — short/easy first),
    ties by md5(id), plus the curriculum phase each document lands in
    (contiguous rank ranges, later phases may hold one extra doc when
    ranks don't divide evenly). Every curriculum-training run needs this
    total order to be stable across reruns and cluster sizes.

    Scale shape — global rank WITHOUT a global window: a row_number
    partitioned by nothing moves the corpus to one reducer (Spark even
    warns). Instead the classic two-phase distributed rank:
    (1) rank within each difficulty value (partition key = n_tokens, a
        bounded-cardinality key; the window shuffle carries (id, hash),
        never text),
    (2) the per-value COUNTS — |distinct difficulties| rows, thousands at
        most — aggregate once, cumulative-sum driver-free via a window
        over that tiny frame, and broadcast-join back as each value's
        rank offset.
    global_rank = offset + local_rank. The corpus shuffles once, on a
    key with no single hot reducer.

    Output: (doc_id, n_tokens, global_rank, phase), global_rank asc.
    """
    scored = docs.select(
        F.col(id_col).alias("doc_id"),
        ws_token_count_expr(F.col(text_col)).cast("int").alias("n_tokens"),
        _order_hash(id_col).alias("_h"),
    )
    local = scored.withColumn(
        "_lr",
        F.row_number().over(
            Window.partitionBy("n_tokens").orderBy("_h", "doc_id")
        ),
    )
    counts = scored.groupBy("n_tokens").agg(F.count(F.lit(1)).alias("_c"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_c").over(
                Window.orderBy("n_tokens").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("n_tokens", "_off")
    total = scored.count()
    ranked = local.join(F.broadcast(offsets), "n_tokens").withColumn(
        "global_rank", (F.col("_off") + F.col("_lr")).cast("long")
    )
    # phase p covers ranks (p*total/n_phases, (p+1)*total/n_phases]
    phase = F.floor(
        (F.col("global_rank") - 1) * n_phases / F.greatest(F.lit(total), F.lit(1))
    ).cast("int")
    return (
        ranked.select("doc_id", "n_tokens", "global_rank", phase.alias("phase"))
        .orderBy("global_rank")
    )


def weighted_sample(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, k per group —
    Efraimidis–Spirakis A-Res (public algorithm, IPL 2006): each item
    draws u ∈ (0,1) and is ranked by key = u^(1/w); the top-k keys are a
    weighted sample without replacement. Weight here = whitespace token
    count (longer documents proportionally likelier), the usual proxy
    when sampling a corpus for inspection/eval by token mass.

    Replayability: u is NOT a random number — it derives from md5 of the
    stringified id ((first 8 hex digits + 0.5) / 2^32), so both engines
    draw the identical uniform and the sample is stable run-to-run, the
    property a resumable pipeline needs (re-running the stage must not
    re-sample).

    Scale shape: one scan computing (group, id, w, key), then a per-group
    top-k window — Spark plans WindowGroupLimit, pruning to k rows per
    group BEFORE the exchange, so the shuffle carries ~k rows per group
    per map partition, never the corpus. Group cardinality bounds the
    output; no driver-side state.
    """
    u = (
        F.conv(F.substring(_order_hash(id_col), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    w_tok = F.greatest(ws_token_count_expr(F.col(text_col)), F.lit(1))
    scored = df.select(
        group_col,
        id_col,
        w_tok.cast("long").alias("weight"),
        F.pow(u, F.lit(1.0) / w_tok.cast("double")).alias("_key"),
    )
    win = Window.partitionBy(group_col).orderBy(
        F.col("_key").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            "rank",
            id_col,
            "weight",
            F.round("_key", 6).alias("sample_key"),
        )
        .orderBy(group_col, "rank")
    )


def quality_calibration(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-source quality-score calibration: map each document's raw
    quality score (token count here, as elsewhere in this suite) to its
    percent-rank WITHIN its source, so scores become comparable across
    sources whose raw scales differ — the standard pre-step before any
    corpus-wide quality threshold (a 0.9 means "top decile of its own
    source" for every source). Output: the calibration map — per
    (source, calibrated decile): document count and the raw-score range
    that decile covers, which is exactly the lookup a filtering job
    broadcasts.

    Output (source, decile asc): (source, decile, n_docs, min_raw,
    max_raw).

    Scale shape: one percent_rank() window per source partition — an
    exact per-source sort, the honest cost of exact calibration; at
    10^12 rows swap to approx_percentile-derived decile boundaries
    (one aggregate + a broadcast range join) at the price of boundary
    approximation. Ties in the raw score share a rank (no artificial
    tie-break), so results are engine-identical and deterministic.
    """
    del id_col  # ties intentionally share percent_rank; no tie-break key
    raw = ws_token_count_expr(F.col(text_col))
    scored = df.select(group_col, raw.alias("raw"))
    w = Window.partitionBy(group_col).orderBy("raw")
    cal = F.percent_rank().over(w)
    decile = F.least(F.floor(cal * 10), F.lit(9)).cast("int")
    return (
        scored.select(group_col, "raw", decile.alias("decile"))
        .groupBy(group_col, "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("raw").cast("long").alias("min_raw"),
            F.max("raw").cast("long").alias("max_raw"),
        )
        .orderBy(group_col, "decile")
    )
