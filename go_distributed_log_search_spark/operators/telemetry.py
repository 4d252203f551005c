"""Telemetry roll-ups over the parsed turn fields.

The reference's value proposition is turning raw log lines into queryable
structure (schema projections, src/dest/bytes/op/duration extraction —
internal_parser.go field casts, SURVEY §2.2). These operators are the
standard dashboards a log-search deployment runs ON that structure:

- :func:`slo_stats` — per-operation latency percentiles from the parsed
  ``duration`` field (the p95/p99 SLO board).
- :func:`top_talkers` — per-source-IP traffic totals from the parsed
  ``src``/``bytes`` fields (the network hot-spot board).
- :func:`latency_stats` — per role-transition response latency from turn
  timestamps (the agent-responsiveness board; transcripts-axis analog of
  inter-log-line latency).
- :func:`error_cascade` — how often an error turn is followed by another
  error within k turns of the same conversation (retry-storm /
  error-propagation audit keyed by error signature).

Percentiles are Spark ``percentile`` — linear interpolation,
bit-identical to DuckDB ``quantile_cont`` — so every group value rides the
shuffle to its reducer.

Scale shapes: slo_stats/top_talkers are scan + one bounded-cardinality
hash aggregate (|ops| and |ips| keys). latency_stats/error_cascade are one
conv_id window shuffle each; error_cascade windows over ERROR turns only
(minority).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SRC_IP_RE = r"src: /([0-9.]+):"


def slo_stats(parsed: DataFrame) -> DataFrame:
    """Per-op duration percentiles over parsed INFO lines.

    Output (op asc): (op, n_lines, p50_dur, p95_dur, p99_dur, max_dur).
    """
    d = F.col("duration").cast("double")
    return (
        parsed.filter(F.col("op").isNotNull() & F.col("duration").isNotNull())
        .groupBy("op")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.percentile(d, F.lit(0.5)), 4).alias("p50_dur"),
            F.round(F.percentile(d, F.lit(0.95)), 4).alias("p95_dur"),
            F.round(F.percentile(d, F.lit(0.99)), 4).alias("p99_dur"),
            F.max("duration").cast("bigint").alias("max_dur"),
        )
        .orderBy("op")
    )


def top_talkers(
    turns: DataFrame, k: int = 10, text_col: str = "text"
) -> DataFrame:
    """Top-k source IPs by total parsed bytes.

    Output: (src_ip, n_lines, total_bytes), total_bytes desc / src_ip asc,
    limit k — orderBy+limit folds to TakeOrderedAndProject, so only k rows
    leave each partition's aggregate.
    """
    from ..functions import grok
    from ..functions.sqltext import column_ref

    rows = turns.select(
        F.regexp_extract(F.col(text_col), SRC_IP_RE, 1).alias("src_ip"),
        F.expr(grok.kv_long_sql(column_ref(text_col), "bytes")).alias("bytes"),
    ).filter(F.col("src_ip") != "")
    return (
        rows.groupBy("src_ip")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy(F.col("total_bytes").desc(), "src_ip")
        .limit(k)
    )


def latency_stats(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Per role-transition turn latency (seconds between consecutive
    turns of a conversation, keyed by prev_role -> role).

    Output (prev_role, role asc): (prev_role, role, n, avg_s, p95_s,
    max_s), latencies clamped at >= 0 (out-of-order wall clocks happen in
    real telemetry; negative deltas would poison the averages).
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    t = F.col(ts_col).cast("double")
    pairs = (
        turns.select(
            F.col(conv_col),
            F.col(idx_col),
            F.col(role_col).alias("role"),
            F.lag(F.col(role_col)).over(w).alias("prev_role"),
            F.greatest(t - F.lag(t).over(w), F.lit(0.0)).alias("lat_s"),
        )
        .filter(F.col("prev_role").isNotNull())
    )
    return (
        pairs.groupBy("prev_role", "role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("lat_s"), 4).alias("avg_s"),
            F.round(F.percentile(F.col("lat_s"), F.lit(0.95)), 4).alias("p95_s"),
            F.round(F.max("lat_s"), 4).alias("max_s"),
        )
        .orderBy("prev_role", "role")
    )


def error_cascade(
    parsed: DataFrame,
    k: int = 3,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Error-propagation audit: for each error signature, how often is an
    ERROR turn followed by ANOTHER error turn within k turns of the same
    conversation?

    Output (error_signature asc): (error_signature, n_errors, n_cascades,
    cascade_rate) with cascade_rate = n_cascades / n_errors to 4dp.
    """
    errs = parsed.filter(F.col("level") == "ERROR").select(
        F.col(conv_col), F.col(idx_col), F.col("error_signature")
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    flagged = errs.withColumn("next_idx", F.lead(idx_col).over(w)).withColumn(
        "cascades",
        (F.col("next_idx") - F.col(idx_col) <= k).cast("long"),
    )
    return (
        flagged.groupBy("error_signature")
        .agg(
            F.count(F.lit(1)).alias("n_errors"),
            F.coalesce(F.sum("cascades"), F.lit(0)).cast("bigint").alias(
                "n_cascades"
            ),
            F.round(
                F.coalesce(F.sum("cascades"), F.lit(0))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("cascade_rate"),
        )
        .orderBy("error_signature")
    )


def tool_error_rate(parsed: DataFrame, k: int = 2) -> DataFrame:
    """Per-tool failure attribution: the fraction of tool turns followed
    within k turns (same conversation) by an ERROR-level turn.

    The companion board to error_cascade (error → error): this one asks
    "which TOOL precedes failures" — the triage view for deciding which
    tool integration to fix first. A tool turn is charged when ANY of the
    next k turns carries level=ERROR.

    Scale shape: one conv_id window with a bounded forward frame
    (ROWS 1..k FOLLOWING) computing a max over a 0/1 error flag — O(k)
    state per row; the only shuffle is the window exchange, then a
    |tools|-cardinality aggregate. The text column never rides the
    shuffle (only tool + the flag).
    """
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(1, k)
    )
    flagged = parsed.select(
        "conv_id",
        "turn_idx",
        "tool",
        (F.col("level") == "ERROR").cast("int").alias("is_err"),
    ).withColumn("err_ahead", F.coalesce(F.max("is_err").over(w), F.lit(0)))
    return (
        flagged.filter(F.col("tool").isNotNull())
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.sum("err_ahead").alias("n_err_follow"),
            F.round(
                F.sum("err_ahead") / F.count(F.lit(1)).cast("double"), 4
            ).alias("err_rate"),
        )
        .orderBy("tool")
    )


def _adjacent_ts_deltas(turns: DataFrame) -> DataFrame:
    """(conv_id, delta) per turn: wall-clock seconds since the previous
    turn of the conversation in turn_idx order (NULL on each
    conversation's first turn) — the ONE adjacent-timestamp pairing
    shared by conv_gap_sessions and ooo_turns. A single lag() window
    over (conv_id, turn_idx) carrying only (conv_id, turn_idx, ts)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = F.col("ts").cast("double")
    return turns.select("conv_id", (t - F.lag(t).over(w)).alias("delta"))


def conv_gap_sessions(turns: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Idle-gap session splits WITHIN conversations: a new session starts
    whenever the wall-clock gap from the previous turn exceeds ``gap_s``
    seconds (default 30 min).

    Long-running agent conversations span hours; training-sample and
    billing boundaries usually follow idle gaps, not conversation ids.
    Output per conversation: turn count, session count, and the largest
    observed gap. (The events-table analog keyed by user is `sessionize`;
    this is the transcript-axis variant keyed by conversation.)

    Scale shape: the shared _adjacent_ts_deltas lag() window fused with
    the per-conv aggregate on the same key — a single exchange carrying
    (conv_id, turn_idx, ts) only.
    """
    return (
        _adjacent_ts_deltas(turns)
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            # when(...).otherwise(0), not a bare cast: a single-turn
            # conversation's only delta is NULL and must count as 0 splits
            (F.sum(F.when(F.col("delta") > gap_s, 1).otherwise(0)) + 1).alias(
                "n_sessions"
            ),
            F.round(F.coalesce(F.max("delta"), F.lit(0.0)), 1).alias("max_gap_s"),
        )
        .orderBy("conv_id")
    )


def ooo_turns(turns: DataFrame) -> DataFrame:
    """Out-of-order timestamp audit: adjacent turn pairs (in turn_idx
    order) whose wall clock goes BACKWARDS — the telemetry-hygiene check
    behind latency_stats' >= 0 clamp. Real agent logs interleave clocks
    from multiple hosts; a rising backward-jump rate means the ingest's
    ordering key can no longer be trusted for latency math.

    Output per conversation with at least one violation: pair count,
    backward-pair count and rate, and the largest backward jump in
    seconds. The shared _adjacent_ts_deltas lag() window fused with the
    conv aggregate (same key, single exchange); the global report stays
    small because ordered conversations are filtered out.
    """
    pairs = _adjacent_ts_deltas(turns).filter(F.col("delta").isNotNull())
    return (
        pairs.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum((F.col("delta") < 0).cast("long")).alias("n_backward"),
            F.round(
                F.sum((F.col("delta") < 0).cast("int"))
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("backward_rate"),
            F.round(-F.least(F.min("delta"), F.lit(0.0)), 1).alias("max_jump_s"),
        )
        .filter(F.col("n_backward") > 0)
        .orderBy("conv_id")
    )


def ingest_volume_trend(turns: DataFrame) -> DataFrame:
    """Per-day ingest volume with the cumulative token share — the
    capacity-planning curve (how fast is the corpus growing, and what
    fraction of today's total arrived by each day).

    Scale shape: one corpus scan into a |days|-cardinality aggregate;
    the running sum and grand total are windows over the aggregated
    per-day table — bounded by the calendar, not the data (the safe kind
    of unpartitioned window, same reasoning as filter_cascade's stage
    table).
    """
    from .textstats import ws_token_count_expr

    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    per_day = (
        turns.select(day.alias("day"), ws_token_count_expr(F.col("text")).alias("t"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("t").alias("n_tokens"),
        )
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    return (
        per_day.withColumn("cum_tokens", F.sum("n_tokens").over(w_cum))
        .withColumn(
            "cum_frac",
            F.round(
                F.col("cum_tokens") / F.sum("n_tokens").over(w_all).cast("double"),
                4,
            ),
        )
        .orderBy("day")
    )


def ttfr_stats(turns: DataFrame) -> DataFrame:
    """Time-to-first-response: seconds from a conversation's FIRST user
    turn to its FIRST assistant turn, summarized corpus-wide — the
    serving-side latency metric (TTFR) every agent deployment tracks,
    complementary to latency_stats (which keys on every adjacent role
    transition, not the conversation-opening experience).

    Conversations lacking either role, or whose first assistant turn
    precedes the first user turn (assistant-initiated), are excluded.
    Output: ONE row — (n_convs, avg_s, p50_s, p95_s, max_s).

    Scale shape: two conditional min-aggregates per conversation inside
    a single partial+final groupBy(conv_id) — no window, no join — then
    a global percentile aggregate over one row per conversation.
    """
    t = F.col("ts").cast("double")
    per = turns.groupBy("conv_id").agg(
        F.min(F.when(F.col("role") == "user", t)).alias("t_u"),
        F.min(F.when(F.col("role") == "assistant", t)).alias("t_a"),
    )
    ttfr = (
        per.filter(
            F.col("t_u").isNotNull()
            & F.col("t_a").isNotNull()
            & (F.col("t_a") >= F.col("t_u"))
        )
        .select((F.col("t_a") - F.col("t_u")).alias("s"))
    )
    return ttfr.agg(
        F.count(F.lit(1)).alias("n_convs"),
        F.round(F.avg("s"), 4).alias("avg_s"),
        F.round(F.percentile(F.col("s"), F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile(F.col("s"), F.lit(0.95)), 4).alias("p95_s"),
        F.round(F.max("s"), 4).alias("max_s"),
    )


def psi_drift(parsed: DataFrame, n_bins: int = 10, bin_width: int = 10000) -> DataFrame:
    """Per-day population-stability index (PSI) of the parsed ``bytes``
    field against the corpus distribution — the standard numeric-drift
    alarm (PSI > 0.1 investigate, > 0.25 act) applied to the log
    pipeline's extracted metrics; the numeric-field companion to
    kl_drift (vocabulary) and vocab_novelty_trend (new terms).

    bytes is binned into fixed-width bins (floor(bytes / bin_width),
    capped at n_bins - 1); PSI_day = Σ_bin (p_day − p_corpus) ·
    ln(p_day / p_corpus) over bins observed on BOTH sides (a bin absent
    from either side is excluded — documented estimator choice, mirrored
    in the oracle). Output (day asc): (day, n_lines, psi).

    Scale shape: one scan over rows with a parsed bytes value into a
    (day, bin) aggregate (≤ |days| × n_bins rows); corpus bin totals and
    day totals derive from THAT table (no second scan) and join back
    broadcast.
    """
    day = F.date_format(F.col("ts"), "yyyy-MM-dd")
    b = F.least(
        F.floor(F.col("bytes") / F.lit(bin_width)), F.lit(n_bins - 1)
    ).cast("int")
    db = (
        parsed.filter(F.col("bytes").isNotNull())
        .select(day.alias("day"), b.alias("bin"))
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    day_tot = db.groupBy("day").agg(F.sum("c").alias("n_day"))
    corpus = db.groupBy("bin").agg(F.sum("c").alias("c_bin"))
    n_all = day_tot.agg(F.sum("n_day").alias("n_all"))
    j = (
        db.join(F.broadcast(day_tot), "day")
        .join(F.broadcast(corpus), "bin")
        .crossJoin(F.broadcast(n_all))
    )
    p_d = F.col("c") / F.col("n_day").cast("double")
    p_c = F.col("c_bin") / F.col("n_all").cast("double")
    return (
        j.select("day", "n_day", ((p_d - p_c) * F.log(p_d / p_c)).alias("term"))
        .groupBy("day")
        .agg(
            F.max("n_day").alias("n_lines"),
            F.round(F.sum("term"), 4).alias("psi"),
        )
        .orderBy("day")
    )


def conv_duration_hist(turns: DataFrame) -> DataFrame:
    """Log2-bucketed WALL-CLOCK conversation-duration histogram — the
    time-axis companion to conv_depth_hist (which buckets by turn
    count): how many conversations run under a minute, 1-2 min, 2-4 min,
    ... and how many turns each duration band holds.

    bucket = floor(log2(duration in whole minutes)), with sub-minute
    conversations (including single-turn ones, duration 0) in bucket -1.
    Output (bucket asc): (bucket, dur_min_minutes, n_convs, avg_turns).

    Scale shape: min/max/count per conversation in ONE partial+final
    aggregate, then a ~40-bucket rollup.
    """
    t = F.col("ts").cast("double")
    per = turns.groupBy("conv_id").agg(
        ((F.max(t) - F.min(t)) / 60.0).alias("mins"),
        F.count(F.lit(1)).alias("n_turns"),
    )
    bucket = (
        F.when(F.col("mins") < 1, F.lit(-1))
        .otherwise(F.floor(F.log2(F.col("mins"))))
        .cast("int")
    )
    return (
        per.select(bucket.alias("bucket"), "n_turns")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_convs"),
            F.round(F.avg("n_turns"), 2).alias("avg_turns"),
        )
        .withColumn(
            "dur_min_minutes",
            F.when(F.col("bucket") < 0, F.lit(0)).otherwise(
                F.pow(F.lit(2.0), F.col("bucket"))
            ).cast("long"),
        )
        .select("bucket", "dur_min_minutes", "n_convs", "avg_turns")
        .orderBy("bucket")
    )


def active_convs_hourly(turns: DataFrame) -> DataFrame:
    """Hourly concurrency curve: for each wall-clock hour, how many
    conversations were ACTIVE (their [first turn, last turn] interval
    covers the hour) and how many started then — the capacity metric
    behind serving-fleet sizing, not derivable from per-turn windowed
    counts (hourly_windows) because a conversation is active through
    hours in which it emits no turn.

    Output (hour asc): (hour 'yyyy-MM-dd HH:00', n_active, n_starting).

    Scale shape: one per-conversation min/max aggregate, then each
    conversation explodes into its covered hours — fan-out bounded by
    conversation DURATION in hours, not turn count — into an
    |hours|-cardinality aggregate. The interval expansion is the
    standard Spark substitute for an interval-overlap range join against
    an hours table (which would be a cartesian under the hood).
    """
    per = turns.groupBy("conv_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = per.select(
        "h0",
        F.explode(F.expr("sequence(h0, h1, interval 1 hour)")).alias("h"),
    )
    return (
        hours.groupBy(F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.sum((F.col("h") == F.col("h0")).cast("long")).alias("n_starting"),
        )
        .orderBy("hour")
    )


def tool_latency_stats(turns: DataFrame) -> DataFrame:
    """Per-TOOL execution latency: seconds from the preceding turn (the
    call site) to each tool turn (the result), summarized per tool name
    — the per-integration slice that latency_stats' role-transition
    board (prev_role → role) can't give because it pools every tool
    under one 'tool' row.

    Output (tool asc): (tool, n_calls, avg_s, p95_s, max_s), latencies
    clamped at >= 0 like latency_stats.

    Scale shape: one lag() window over (conv_id, turn_idx) carrying only
    (conv_id, turn_idx, role-as-tool, ts) — the predecessor may be any
    role, so the window runs pre-filter, but nothing wider than those
    four small columns rides the exchange — then a |tools|-cardinality
    aggregate.
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    t = F.col("ts").cast("double")
    base = turns.select(
        "conv_id", "turn_idx", "tool", t.alias("t")
    ).withColumn("prev_t", F.lag("t").over(w))
    lat = F.greatest(F.col("t") - F.col("prev_t"), F.lit(0.0))
    return (
        base.filter(F.col("tool").isNotNull() & F.col("prev_t").isNotNull())
        .select("tool", lat.alias("lat_s"))
        .groupBy("tool")
        .agg(
            F.count(F.lit(1)).alias("n_calls"),
            F.round(F.avg("lat_s"), 4).alias("avg_s"),
            F.round(F.percentile(F.col("lat_s"), F.lit(0.95)), 4).alias("p95_s"),
            F.round(F.max("lat_s"), 4).alias("max_s"),
        )
        .orderBy("tool")
    )


def error_position_profile(parsed: DataFrame, n_buckets: int = 5) -> DataFrame:
    """Error incidence by RELATIVE conversation position: do errors
    cluster early (setup failures) or late (long-context degradation)?
    The error-axis companion to turn_position_profile's token-mass
    curve, and the evidence behind truncation-policy choices (dropping
    late turns discards disproportionally many errors if the curve
    rises).

    Output (bucket asc): (bucket, n_turns, n_errors, err_rate).

    Scale shape: one unordered count() window over the conv_id partition
    for the position denominator, then an n_buckets-key aggregate; only
    (conv_id, turn_idx, is_err) rides the exchange.
    """
    w = Window.partitionBy("conv_id")
    base = parsed.select(
        "conv_id",
        "turn_idx",
        # when/otherwise, not a bare cast: level IS NULL must count 0,
        # not drop out of (or NULL-poison) the bucket sums
        F.when(F.col("level") == "ERROR", 1).otherwise(0).alias("is_err"),
    ).withColumn("n_turns", F.count(F.lit(1)).over(w))
    bucket = F.least(
        F.floor(F.lit(n_buckets) * F.col("turn_idx") / F.col("n_turns")),
        F.lit(n_buckets - 1),
    ).cast("int")
    return (
        base.select(bucket.alias("bucket"), "is_err")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("is_err").cast("long").alias("n_errors"),
            F.round(
                F.sum("is_err") / F.count(F.lit(1)).cast("double"), 4
            ).alias("err_rate"),
        )
        .orderBy("bucket")
    )
