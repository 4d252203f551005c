"""As-of join — match each left row to the most recent right row at or
before its timestamp, per key.

Spark has no native ASOF JOIN (DuckDB/Pandas/kdb do); the reference has no
joins at all (SURVEY.md §2.3). This is the standard Spark-native
composition: union both sides tagged, one window pass per key ordered by
(ts, side), `last(..., ignorenulls=True)` carries the right side's values
forward onto left rows. ONE shuffle on the key (the window partition) — no
range-explode, no per-row Python, no broadcast requirement on either side;
at 100 TB both sides stream through the same hash partitioning, and if the
tables are bucketed by the key the exchange disappears.

Ties (left.ts == right.ts) match — the right row sorts first (side 0 < 1),
i.e. "at or before" semantics, identical to DuckDB's `ASOF JOIN ... ON
l.ts >= r.ts` (which the oracle uses verbatim).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """left columns + the as-of matched ``value_cols`` from right; unmatched
    left rows keep nulls (a left join).
    """
    # Deterministic tie rule: several right rows can share (key, ts) —
    # e.g. one customer, two orders on the same (day-granular) date. The
    # window order (_ts, _side) alone would let partition order pick the
    # carried row (ADVICE r02: matched values flapped run-to-run). Collapse
    # the right side to ONE row per (key, ts) first, keeping the
    # lexicographically-greatest value tuple — a rule an oracle can mirror
    # exactly (max struct == ORDER BY value_cols DESC LIMIT 1 per group).
    extra_vals = [c for c in value_cols if c not in (on, right_ts)]
    if extra_vals:
        right = (
            right.groupBy(on, right_ts)
            .agg(F.max(F.struct(*[F.col(c) for c in extra_vals])).alias("_vmax"))
            .select(on, right_ts, *[F.col(f"_vmax.{c}").alias(c) for c in extra_vals])
        )
    else:
        right = right.select(on, right_ts).distinct()
    # the right side rides as ONE struct column: `last(ignorenulls)` then
    # carries all value columns (and the match marker) atomically, so a
    # legitimately-NULL value column can't be "filled" from an older row
    r_struct = F.struct(
        F.col(right_ts).cast("timestamp").alias("__asof_ts"),
        *[F.col(c) for c in value_cols],
    )
    l_tag = left.select(
        F.col(on).alias("_key"),
        F.col(left_ts).cast("timestamp").alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*left.columns).alias("_left"),
        F.lit(None).cast(
            right.select(r_struct.alias("_r")).schema["_r"].dataType
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(on).alias("_key"),
        F.col(right_ts).cast("timestamp").alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(l_tag.schema["_left"].dataType).alias("_left"),
        r_struct.alias("_r"),
    )
    u = l_tag.unionByName(r_tag)
    w = W.partitionBy("_key").orderBy("_ts", "_side").rowsBetween(
        W.unboundedPreceding, 0
    )
    carried = u.select(
        "_side",
        "_left",
        F.last("_r", ignorenulls=True).over(w).alias("_r"),
    ).filter(F.col("_side") == 1)
    return carried.select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r.{c}").alias(c) for c in value_cols],
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_sec: int,
    upper_sec: int,
    value_cols: list[str],
) -> DataFrame:
    """Inner range join: pairs where right_ts is within
    ``[left_ts + lower_sec, left_ts + upper_sec]`` (inclusive), per key.

    Spark plans a raw inequality join as a broadcast nested loop (quadratic
    per key); this is the bucketed shape instead: time is quantized into
    buckets of the window width, each left row probes its (at most two)
    covering buckets, and the join is a plain EQUI-join on (key, bucket)
    followed by the exact range filter — shuffle-partitioned, scale-safe.
    Bucket fan-out is exactly 2 rows per left row, independent of data.
    """
    width = upper_sec - lower_sec
    if width <= 0:
        raise ValueError("upper_sec must be > lower_sec")
    l_sec = F.col(left_ts).cast("timestamp").cast("long")
    r_sec = F.col(right_ts).cast("timestamp").cast("long")
    lo = l_sec + lower_sec
    hi = l_sec + upper_sec
    l_tag = left.select(
        F.struct(*left.columns).alias("_left"),
        F.col(on).alias("_key"),
        lo.alias("_lo"),
        hi.alias("_hi"),
        F.explode(
            F.array_distinct(
                F.array(F.floor(lo / width).cast("long"), F.floor(hi / width).cast("long"))
            )
        ).alias("_bucket"),
    )
    r_tag = right.select(
        F.col(on).alias("_key"),
        r_sec.alias("_rsec"),
        F.floor(r_sec / width).cast("long").alias("_bucket"),
        *[F.col(c).alias(f"_r_{c}") for c in value_cols],
    )
    joined = l_tag.join(r_tag, on=["_key", "_bucket"]).filter(
        (F.col("_rsec") >= F.col("_lo")) & (F.col("_rsec") <= F.col("_hi"))
    )
    return joined.select(
        *[F.col(f"_left.{c}").alias(c) for c in left.columns],
        *[F.col(f"_r_{c}").alias(c) for c in value_cols],
    )
