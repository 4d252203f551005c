"""Event-time window counts over a batch frame.

The reference has no event-time semantics at all (its only streaming state
is Kafka offsets; ST1 is processing-time tumbling — SURVEY.md §2.9).
``windowed_counts_batch`` buckets rows by the ``ts`` column into tumbling
windows, or hopping ones when ``slide`` is shorter than ``window``, and
counts rows per (window, key). It backs the ``hourly_windows`` and
``sliding_windows`` queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_counts_batch(
    df: DataFrame,
    window: str = "10 minutes",
    key_col: str = "event_type",
    ts_col: str = "ts",
    slide: str | None = None,
) -> DataFrame:
    """Row counts per (window, key) over ``ts_col``, one row per
    non-empty window.

    ``slide`` < ``window`` makes the windows HOPPING (overlapping): each
    event lands in window/slide windows — Spark's window() expression
    expands the row before the hash aggregate, so the fan-out stays
    map-side (one Expand-style projection feeding partial aggregation; no
    extra shuffle vs tumbling, the exchange carries only (win, key)
    partial counts)."""
    win = F.window("_ts", window, slide) if slide else F.window("_ts", window)
    return (
        df.select(F.col(ts_col).cast("timestamp").alias("_ts"), F.col(key_col))
        .groupBy(win.alias("win"), key_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            key_col,
            "n",
        )
    )
