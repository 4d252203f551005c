"""Tumbling event-time windows over a batch frame count every row."""

from pyspark.sql import functions as F

from go_distributed_log_search_spark.streaming import windowed


def _write(spark, path, rows):
    df = spark.createDataFrame(rows, ["event_type", "ts_s"]).select(
        "event_type", F.col("ts_s").cast("timestamp").alias("ts")
    )
    df.coalesce(1).write.mode("append").parquet(path)


def test_batch_twin_counts_everything(spark, tmp_path):
    src = str(tmp_path / "ev2")
    _write(spark, src, [
        ("click", "2024-01-01 10:00:30"),
        ("click", "2024-01-01 10:02:00"),
        ("view", "2024-01-01 10:59:00"),
    ])
    out = {
        (str(r.win_start), r.event_type): r.n
        for r in windowed.windowed_counts_batch(spark.read.parquet(src)).collect()
    }
    assert out[("2024-01-01 10:00:00", "click")] == 2
    assert out[("2024-01-01 10:50:00", "view")] == 1
