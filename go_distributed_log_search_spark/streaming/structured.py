"""Structured Streaming ingest — the production shape of the micro-batch
loop (S3 Kafka source / ST1 tumbling commits / ST3 checkpointing).

The sandbox ships no Kafka jar, so the stream source here is the file
source (one parquet dir, new files = new data), which exercises the SAME
Structured Streaming machinery: readStream -> foreachBatch(pipeline body)
-> checkpointLocation. Swapping the source line for

    spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", url).option("subscribe", topic)
        .option("startingOffsets", "earliest")   # batch-mode parity
        .load().select(from_json(col("value").cast("string"), schema).alias("d"))

is the only production delta (kafka_source.go:86-124 URL-based connect;
initial offsets :306-310; manual commit = checkpointLocation).

Spark's checkpointLocation supersedes the reference's hand-rolled
kafka_checkpoints table: offsets commit AFTER each foreachBatch completes —
the same at-least-once, commit-then-checkpoint ordering as index.go:258-274,
with exactly-once sink effects when the batch write is idempotent
(our batch_id partition overwrite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.catalog import Warehouse
from .microbatch import commit_batch


def stream_ingest_available_now(
    spark: SparkSession,
    input_path: str,
    wh: Warehouse,
    checkpoint_dir: str,
) -> int:
    """Run the streaming pipeline over all currently-available input files
    (trigger availableNow — the testable stand-in for a 30s processing-time
    trigger, args.go:162-163), committing each micro-batch to the warehouse.

    Returns the number of micro-batches committed.
    """
    schema = spark.read.parquet(input_path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .parquet(input_path)
    )

    n_batches = {"n": 0}

    def process_batch(batch_df: DataFrame, batch_no: int) -> None:
        commit_batch(batch_df.sparkSession, wh, batch_df, f"stream-{batch_no}")
        n_batches["n"] += 1

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_batches["n"]
