"""Micro-batch ingest loop — the reference ``index`` command's streaming
semantics (ST1-ST6) restated for Spark batch jobs over a partitioned input.

Reference semantics preserved (/root/reference/src):
- ST1 tumbling batches: commands/index.go:106-125 — each loop iteration
  commits one batch. Here a batch = a slice of input partitions.
- ST3 commit-then-checkpoint ordering: index.go:258-274 — the sink write
  and lineage row land BEFORE the checkpoint upsert, so a crash between
  them re-processes the batch (at-least-once). Our batch_id-partitioned
  sinks make the re-run idempotent (dynamic partition overwrite), which is
  strictly stronger than the reference (duplicates possible there).
- ST4 checkpoint load / resume: kafka_source.go:403-417 — partitions with
  a stored watermark are skipped via an anti-join of the partition list
  against the checkpoint table.
- ST5 abandoned batches: a partial batch whose checkpoint never committed
  is simply re-run under the same batch_id (index.go:185-190 analog).
- ST6 EOF: the loop ends when no unprocessed partitions remain.

The input is 'partitioned' by a deterministic part_id (hash of conv_id, a
stand-in for Kafka partitions / Iceberg file splits); watermark = max
turn-count seen, stored +1-style as 'next' (kafka_source.go:252-256).

In production with a live Kafka feed the same pipeline body runs under
``spark.readStream.format("kafka") ... .writeStream.foreachBatch(...)``
with trigger(processingTime="30 seconds") — see streaming/structured.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregate, enrich, parse, route
from ..sources.catalog import Warehouse

SOURCE_ID = "transcripts"


def with_part_id(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn("part_id", F.pmod(F.hash("conv_id"), F.lit(n_parts)).cast("int"))


def pending_partitions(wh: Warehouse, all_parts: list[int]) -> list[int]:
    """ST4: anti-join the partition list against stored checkpoints."""
    done = wh.load_checkpoints(SOURCE_ID)
    return [p for p in all_parts if p not in done]


def commit_batch(
    spark: SparkSession, wh: Warehouse, batch_df: DataFrame, batch_id: str
) -> dict[str, int]:
    """Commit one batch of raw transcripts: the one write path of every
    transcript ingest driver (this loop, structured.py's foreachBatch, the
    spark-submit job).

    Parses and enriches the batch, persists the routed frame once, appends
    each ``sink_<name>`` table plus ``agg_terms`` under ``batch_id``, then
    records one lineage row per table with the row counts each write job
    observed. Returns those counts keyed by table name, as the lineage rows
    are: ``sink_errors``, ``sink_tool_calls``, ``sink_assistant_turns`` and
    ``agg_terms``.
    """
    enriched = enrich.enrich_turns(parse.parse_turns(batch_df), spark)
    # persisted: each append is a separate job over full rows, and
    # re-deriving the routed frame per table would re-parse the batch.
    # conv_id's metadata is dropped first: it holds the SOURCE table's hot
    # keys (transcripts_df), and parquet would store them as the sink's.
    # parse's lineage tags stay: the sink stores text with the columns cut
    # out of it, so they hold for the stored rows too.
    routed = route.routed(enriched).withMetadata("conv_id", {}).persist()
    try:
        # 1. data commits (S5)
        counts: dict[str, int] = {}
        for sink in route.SINKS:
            sink_df = routed.filter(F.col("sink") == sink).drop("sink")
            table = f"sink_{sink}"
            counts[table] = wh.append_batch(sink_df, table, batch_id)
        # hot_keys=None saves a detection job per batch. Partial agg does
        # not absorb a hot conversation here: the cold branch repartitions
        # by conv_id before the explode, so each one aggregates on a single
        # reducer. Sizing the commit for that skew is open (ROADMAP.md).
        aggs = aggregate.term_counts(routed, hot_keys=None)
        counts["agg_terms"] = wh.append_batch(aggs, "agg_terms", batch_id)
        # 2. lineage AFTER all data commits (A2, mod.go:362-365), one
        # catalog transaction
        wh.record_lineage_many(batch_id, counts)
    finally:
        routed.unpersist()
    return counts


def run_microbatch_ingest(
    spark: SparkSession,
    transcripts: DataFrame,
    wh: Warehouse,
    n_parts: int = 8,
    parts_per_batch: int = 4,
) -> list[str]:
    """Drive the full parse->enrich->route->aggregate flow in micro-batches.

    Returns the committed batch_ids.
    """
    tagged_input = with_part_id(transcripts, n_parts)
    todo = pending_partitions(wh, list(range(n_parts)))
    committed: list[str] = []
    while todo:
        batch_parts = todo[:parts_per_batch]
        todo = todo[parts_per_batch:]
        # deterministic batch_id so a re-run after crash reuses the same
        # sink partition (idempotency); reference uses a fresh UUID
        # (index.go:87) because its duplicates are tolerated
        batch_id = f"{SOURCE_ID}-p{min(batch_parts)}-{max(batch_parts)}"
        batch = tagged_input.filter(F.col("part_id").isin([int(p) for p in batch_parts]))
        # each partition's watermark (max turn_idx + 1) is observed on the
        # commit's own scan of the raw batch, not counted by a job of its own
        seen = Observation()
        batch = batch.observe(seen, *(
            F.max(F.when(F.col("part_id") == p, F.col("turn_idx") + 1)).alias(str(p))
            for p in batch_parts
        ))

        commit_batch(spark, wh, batch, batch_id)
        # 3. checkpoint LAST (ST3 ordering, index.go:258-274); empty
        # partitions (NULL max) checkpoint at watermark 0 — they are
        # processed, just dataless (ST4: a partition without data still
        # advances)
        marks = seen.get
        wh.save_checkpoint(
            SOURCE_ID, [(p, marks[str(p)] or 0) for p in batch_parts], batch_id
        )
        committed.append(batch_id)
    return committed
