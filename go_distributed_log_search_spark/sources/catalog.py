"""Warehouse catalog — sink tables, lineage, checkpoints.

Reference analog: the SQL metadata store (sqlite_schema.sql:2-22 —
``indexes``, ``index_files``, ``kafka_checkpoints`` tables behind a
DBAdapter, src/database/adapter.go:12-17) plus the object-storage Operator
(src/commands/mod.go:30-35).

Production design is Iceberg: each sink is an Iceberg table, lineage rows
ride the snapshot metadata, and commits are atomic snapshot swaps. This
sandbox has no Iceberg runtime jar, so the stand-in is a parquet warehouse
with the SAME interface and the same commit discipline:

- every batch writes under ``{table}/batch_id={id}/`` via dynamic partition
  overwrite -> re-running a failed batch REPLACES its own partition
  (idempotent at-least-once, the reference's file-then-checkpoint ordering,
  index.go:258-274, made crash-safe);
- ``lineage`` rows (batch_id, sink, row_count) are appended AFTER the data
  commit (A2/doc_count analog, mod.go:362-365);
- ``checkpoints`` rows (source_id, part_id, watermark) are upserted LAST
  (kafka_checkpoint.go:124-127 upsert; +1-resume semantics
  kafka_source.go:252-256).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("sink", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("committed_at", T.DoubleType(), False),
    ]
)

CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("source_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("watermark", T.LongType(), False),
        T.StructField("batch_id", T.StringType(), False),
    ]
)


class Warehouse:
    """Parquet-backed warehouse with Iceberg-style batch-partition commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---------------------------------------------------------- tables

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and any(
            f.startswith("batch_id=") or f.endswith(".parquet") or f == "_SUCCESS"
            for f in os.listdir(p)
        )

    def read(self, table: str) -> DataFrame:
        """Schema-evolving read: batches may add fields over time (a field
        added to the ingest schema later must not vanish from old-batch
        scans). mergeSchema unions every batch's parquet schema, absent
        columns read as NULL — the additive half of Iceberg schema
        evolution. Footer-merging cost is a sandbox-stand-in artifact: in
        production Iceberg resolves the current schema from table
        metadata, not by listing data files."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path(table))

    def append_batch(self, df: DataFrame, table: str, batch_id: str) -> int:
        """Commit one batch into its own partition (idempotent re-run:
        dynamic overwrite replaces exactly this batch's data)."""
        out = df.withColumn("batch_id", F.lit(batch_id))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.path(table))
        )
        # row count from what we just wrote (cheap: single-partition scan)
        return (
            self.spark.read.parquet(self.path(table))
            .filter(F.col("batch_id") == batch_id)
            .count()
        )

    def commit_order(self) -> list[str]:
        """Batch ids in commit order (lineage commit wall-time, then id as
        the deterministic tiebreak — record_lineage_many stamps one ts per
        batch). Driver-side collect is control-plane: one row per commit,
        not per data row."""
        lin = (
            self.lineage()
            .groupBy("batch_id")
            .agg(F.max("committed_at").alias("_ts"))
            .orderBy("_ts", "batch_id")
            .collect()
        )
        return [r.batch_id for r in lin]

    def read_as_of(self, table: str, batch_id: str) -> DataFrame:
        """Snapshot (time-travel) read: the table as of commit
        ``batch_id`` — every batch committed up to and including it, in
        lineage order. The filter lands on the batch_id PARTITION column,
        so the scan prunes to the snapshot's directories and never reads
        later commits (Iceberg's snapshot read resolved from metadata; the
        listing here is the parquet stand-in)."""
        order = self.commit_order()
        if batch_id not in order:
            raise ValueError(f"unknown commit {batch_id!r}; committed: {order}")
        keep = order[: order.index(batch_id) + 1]
        return self.read(table).filter(F.col("batch_id").isin(keep))

    def read_between(self, table: str, after: str | None, until: str) -> DataFrame:
        """Incremental (CDC-style) read: rows appended by commits in
        (``after``, ``until``] — the consume-new-data half of streaming
        backfill. ``after=None`` means from the beginning. Same partition
        pruning as read_as_of."""
        order = self.commit_order()
        lo = 0 if after is None else order.index(after) + 1
        hi = order.index(until) + 1
        keep = order[lo:hi]
        if not keep:
            return self.read(table).filter(F.lit(False))
        return self.read(table).filter(F.col("batch_id").isin(keep))

    def drop(self, table: str) -> None:
        """U2 drop-index analog (drop.go:15-87): remove data files; the
        'catalog row' here is the directory itself."""
        import shutil

        shutil.rmtree(self.path(table), ignore_errors=True)

    def compact(self, table: str, target_partitions: int = 4) -> None:
        """U1 merge analog (merge.go:24-85): read-repartition-rewrite.
        Iceberg's rewrite_data_files equivalent. Swap order keeps the table
        recoverable at every step (ADVICE r01): write tmp -> rename live
        aside -> rename tmp live -> delete old. A crash between the two
        renames leaves no live directory but BOTH copies intact on disk
        (".compact.old" is the pre-compact table, ".compact.tmp" the full
        rewrite) — unlike rmtree-then-rename, which had a window where the
        only copy was gone. True single-metadata-op atomicity is what the
        Iceberg snapshot swap provides in production."""
        import shutil

        src = self.path(table)
        tmp = src + ".compact.tmp"
        old = src + ".compact.old"
        # mergeSchema here is load-bearing: a plain read would pick ONE
        # file's schema and the rewrite would permanently drop columns
        # that only later batches carry.
        df = self.spark.read.option("mergeSchema", "true").parquet(src)
        df.repartition(target_partitions).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old)

    # ------------------------------------------------ lineage / checkpoints

    def _append_rows(self, table: str, rows: list, schema: T.StructType) -> None:
        df = self.spark.createDataFrame(rows, schema)
        df.coalesce(1).write.mode("append").parquet(self.path(table))

    def record_lineage_many(self, batch_id: str, counts: dict[str, int]) -> None:
        """One append for a whole batch's lineage (one tiny Spark job
        instead of one per sink — the write is still AFTER all data
        commits, preserving the ST3 ordering)."""
        now = time.time()
        self._append_rows(
            "lineage",
            [(batch_id, sink, n, now) for sink, n in counts.items()],
            LINEAGE_SCHEMA,
        )

    def lineage(self) -> DataFrame:
        return self.read("lineage")

    def save_checkpoint(
        self, source_id: str, parts: list[tuple[int, int]], batch_id: str
    ) -> None:
        """Upsert semantics via append + latest-wins read (kafka_checkpoint
        go upsert): watermark stored is already 'next to process'
        (offset+1 parity, kafka_source.go:252-256)."""
        rows = [(source_id, int(p), int(w), batch_id) for p, w in parts]
        self._append_rows("checkpoints", rows, CHECKPOINT_SCHEMA)

    def load_checkpoints(self, source_id: str) -> DataFrame:
        """Latest watermark per partition (ST4 checkpoint load)."""
        if not self.exists("checkpoints"):
            return self.spark.createDataFrame([], CHECKPOINT_SCHEMA)
        cp = self.read("checkpoints").filter(F.col("source_id") == source_id)
        w = F.max("watermark").alias("watermark")
        return cp.groupBy("source_id", "part_id").agg(w)

    # ------------------------------------------------------------- misc

    def write_manifest(self, name: str, payload: dict) -> None:
        with open(os.path.join(self.root, f"{name}.json"), "w") as f:
            json.dump(payload, f, indent=2, sort_keys=True)
