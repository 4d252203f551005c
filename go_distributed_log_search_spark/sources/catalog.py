"""Warehouse catalog — sink tables, lineage, checkpoints.

Reference analog: the SQL metadata store (sqlite_schema.sql:2-22 —
``indexes``, ``index_files``, ``kafka_checkpoints`` tables behind a
DBAdapter, src/database/adapter.go:12-17) plus the object-storage Operator
(src/commands/mod.go:30-35).

Production design is Iceberg: each sink is an Iceberg table, lineage rows
ride the snapshot metadata, and commits are atomic snapshot swaps. This
sandbox has no Iceberg runtime jar, so the stand-in is a parquet warehouse
for the data plus a driver-side SQLite catalog for the control plane, with
the SAME interface and the same commit discipline:

- every batch writes under ``{table}/batch_id={id}/`` via dynamic partition
  overwrite -> re-running a failed batch REPLACES its own partition
  (idempotent at-least-once, the reference's file-then-checkpoint ordering,
  index.go:258-274, made crash-safe);
- ``lineage`` rows (batch_id, sink, row_count) are written AFTER the data
  commit (A2/doc_count analog, mod.go:362-365);
- ``checkpoints`` rows (source_id, part_id, watermark) are upserted LAST,
  keeping the highest watermark (kafka_checkpoint.go:124-127 upsert;
  +1-resume semantics kafka_source.go:252-256).

Lineage and checkpoints live in ``{root}/_catalog.sqlite``, the analog of
the reference's SQL store: each write is one transaction on the driver, not
a Spark job, and the keys (batch_id, sink) and (source_id, part_id) make a
re-run replace its own rows, as the data partitions are replaced.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sqlite3
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

CATALOG_DDL = """
CREATE TABLE IF NOT EXISTS lineage (batch_id TEXT NOT NULL, sink TEXT NOT NULL,
  row_count INTEGER NOT NULL, committed_at REAL NOT NULL, PRIMARY KEY (batch_id, sink));
CREATE TABLE IF NOT EXISTS checkpoints (source_id TEXT NOT NULL, part_id INTEGER NOT NULL,
  watermark INTEGER NOT NULL, batch_id TEXT NOT NULL, PRIMARY KEY (source_id, part_id));
"""


class Warehouse:
    """Parquet data tables with Iceberg-style batch-partition commits, and
    a SQLite catalog of lineage and checkpoints beside them."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.catalog_path = os.path.join(root, "_catalog.sqlite")
        with contextlib.closing(sqlite3.connect(self.catalog_path)) as con:
            con.executescript(CATALOG_DDL)

    def _sql(self, sql: str, params=(), many: bool = False) -> list[tuple]:
        """One statement as one catalog transaction (commit on success,
        rollback on error) on a connection of its own: foreachBatch commits
        from a Py4J callback thread, and a sqlite3 connection must stay on
        the thread that opened it. ``many`` runs it once per params row."""
        with contextlib.closing(sqlite3.connect(self.catalog_path)) as con, con:
            return (con.executemany if many else con.execute)(sql, params).fetchall()

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
        dynamic overwrite replaces exactly this batch's data). Returns the
        rows written, counted by the write job itself."""
        written = Observation()
        out = df.withColumn("batch_id", F.lit(batch_id)).observe(
            written, F.count(F.lit(1)).alias("rows")
        )
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.path(table))
        )
        return written.get["rows"]

    def commit_order(self) -> list[str]:
        """Batch ids in commit order (lineage commit wall-time, then id as
        the deterministic tiebreak — record_lineage_many stamps one ts per
        batch)."""
        rows = self._sql(
            "SELECT batch_id FROM lineage GROUP BY batch_id"
            " ORDER BY max(committed_at), batch_id"
        )
        return [b for (b,) in rows]

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
        'catalog row' here is the directory itself. ``lineage`` and
        ``checkpoints`` are catalog tables: dropping one empties it."""
        if table in ("lineage", "checkpoints"):
            self._sql(f"DELETE FROM {table}")
        else:
            shutil.rmtree(self.path(table), ignore_errors=True)

    def compact(self, table: str, target_partitions: int = 4) -> None:
        """U1 merge analog (merge.go:24-85): read-repartition-rewrite.
        Iceberg's rewrite_data_files equivalent. The rewrite keeps the
        ``batch_id=`` partition layout, one file per batch (each batch
        hashes to one of ``target_partitions`` write tasks): a later
        ``append_batch`` then adds a partition beside the compacted ones,
        and ``read_as_of`` / ``read_between`` still prune by directory.
        Swap order keeps the table recoverable at every step: write tmp ->
        rename live aside -> rename tmp live -> delete old. A crash between
        the two renames leaves no live directory but BOTH copies intact on
        disk (".compact.old" is the pre-compact table, ".compact.tmp" the
        full rewrite) — unlike rmtree-then-rename, which had a window where
        the only copy was gone. True single-metadata-op atomicity is what
        the Iceberg snapshot swap provides in production."""
        src = self.path(table)
        tmp = src + ".compact.tmp"
        old = src + ".compact.old"
        # mergeSchema here is load-bearing: a plain read would pick ONE
        # file's schema and the rewrite would permanently drop columns
        # that only later batches carry.
        df = self.spark.read.option("mergeSchema", "true").parquet(src)
        (
            df.repartition(target_partitions, "batch_id")
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old)

    # ------------------------------------------------ lineage / checkpoints

    def record_lineage_many(self, batch_id: str, counts: dict[str, int]) -> None:
        """A whole batch's lineage in one transaction, AFTER all its data
        commits (the ST3 ordering). A re-run batch replaces its own rows."""
        now = time.time()
        rows = [(batch_id, sink, int(n), now) for sink, n in counts.items()]
        self._sql("INSERT OR REPLACE INTO lineage VALUES (?, ?, ?, ?)", rows, many=True)

    def lineage(self) -> DataFrame:
        return self.spark.createDataFrame(
            self._sql("SELECT * FROM lineage ORDER BY batch_id, sink"),
            "batch_id string, sink string, row_count long, committed_at double",
        )

    def save_checkpoint(
        self, source_id: str, parts: list[tuple[int, int]], batch_id: str
    ) -> None:
        """Upsert that keeps the highest watermark per partition
        (kafka_checkpoint.go upsert): the watermark stored is already 'next
        to process' (offset+1 parity, kafka_source.go:252-256)."""
        self._sql(
            "INSERT INTO checkpoints VALUES (?, ?, ?, ?)"
            " ON CONFLICT (source_id, part_id) DO UPDATE SET"
            " watermark = excluded.watermark, batch_id = excluded.batch_id"
            " WHERE excluded.watermark >= checkpoints.watermark",
            [(source_id, int(p), int(w), batch_id) for p, w in parts],
            many=True,
        )

    def load_checkpoints(self, source_id: str) -> dict[int, int]:
        """``{part_id: watermark}`` of a source, read straight from the
        catalog (ST4 checkpoint load)."""
        return dict(self._sql(
            "SELECT part_id, watermark FROM checkpoints WHERE source_id = ?",
            (source_id,),
        ))
