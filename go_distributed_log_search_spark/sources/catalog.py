"""Warehouse catalog — data tables, lineage, checkpoints, index configs.

Reference analog: the SQL metadata store (sqlite_schema.sql:2-22 —
``indexes``, ``index_files``, ``kafka_checkpoints`` tables behind a
DBAdapter, src/database/adapter.go:12-17) plus the object-storage Operator
(src/commands/mod.go:30-35).

Production design is Iceberg: each sink is an Iceberg table, lineage rows
ride the snapshot metadata, and commits are atomic snapshot swaps. This
sandbox has no Iceberg runtime jar, so the stand-in is a parquet warehouse
for the data plus a driver-side SQLite catalog, ``{root}/_catalog.sqlite``,
the one place that names a table and says whether it exists. Each catalog
write is one transaction on the driver, not a Spark job:

- every batch writes under ``{table}/batch_id={id}/`` via dynamic partition
  overwrite -> re-running a failed batch REPLACES its own partition
  (idempotent at-least-once, the reference's file-then-checkpoint ordering,
  index.go:258-274, made crash-safe);
- ``lineage`` rows (batch_id, sink, row_count), keyed by (batch_id, sink),
  are written AFTER the data commit (A2/doc_count analog, mod.go:362-365).
  ``sink`` is the name of the table (and directory) the row counts, and a
  table exists when some commit recorded rows for it;
- ``checkpoints`` rows (source_id, part_id, watermark), keyed by
  (source_id, part_id), are upserted LAST, keeping the highest watermark
  (kafka_checkpoint.go:124-127 upsert; +1-resume kafka_source.go:252-256);
- ``indexes(name, config)`` holds each CLI index's YAML config
  (create.go:49-53). Dropping a table deletes its lineage rows and its
  ``indexes`` row in one transaction, then its data (drop.go:15-87).
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
CREATE TABLE IF NOT EXISTS indexes (name TEXT PRIMARY KEY, config TEXT NOT NULL);
"""


class Warehouse:
    """Parquet data tables with Iceberg-style batch-partition commits, and
    a SQLite catalog of lineage, checkpoints and index configs beside them."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.catalog_path = os.path.join(root, "_catalog.sqlite")
        with self._transaction() as con:
            con.executescript(CATALOG_DDL)

    @contextlib.contextmanager
    def _transaction(self):
        """One transaction on a connection of its own: foreachBatch commits
        from a Py4J callback thread, and a connection must stay on its
        thread."""
        with contextlib.closing(sqlite3.connect(self.catalog_path)) as con, con:
            yield con

    def _sql(self, sql: str, params=(), many: bool = False) -> list[tuple]:
        """One statement, once per params row if ``many``, as a transaction."""
        with self._transaction() as con:
            return (con.executemany if many else con.execute)(sql, params).fetchall()

    # ---------------------------------------------------------- tables

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        """Whether some commit recorded rows for ``table``."""
        sql = "SELECT 1 FROM lineage WHERE sink = ? AND row_count > 0 LIMIT 1"
        return bool(self._sql(sql, (table,)))

    def read(self, table: str, batches: list[str] | None = None) -> DataFrame:
        """The rows of committed batches only: the ``batch_id=``
        directories of the batches whose lineage recorded rows for
        ``table`` (of those, only ``batches`` when given). A batch whose
        data landed but whose lineage row did not (a crash between the
        two) stays invisible, so a retry under a fresh batch id does not
        show its rows twice. ``basePath`` keeps ``batch_id`` a column.

        Schema-evolving: batches may add fields over time (a field added
        to the ingest schema later must not vanish from old-batch scans).
        mergeSchema unions every read batch's parquet schema, absent
        columns read as NULL — the additive half of Iceberg schema
        evolution. Footer-merging cost is a sandbox-stand-in artifact: in
        production Iceberg resolves the current schema from table
        metadata, not by listing data files."""
        committed = [b for (b,) in self._sql(
            "SELECT batch_id FROM lineage WHERE sink = ? AND row_count > 0"
            " ORDER BY committed_at, batch_id",
            (table,),
        )]
        keep = [b for b in committed if batches is None or b in batches]
        base = self.path(table)
        # batch ids (UUIDs, "transcripts-p0-3", ...) need no path escaping.
        # No batch selected: the committed batches' schema, no rows.
        df = (
            self.spark.read.option("mergeSchema", "true").option("basePath", base)
            .parquet(*(os.path.join(base, f"batch_id={b}") for b in keep or committed))
        )
        return df if keep else df.where(F.lit(False))

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
        lineage order. Only the snapshot's ``batch_id=`` directories are
        read, never later commits (Iceberg's snapshot read resolved from
        metadata; the directory list here is the parquet stand-in)."""
        return self.read_between(table, None, batch_id)

    def read_between(self, table: str, after: str | None, until: str) -> DataFrame:
        """Incremental (CDC-style) read: rows appended by commits in
        (``after``, ``until``] — the consume-new-data half of streaming
        backfill. ``after=None`` means from the beginning. A commit the
        lineage does not hold (never made, or dropped) raises ValueError.
        Only the kept batches' directories are read."""
        order = self.commit_order()
        unknown = {after, until} - {None} - set(order)
        if unknown:
            raise ValueError(f"unknown commit {sorted(unknown)}; committed: {order}")
        lo = 0 if after is None else order.index(after) + 1
        keep = order[lo : order.index(until) + 1]
        return self.read(table, keep)

    def drop(self, table: str) -> None:
        """U2 drop-index analog (drop.go:15-87): the table's lineage rows
        and its ``indexes`` row go in one transaction, then its data.
        ``lineage`` and ``checkpoints`` are catalog tables: dropping one
        empties it."""
        if table in ("lineage", "checkpoints"):
            self._sql(f"DELETE FROM {table}")
            return
        with self._transaction() as con:
            con.execute("DELETE FROM lineage WHERE sink = ?", (table,))
            con.execute("DELETE FROM indexes WHERE name = ?", (table,))
        shutil.rmtree(self.path(table), ignore_errors=True)

    def compact(self, table: str) -> None:
        """U1 merge analog (merge.go:24-85), Iceberg's rewrite_data_files:
        rewrite the table (its merged schema, so no late column is lost)
        keeping one ``batch_id=`` partition and file per batch, so later
        appends and ``read_as_of`` / ``read_between`` work as before. Swap
        order: write tmp -> rename live aside -> rename tmp live -> delete
        old. A crash between the renames leaves both whole copies on disk
        (".compact.old", ".compact.tmp"); single-metadata-op atomicity is
        the Iceberg snapshot swap's in production."""
        src = self.path(table)
        tmp = src + ".compact.tmp"
        old = src + ".compact.old"
        (
            self.read(table).repartition("batch_id")
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(tmp)
        )
        shutil.rmtree(old, ignore_errors=True)
        os.replace(src, old)
        os.replace(tmp, src)
        shutil.rmtree(old)

    # ------------------------------------------------------- index configs

    def save_index(self, name: str, config: str) -> None:
        """Register (or replace) an index's YAML config."""
        self._sql("INSERT OR REPLACE INTO indexes VALUES (?, ?)", (name, config))

    def index_config(self, name: str) -> str | None:
        """An index's YAML config, or None when no index has that name."""
        rows = self._sql("SELECT config FROM indexes WHERE name = ?", (name,))
        return rows[0][0] if rows else None

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
