"""ST1-ST6 micro-batch semantics: cold run == crash+resume run, lineage
counts match route counts, structured-streaming path commits the same data.
"""

import datetime

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import route
from go_distributed_log_search_spark.sources.catalog import Warehouse
from go_distributed_log_search_spark.streaming import microbatch, structured
from go_distributed_log_search_spark.transcripts import transcripts_df

from .conftest import SF0001


@pytest.fixture()
def transcripts(spark):
    return transcripts_df(spark, SF0001)


def _sink_state(wh):
    out = {}
    for sink in route.SINKS:
        df = wh.read(f"sink_{sink}")
        out[sink] = sorted(
            (r.conv_id, r.turn_idx, r.text) for r in df.select("conv_id", "turn_idx", "text").collect()
        )
    return out


def _crash_after(mp, n_batches):
    """Make the micro-batch loop crash after ``n_batches`` commits, before
    the next batch writes anything."""
    real, done = microbatch.commit_batch, []

    def commit(*args, **kw):
        if len(done) >= n_batches:
            raise RuntimeError(f"simulated crash before batch {len(done)}")
        done.append(real(*args, **kw))
        return done[-1]

    mp.setattr(microbatch, "commit_batch", commit)


def test_cold_run_commits_everything(spark, transcripts, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    batches = microbatch.run_microbatch_ingest(spark, transcripts, wh, n_parts=8, parts_per_batch=4)
    assert len(batches) == 2
    # lineage counts == direct route counts (A2 parity)
    direct = {r.sink: r.n_rows for r in route.route_counts(
        __import__("go_distributed_log_search_spark.pipeline", fromlist=["pipeline"]).parsed_enriched(spark, SF0001)
    ).collect()}
    lineage = (
        wh.lineage().filter(F.col("sink") != "agg_terms")
        .groupBy("sink").agg(F.sum("row_count").alias("n")).collect()
    )
    assert {r.sink: r.n for r in lineage} == {f"sink_{s}": n for s, n in direct.items()}
    # agg_terms lineage is the real row count of each batch's partition
    agg_rows = {
        r.batch_id: r["count"]
        for r in wh.read("agg_terms").groupBy("batch_id").count().collect()
    }
    agg_lineage = {
        r.batch_id: r.row_count
        for r in wh.lineage().filter(F.col("sink") == "agg_terms").collect()
    }
    assert agg_lineage == agg_rows and set(agg_rows) == set(batches)
    # nothing pending after a full run (ST6)
    assert microbatch.pending_partitions(wh, list(range(8))) == []


def test_crash_resume_equals_cold_run(spark, transcripts, tmp_path):
    cold = Warehouse(spark, str(tmp_path / "cold"))
    microbatch.run_microbatch_ingest(spark, transcripts, cold, n_parts=4, parts_per_batch=1)

    crashed = Warehouse(spark, str(tmp_path / "crashed"))
    with pytest.MonkeyPatch.context() as mp, pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        _crash_after(mp, 2)
        microbatch.run_microbatch_ingest(
            spark, transcripts, crashed, n_parts=4, parts_per_batch=1
        )
    # resume: checkpoints skip the two committed batches
    pending_before = microbatch.pending_partitions(crashed, list(range(4)))
    assert len(pending_before) == 2
    microbatch.run_microbatch_ingest(spark, transcripts, crashed, n_parts=4, parts_per_batch=1)

    assert _sink_state(cold) == _sink_state(crashed)


def test_rerun_batch_is_idempotent(spark, transcripts, tmp_path):
    """ST5: re-running an already-committed batch_id replaces, not
    duplicates (dynamic partition overwrite for the data, the (batch, table)
    key for lineage)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    microbatch.run_microbatch_ingest(spark, transcripts, wh, n_parts=4, parts_per_batch=4)
    before = _sink_state(wh)
    # wipe checkpoints to force the loop to re-process everything
    wh.drop("checkpoints")
    batches = microbatch.run_microbatch_ingest(
        spark, transcripts, wh, n_parts=4, parts_per_batch=4
    )
    assert _sink_state(wh) == before
    lineage = wh.lineage().collect()
    tables = [*(f"sink_{s}" for s in route.SINKS), "agg_terms"]
    assert sorted((r.batch_id, r.sink) for r in lineage) == sorted(
        (b, t) for b in batches for t in tables
    )
    summed = {}
    for r in lineage:
        summed[r.sink] = summed.get(r.sink, 0) + r.row_count
    for sink in route.SINKS:
        assert summed[f"sink_{sink}"] == wh.read(f"sink_{sink}").count(), sink


def test_commit_ordering_and_catalog_reopen(spark, transcripts, tmp_path, monkeypatch):
    """ST3 per batch: the four data appends, then one lineage write, then
    one checkpoint save. The catalog lives on disk: a Warehouse reopened on
    the same root resumes from it and reads the same state."""
    calls = []
    for name in ("append_batch", "record_lineage_many", "save_checkpoint"):

        def spy(self, *args, _name=name, _method=getattr(Warehouse, name), **kw):
            calls.append(_name)
            return _method(self, *args, **kw)

        monkeypatch.setattr(Warehouse, name, spy)
    per_batch = ["append_batch"] * 4 + ["record_lineage_many", "save_checkpoint"]
    root = str(tmp_path / "wh")
    parts = list(range(8))

    with pytest.MonkeyPatch.context() as mp, pytest.raises(
        RuntimeError, match="simulated crash"
    ):
        _crash_after(mp, 1)
        microbatch.run_microbatch_ingest(
            spark, transcripts, Warehouse(spark, root), n_parts=8, parts_per_batch=4
        )
    assert calls == per_batch
    wh = Warehouse(spark, root)
    assert microbatch.pending_partitions(wh, parts) == [4, 5, 6, 7]
    microbatch.run_microbatch_ingest(spark, transcripts, wh, n_parts=8, parts_per_batch=4)
    assert calls == per_batch * 2

    reopened = Warehouse(spark, root)
    order = ["transcripts-p0-3", "transcripts-p4-7"]
    assert wh.commit_order() == reopened.commit_order() == order
    assert sorted(wh.lineage().collect()) == sorted(reopened.lineage().collect())
    assert len(reopened.lineage().collect()) == 2 * 4
    assert microbatch.pending_partitions(reopened, parts) == []


def test_checkpoint_watermarks(spark, tmp_path):
    """Each partition checkpoints at its max turn_idx + 1 (the next turn
    to process); a partition without rows checkpoints at 0."""
    ts = datetime.datetime(2024, 1, 1)
    rows = [
        (f"conv-{c}", t, "user", f"level=INFO turn {t} of {c}", None, ts)
        for c in range(12) for t in range(c + 1)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    part_of = {
        r.conv_id: r.part_id
        for r in microbatch.with_part_id(df, 4).select("conv_id", "part_id").distinct().collect()
    }
    empty = part_of["conv-0"]
    df = df.filter(~F.col("conv_id").isin([c for c, p in part_of.items() if p == empty]))
    expected = dict.fromkeys(range(4), 0)
    for conv, p in part_of.items():
        if p != empty:
            expected[p] = max(expected[p], int(conv.split("-")[1]) + 1)
    assert list(expected.values()).count(0) == 1  # exactly one empty partition

    wh = Warehouse(spark, str(tmp_path / "wh"))
    microbatch.run_microbatch_ingest(spark, df, wh, n_parts=4, parts_per_batch=2)
    assert wh.load_checkpoints(microbatch.SOURCE_ID) == expected


def test_compact_preserves_data(spark, transcripts, tmp_path):
    """U1 merge analog: compaction rewrites files, data identical
    (merge.go:24-85; doc identity preserved unlike the reference's
    renumbering, merge.go:145)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    microbatch.run_microbatch_ingest(spark, transcripts, wh, n_parts=4, parts_per_batch=2)
    before = _sink_state(wh)
    wh.compact("sink_errors")
    assert _sink_state(wh) == before


def test_schema_evolution_additive_column(spark, tmp_path):
    """A later batch adds a column (ingest schema evolved): reads must
    union the schemas (old rows NULL for the new column), and compaction
    must NOT drop the late column when it rewrites — the additive half of
    Iceberg schema evolution on the parquet stand-in."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = wh.append_batch(
        spark.createDataFrame([("c1", 1)], "conv_id string, n int"), "t", "b0"
    )
    wh.record_lineage_many("b0", {"t": n})
    n = wh.append_batch(
        spark.createDataFrame(
            [("c2", 2, "eu")], "conv_id string, n int, region string"
        ),
        "t",
        "b1",
    )
    wh.record_lineage_many("b1", {"t": n})
    got = {(r.conv_id, r.n, r.region) for r in wh.read("t").collect()}
    assert got == {("c1", 1, None), ("c2", 2, "eu")}
    wh.compact("t")
    assert {(r.conv_id, r.n, r.region) for r in wh.read("t").collect()} == got


def test_time_travel_and_incremental_read(spark, transcripts, tmp_path):
    """Snapshot read reconstructs the table as of each commit; incremental
    read returns exactly the rows a commit range appended; both read only
    their batches' directories (no later-commit files scanned)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    committed = microbatch.run_microbatch_ingest(
        spark, transcripts, wh, n_parts=4, parts_per_batch=2
    )
    assert len(committed) == 2
    assert wh.commit_order() == committed
    b0, b1 = committed

    full = wh.read("sink_errors")
    snap0 = wh.read_as_of("sink_errors", b0)
    snap1 = wh.read_as_of("sink_errors", b1)
    assert snap0.count() == full.filter(F.col("batch_id") == b0).count()
    assert snap1.count() == full.count()

    inc = wh.read_between("sink_errors", after=b0, until=b1)
    assert inc.count() == full.filter(F.col("batch_id") == b1).count()
    assert wh.read_between("sink_errors", after=b1, until=b1).count() == 0
    assert wh.read_between("sink_errors", None, b1).count() == full.count()

    # the snapshot scans its own batch directory only
    files = snap0.inputFiles()
    assert files and all(f"/batch_id={b0}/" in f for f in files), files

    with pytest.raises(ValueError):
        wh.read_as_of("sink_errors", "nonexistent-commit")


def test_read_skips_batch_without_lineage(spark, tmp_path):
    """A batch whose data landed but whose lineage row did not (a crash
    between the two) is not committed: read and read_as_of agree on the
    committed batch's rows."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("c1", 1), ("c2", 2)], "conv_id string, n int")
    wh.record_lineage_many("b1", {"t": wh.append_batch(df, "t", "b1")})
    wh.append_batch(df, "t", "b2")  # no lineage row follows
    assert sorted(r.batch_id for r in wh.read("t").collect()) == ["b1", "b1"]
    assert wh.read_as_of("t", "b1").count() == 2


def test_drop(spark, transcripts, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    microbatch.run_microbatch_ingest(spark, transcripts, wh, n_parts=4, parts_per_batch=4)
    assert wh.exists("sink_errors")
    wh.drop("sink_errors")
    assert not wh.exists("sink_errors")


def test_structured_streaming_matches_batch(spark, transcripts, tmp_path):
    """The Structured Streaming path (file source, availableNow) commits
    the same per-sink row sets as the batch router."""
    inp = str(tmp_path / "input")
    transcripts.repartition(3).write.parquet(inp)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    n = structured.stream_ingest_available_now(
        spark, inp, wh, str(tmp_path / "ckpt")
    )
    assert n >= 3  # one micro-batch per file
    streamed = _sink_state(wh)
    direct = route.routed(
        __import__("go_distributed_log_search_spark.pipeline", fromlist=["pipeline"]).parsed_enriched(spark, SF0001)
    )
    for sink in route.SINKS:
        rows = sorted(
            (r.conv_id, r.turn_idx, r.text)
            for r in direct.filter(F.col("sink") == sink).select("conv_id", "turn_idx", "text").collect()
        )
        assert streamed[sink] == rows, sink
