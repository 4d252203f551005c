"""The shared batch commit (streaming/microbatch.commit_batch) end to end.

Both streaming drivers — the micro-batch loop and the Structured Streaming
foreachBatch — commit through ``commit_batch``. For each driver the
warehouse must hold:

- ``agg_terms`` whose per-batch posting counts, summed over batches by
  (sink, conv_id, term), equal the posting counts of the whole input;
- exactly one lineage row per (batch, table) for the three sink tables and
  ``agg_terms``, each with the row count of that batch's partition on disk.
"""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark import pipeline
from go_distributed_log_search_spark.operators import aggregate, parse, route
from go_distributed_log_search_spark.sources.catalog import Warehouse
from go_distributed_log_search_spark.streaming import microbatch, structured
from go_distributed_log_search_spark.transcripts import transcripts_df

from .conftest import SF0001

# every table a commit writes, as its lineage rows name it
TABLES = [*(f"sink_{s}" for s in route.SINKS), "agg_terms"]


@pytest.fixture(scope="module")
def warehouses(spark, tmp_path_factory):
    """(name, warehouse, committed batch ids) for each streaming driver."""
    root = tmp_path_factory.mktemp("commit")
    transcripts = transcripts_df(spark, SF0001)

    mb = Warehouse(spark, str(root / "microbatch"))
    mb_batches = microbatch.run_microbatch_ingest(
        spark, transcripts, mb, n_parts=4, parts_per_batch=2
    )

    inp = str(root / "input")
    transcripts.repartition(3).write.parquet(inp)
    st = Warehouse(spark, str(root / "structured"))
    n = structured.stream_ingest_available_now(spark, inp, st, str(root / "ckpt"))
    st_batches = [f"stream-{k}" for k in range(n)]

    return [("microbatch", mb, mb_batches), ("structured", st, st_batches)]


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_agg_terms_sum_to_whole_input_counts(spark, warehouses):
    expected = _rows(
        aggregate.term_counts(route.routed(pipeline.parsed_enriched(spark, SF0001))),
        ("sink", "conv_id", "term", "cnt"),
    )
    assert expected
    for name, wh, batches in warehouses:
        assert len(batches) >= 2, name
        summed = (
            wh.read("agg_terms")
            .groupBy("sink", "conv_id", "term")
            .agg(F.sum("cnt").alias("cnt"))
        )
        assert _rows(summed, ("sink", "conv_id", "term", "cnt")) == expected, name


def test_one_lineage_row_per_batch_and_table(warehouses):
    for name, wh, batches in warehouses:
        lineage = _rows(wh.lineage(), ("batch_id", "sink"))
        assert lineage == sorted((b, t) for b in batches for t in TABLES), name


def test_lineage_counts_are_partition_rows(warehouses):
    """Every lineage row_count — agg_terms included — is the row count of
    that batch's partition of the table."""
    for name, wh, _ in warehouses:
        recorded = {(r.batch_id, r.sink): r.row_count for r in wh.lineage().collect()}
        on_disk = {}
        for table in TABLES:
            for r in wh.read(table).groupBy("batch_id").count().collect():
                on_disk[(r.batch_id, table)] = r["count"]
        # a table a batch left empty has no partition: its lineage says 0
        assert set(on_disk) <= set(recorded), name
        assert recorded == {k: on_disk.get(k, 0) for k in recorded}, name
        assert all(recorded[(b, "agg_terms")] > 0 for b, _ in recorded), name


def test_tables_do_not_inherit_source_stats(spark, warehouses):
    """The input's conv_id carries the transcripts table's hot keys, and
    parquet would store that metadata with the column: every committed
    table must read back without it (its hot set is not the source's)."""
    assert aggregate.hot_keys_stat(transcripts_df(spark, SF0001), "conv_id")
    for name, wh, _ in warehouses:
        for table in TABLES:
            assert wh.read(table).schema["conv_id"].metadata == {}, (name, table)


def test_sink_tables_keep_parse_lineage_tags(warehouses):
    """The sink tables store text together with the columns parse cut out
    of it, so they keep parse's lineage tags (text's token pairs with each
    tag), and a search over a sink table skips those columns in its
    filter. agg_terms has no text and no tags."""
    for name, wh, _ in warehouses:
        for sink in route.SINKS:
            df = wh.read(f"sink_{sink}")
            tagged = parse.substring_tagged(df.schema, ["text"])
            assert tagged == {"level", "error_signature", "tool_call", "bytes",
                              "op", "duration", "_dynamic"}, (name, sink)
        agg = wh.read("agg_terms")
        assert not any(f.metadata for f in agg.schema.fields), name
