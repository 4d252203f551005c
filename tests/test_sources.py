"""S1-S4 sources: the one dispatch (sources/mod.go:52-67) hands every input
to the one decoder as raw lines; the decoder skips blank lines and
quarantines exactly the lines that are not a JSON object."""

import io

import pytest

from go_distributed_log_search_spark.schema import load_schema
from go_distributed_log_search_spark.sources import jsonl

SCHEMA = load_schema(
    """
name: two-fields
schema:
  fields:
    - name: a
      type: number
      subtype: i64
    - name: b
      type: text
"""
)

DECODED = ["a", "b", "_dynamic"]


@pytest.fixture(scope="module")
def path(tmp_path_factory):
    p = tmp_path_factory.mktemp("jsonl") / "in.jsonl"
    p.write_text(
        '{"a": 1, "b": "x"}\n'
        "\n"                      # blank: skipped (buf_source.go:56-58)
        '{"a": 2, "b": "y"}\n'
        '{broken json\n'          # corrupt: quarantined, not fatal
        '{"a": 3}\n'              # missing field -> null, NOT corrupt
    )
    return str(p)


def decode(spark, input_, **kw):
    return jsonl.read_jsonl_indexed(jsonl.connect_to_source(spark, input_), SCHEMA, **kw)


def test_read_jsonl_quarantines_corrupt(spark, path):
    rows = decode(spark, path, keep_corrupt=True).collect()
    assert len(rows) == 4
    corrupt = [r for r in rows if r._corrupt]
    assert len(corrupt) == 1
    # a parseable row with a missing field is NOT corrupt, and reads NULL
    good = [r for r in rows if not r._corrupt]
    assert sorted(r.a for r in good) == [1, 2, 3]
    assert sorted((r.b is None) for r in good) == [False, False, True]


def test_read_jsonl_drop_corrupt(spark, path):
    df = decode(spark, path, keep_corrupt=False)
    assert df.count() == 3
    assert df.columns == DECODED


def test_dispatch_rejects_stream_for_files(spark, path):
    with pytest.raises(ValueError, match="--stream"):
        jsonl.connect_to_source(spark, path, stream=True)


def test_dispatch_file_path(spark, path):
    # raw lines, blank included: skipping is the decoder's job
    lines = jsonl.connect_to_source(spark, path)
    assert lines.columns == ["value"]
    assert lines.count() == 5


def test_kafka_url_validation(spark):
    with pytest.raises(ValueError, match="kafka url"):
        jsonl.connect_to_source(spark, "kafka://hostonly")


def test_kafka_option_contract():
    """S3 shape-level contract (VERDICT r02 task 7): the exact options a
    readStream/read.format('kafka') is constructed with — verifiable
    without a broker or the connector jar."""
    assert jsonl.kafka_options("kafka://broker1:9092/logs", stream=True) == {
        "kafka.bootstrap.servers": "broker1:9092",
        "subscribe": "logs",
        "startingOffsets": "latest",
    }
    # batch mode reads from earliest (kafka_source.go:306-310 parity)
    assert (
        jsonl.kafka_options("kafka://b1:9092,b2:9092/t", stream=False)["startingOffsets"]
        == "earliest"
    )
    assert jsonl.kafka_options("kafka://b1:9092,b2:9092/t", stream=False)[
        "kafka.bootstrap.servers"
    ] == "b1:9092,b2:9092"
    with pytest.raises(ValueError, match="kafka url"):
        jsonl.kafka_options("kafka:///topic-no-host", stream=True)


def test_quarantine_is_exactly_one_object(spark):
    """A line is clean only when it holds exactly one JSON object: trailing
    content after the object is flagged, while an empty object, padding
    whitespace and nested values decode as before."""
    flagged = ['{"a": 1} trailing', '{"a": 1} {"b": "y"}', '{"a": 1},{"b": "y"}',
               "null", "[1]", '"s"']
    clean = {
        "{}": (None, None, {}),
        '  {"a": 4, "b": "p"}  ': (4, "p", {}),
        '{"a": 5, "c": {"x": [1, 2]}, "d": [1, {"y": 2}]}':
            (5, None, {"c": '{"x":[1,2]}', "d": '[1,{"y":2}]'}),
    }
    # the line itself rides along as a pass-through column
    lines = spark.createDataFrame(
        [(ln, ln) for ln in [*flagged, *clean]], "value string, line string"
    )
    rows = jsonl.read_jsonl_indexed(lines, SCHEMA).collect()
    assert sorted(r.line for r in rows if r._corrupt) == sorted(flagged)
    assert {r.line: (r.a, r.b, r._dynamic) for r in rows if not r._corrupt} == clean


def test_quarantine_catches_content_closing_the_wrapper(spark):
    """Content after the object that starts with ``]`` would close an
    array wrapper early; the line is still not one JSON object."""
    flagged = ['{"a":1}]', '{"a":1}] x', '{"a":1}] {}', '{"a":1}}', '{"a":1},"b":"y"']
    lines = spark.createDataFrame([(ln, ln) for ln in flagged], "value string, line string")
    rows = jsonl.read_jsonl_indexed(lines, SCHEMA).collect()
    assert sorted(r.line for r in rows if r._corrupt) == sorted(flagged)


def test_array_field_keeps_typed_elements(spark):
    """P6 (field_parser.go:57-72): an ``array: true`` field decodes to an
    array of its declared element type."""
    schema = load_schema(
        """
name: arrays
schema:
  fields:
    - name: xs
      type: number
      subtype: i64
      array: true
"""
    )
    lines = spark.createDataFrame([('{"xs": [1, 2, 3]}',), ('{"xs": []}',)], "value string")
    rows = jsonl.read_jsonl_indexed(lines, schema).collect()
    assert sorted(r.xs for r in rows) == [[], [1, 2, 3]]


def test_array_field_parses_each_element(spark):
    """P6 (field_parser.go:57-72): the element parser runs on each element
    of an array field, as the scalar parser does on a scalar field: a
    numeric string parses, an unparseable element alone becomes NULL."""
    schema = load_schema(
        """
name: arrays
schema:
  fields:
    - name: xs
      type: number
      array: true
    - name: n
      type: number
"""
    )
    lines = spark.createDataFrame(
        [('{"xs": ["1", "2"], "n": "7"}',), ('{"xs": [1, "x"]}',), ('{"xs": [1, 2]}',)],
        "value string",
    )
    rows = [tuple(r) for r in jsonl.read_jsonl_indexed(lines, schema).select("xs", "n").collect()]
    assert sorted(rows, key=repr) == sorted(
        [([1.0, 2.0], 7.0), ([1.0, None], None), ([1.0, 2.0], None)], key=repr
    )


def test_read_stdin(spark, monkeypatch):
    monkeypatch.setattr(
        "sys.stdin",
        io.StringIO('{"a": 7, "b": "s"}\n\n{"a": 8, "b": "t"}\n[not json\n'),
    )
    rows = decode(spark, "-").collect()
    assert len(rows) == 3  # the blank line is skipped
    assert sorted(r.a for r in rows if not r._corrupt) == [7, 8]
    assert [r._corrupt for r in rows].count(True) == 1


# ---------------------------------------------------------------- S3 mock
# The spark-sql-kafka connector jar is absent in this sandbox AND Spark
# reserves the name "kafka" in lookupDataSource (registerPython refuses
# to shadow it), so the mock registers under "mockkafka" and the test
# monkeypatches jsonl.KAFKA_FORMAT — every other line of the REAL
# connect_to_source path runs end to end: URL parse, option wiring,
# load(), the value/partition/offset projection and the
# read_jsonl_indexed decode, against a broker-less Python data source
# (Spark 4 DataSource API) that validates the exact options the
# reference's kafka source derives from the URL (kafka_source.go:27-55,
# :306-324). VERDICT r03 task 6.

def _register_mock_kafka(spark, monkeypatch, expect_servers, expect_topic,
                         expect_start):
    from pyspark.sql.datasource import DataSource, DataSourceReader

    monkeypatch.setattr(jsonl, "KAFKA_FORMAT", "mockkafka")

    rows = [
        (None, b'{"a": 10, "b": "k0"}', expect_topic, 0, 0),
        (None, b'{"a": 11, "b": "k1"}', expect_topic, 0, 1),
        (None, b'{"a": 12, "b": "k2"}', expect_topic, 1, 0),
        (None, b'{"a": 13, "b": ', expect_topic, 1, 1),  # malformed
    ]

    class _Reader(DataSourceReader):
        def read(self, partition):
            return iter(rows)

    class MockKafka(DataSource):
        @classmethod
        def name(cls):
            return "mockkafka"

        def schema(self):
            # the real connector's fixed output schema (column subset)
            return ("key binary, value binary, topic string, "
                    "partition int, offset bigint")

        def reader(self, schema):
            # options arrive case-insensitively lowered by Spark
            opts = {k.lower(): v for k, v in self.options.items()}
            assert opts["kafka.bootstrap.servers"] == expect_servers, opts
            assert opts["subscribe"] == expect_topic, opts
            assert opts["startingoffsets"] == expect_start, opts
            return _Reader()

    spark.dataSource.register(MockKafka)
    return rows


def test_kafka_batch_datapath_via_python_source(spark, monkeypatch):
    """connect_to_source("kafka://...") end to end against the mock: the
    raw value lines decode through the one decoder with (partition,
    offset) passed through, and the malformed record is flagged — the
    same output contract the JSONL path has, per sources/mod.go:52-67
    dispatch parity."""
    _register_mock_kafka(spark, monkeypatch, "b1:9092,b2:9092", "logs", "earliest")
    lines = jsonl.connect_to_source(spark, "kafka://b1:9092,b2:9092/logs", stream=False)
    assert lines.columns == ["value", "partition", "offset"]
    df = jsonl.read_jsonl_indexed(lines, SCHEMA)
    assert df.columns == [*DECODED, "partition", "offset", "_corrupt"]
    got = sorted((r.a, r.b, r.partition, r.offset, r._corrupt) for r in df.collect()
                 if not r._corrupt)
    assert got == [(10, "k0", 0, 0, False), (11, "k1", 0, 1, False),
                   (12, "k2", 1, 0, False)]
    bad = df.filter("_corrupt").select("partition", "offset").collect()
    assert [tuple(r) for r in bad] == [(1, 1)]


def test_kafka_stream_plan_contract(spark, monkeypatch):
    """readStream.format("kafka") builds the full streaming plan tree
    (unstarted) with the URL-derived options: df.isStreaming, the index
    schema projected, startingOffsets=latest for streams."""
    _register_mock_kafka(spark, monkeypatch, "broker:9092", "t1", "latest")
    lines = jsonl.connect_to_source(spark, "kafka://broker:9092/t1", stream=True)
    df = jsonl.read_jsonl_indexed(lines, SCHEMA, keep_corrupt=False)
    assert df.isStreaming
    assert df.columns == [*DECODED, "partition", "offset"]
    plan = df._jdf.queryExecution().logical().toString()
    assert "mockkafka" in plan.lower()
