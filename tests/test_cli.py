"""CLI command surface: create -> index -> search -> merge -> drop over a
temp warehouse, mirroring the reference Quick Demo (README.md:56-66)."""

import glob
import io
import json

import pytest

from go_distributed_log_search_spark import cli, demo
from go_distributed_log_search_spark.sources.catalog import Warehouse


@pytest.fixture(scope="module")
def wh_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("warehouse"))


def run(spark, wh_dir, *argv):
    return cli.main(["--warehouse", wh_dir, *argv], spark=spark)


def test_create(spark, wh_dir):
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    with open(demo.FIXTURE_YAML) as f:
        assert Warehouse(spark, wh_dir).index_config("hdfs-logs") == f.read()


def test_index(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    out = capsys.readouterr().out
    assert "indexed 13 docs" in out
    assert "1 corrupt quarantined" in out


def test_index_stdin(spark, tmp_path, monkeypatch, capsys):
    """`index NAME -` reads the same lines from stdin through the one
    source dispatch: same doc and quarantine counts as the file form, in
    one Spark job (the write job also counts the quarantined lines)."""
    wh = str(tmp_path)
    assert run(spark, wh, "create", demo.FIXTURE_YAML) == 0
    with open(demo.FIXTURE_JSONL) as f:
        monkeypatch.setattr("sys.stdin", io.StringIO(f.read()))
    sc = spark.sparkContext
    sc.setJobGroup("cli_index_stdin", "cli_index_stdin")
    try:
        assert run(spark, wh, "index", "hdfs-logs", "-") == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    out = capsys.readouterr().out
    assert "indexed 13 docs" in out
    assert "1 corrupt quarantined" in out
    # job-start events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("cli_index_stdin")) == 1


def test_search_quick_demo(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "search", "hdfs-logs", "INFO", "--limit", "3") == 0
    out = capsys.readouterr().out
    # parse the concatenated pretty-JSON stream
    raw = out.strip()
    objs, depth, start = [], 0, 0
    for i, ch in enumerate(raw):
        if ch == "{":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                objs.append(json.loads(raw[start : i + 1]))
    assert len(objs) == 3
    # top hit: severity +8 plus _dynamic 'zone-info-a' +3, re-expanded (P9)
    assert objs[0]["tenant_id"] == 61
    assert objs[0]["region_note"] == "zone-info-a"  # _dynamic merged to root
    assert objs[0]["score"] == 11.0
    # CLI ties break on every non-dynamic column in order: among the
    # score-8 INFO rows, tenant 71's body ("Datanode...") sorts before the
    # "src: ..." bodies
    assert [o["tenant_id"] for o in objs] == [61, 67, 71]


def test_search_default_limit_is_one(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "search", "hdfs-logs", "INFO") == 0
    out = capsys.readouterr().out
    assert out.count('"tenant_id"') == 1


def test_merge(spark, wh_dir, capsys):
    assert run(spark, wh_dir, "merge", "hdfs-logs") == 0
    # data survives compaction
    assert run(spark, wh_dir, "search", "hdfs-logs", "INFO", "--limit", "3") == 0
    out = capsys.readouterr().out
    assert out.count('"tenant_id"') == 3


def test_drop(spark, wh_dir):
    assert run(spark, wh_dir, "drop", "hdfs-logs") == 0
    assert not glob.glob(f"{wh_dir}/hdfs-logs*")


def test_index_unknown_name_errors(spark, wh_dir):
    with pytest.raises(SystemExit, match="does not exist"):
        run(spark, wh_dir, "index", "nope", demo.FIXTURE_JSONL)


def test_index_after_merge_keeps_every_batch(spark, tmp_path, capsys):
    """index, index, merge, index: every batch stays readable, and the
    snapshot and incremental reads of each commit return the same rows
    before and after the merge."""
    wh_dir = str(tmp_path)
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    for _ in range(2):
        assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    wh = Warehouse(spark, wh_dir)
    b0, b1 = wh.commit_order()

    def rows(df):
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                      for r in df.collect())

    def snapshots():
        return [rows(wh.read_as_of("hdfs-logs", b)) for b in (b0, b1)] + [
            rows(wh.read_between("hdfs-logs", None, b0)),
            rows(wh.read_between("hdfs-logs", b0, b1)),
        ]

    before = snapshots()
    assert [len(r) for r in before] == [13, 26, 13, 13]
    assert run(spark, wh_dir, "merge", "hdfs-logs") == 0
    assert snapshots() == before
    assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    assert wh.read("hdfs-logs").count() == 39
    assert snapshots() == before
    capsys.readouterr()


def test_drop_forgets_its_commits(spark, tmp_path, capsys):
    """create, index, index, drop, create, index: the drop takes the
    index's catalog rows with it, so only the last commit is known and a
    snapshot read of a dropped commit is an unknown commit."""
    wh_dir = str(tmp_path)
    wh = Warehouse(spark, wh_dir)
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    for _ in range(2):
        assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    dropped = wh.commit_order()
    assert len(dropped) == 2 and wh.exists("hdfs-logs")
    assert run(spark, wh_dir, "drop", "hdfs-logs") == 0
    assert wh.commit_order() == [] and not wh.exists("hdfs-logs")
    with pytest.raises(SystemExit, match="does not exist"):
        run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL)
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    (last,) = wh.commit_order()
    assert last not in dropped
    assert [(r.batch_id, r.sink, r.row_count) for r in wh.lineage().collect()] == [
        (last, "hdfs-logs", 13)
    ]
    for batch_id in dropped:
        with pytest.raises(ValueError, match="unknown commit"):
            wh.read_as_of("hdfs-logs", batch_id)
    assert wh.read_as_of("hdfs-logs", last).count() == 13
    capsys.readouterr()


def test_config_lives_in_catalog(spark, tmp_path, capsys):
    """No index config is written beside the data: a fresh Warehouse on
    the same root (cli.main opens one per command) finds it in
    _catalog.sqlite and serves search."""
    wh_dir = str(tmp_path)
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    assert run(spark, wh_dir, "index", "hdfs-logs", demo.FIXTURE_JSONL) == 0
    assert not glob.glob(f"{wh_dir}/**/*.config.yaml", recursive=True)
    capsys.readouterr()
    assert run(spark, wh_dir, "search", "hdfs-logs", "INFO", "--limit", "3") == 0
    assert capsys.readouterr().out.count('"tenant_id"') == 3


def test_search_after_all_corrupt_index(spark, tmp_path, capsys):
    """An index run whose every line is quarantined commits no rows, so
    the catalog holds no rows of the index and search says so."""
    wh_dir = str(tmp_path / "wh")
    bad = tmp_path / "bad.jsonl"
    bad.write_text("not json\n[1, 2]\n")
    assert run(spark, wh_dir, "create", demo.FIXTURE_YAML) == 0
    assert run(spark, wh_dir, "index", "hdfs-logs", str(bad)) == 0
    assert "indexed 0 docs" in capsys.readouterr().out
    assert run(spark, wh_dir, "search", "hdfs-logs", "INFO") == 1
    assert "no documents indexed" in capsys.readouterr().err
