"""North-rule launch-path evidence: ``spark-submit --py-files`` end to end.

BASELINE.json's north rule requires the pipeline to run "via spark-submit
--py-files ... at two cluster sizes (N and 4N executors)". This test runs
the REAL spark-submit binary twice — local[2] and local[8] as the sandbox
N / 4N stand-in — against the SAME input, from a cwd outside the repo with
PYTHONPATH stripped, so the engine can only arrive via the --py-files zip
(submit.py). Asserts:

- both submits exit 0 and emit the one-line JSON record;
- the per-sink routed counts are IDENTICAL across the two levels
  (parallelism-invariance of the fan-out router);
- the counts match the DuckDB oracle for pipeline_route_counts — the
  reference's per-shard doc-count parity (index.go doc_count tests).

The throughput side of the N->4N criterion is bench.py's scaling probe
(BENCH/BASELINE.md); this test is the *launch mechanism* evidence.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sqlite3
import subprocess

import pytest

from tests.conftest import SF0001

from go_distributed_log_search_spark.oracles import build_oracles
from go_distributed_log_search_spark.submit import (
    make_pyfiles_zip,
    spark_submit_bin,
    submit_argv,
    submit_env,
)

pytestmark = pytest.mark.skipif(
    spark_submit_bin() is None, reason="spark-submit not on PATH/SPARK_HOME"
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_level(tmp: str, zip_path: str, cpus: int, out: str | None = None) -> dict:
    job = os.path.join(tmp, "pipeline_job.py")
    if not os.path.exists(job):
        shutil.copy(os.path.join(REPO, "jobs", "pipeline_job.py"), job)
    app_args = ["--sf-dir", SF0001] + (["--out", out] if out else [])
    argv = submit_argv(job, cpus, zip_path, app_args)
    env = submit_env(cpus)
    # the job must resolve the engine from the zip, not the checkout
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        argv, capture_output=True, text=True, cwd=tmp, env=env, timeout=420
    )
    assert proc.returncode == 0, (
        f"spark-submit local[{cpus}] rc={proc.returncode}\n"
        f"stdout tail: {proc.stdout[-1500:]}\nstderr tail: {proc.stderr[-1500:]}"
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            return json.loads(line)
        except ValueError:
            continue
    raise AssertionError(f"no JSON record in stdout: {proc.stdout[-1500:]}")


def test_submit_two_levels_match_oracle(tmp_path, duck):
    zip_path = make_pyfiles_zip(str(tmp_path / "engine.zip"), repo_root=REPO)
    # zip is the only import source in the subprocess: it must contain the
    # package and nothing else
    import zipfile

    names = zipfile.ZipFile(zip_path).namelist()
    assert all(n.startswith("go_distributed_log_search_spark/") for n in names)
    assert "go_distributed_log_search_spark/pipeline.py" in names

    sink_dir = str(tmp_path / "sinks")
    rec_n = _run_level(str(tmp_path), zip_path, 2, out=sink_dir)
    rec_4n = _run_level(str(tmp_path), zip_path, 8)

    # parallelism-invariance: identical routed-row counts at N and 4N
    assert rec_n["sink_counts"] == rec_4n["sink_counts"]
    assert rec_n["sink_convs"] == rec_4n["sink_convs"]
    assert rec_n["n_turns"] == rec_4n["n_turns"] > 0

    # oracle parity: per-sink counts == DuckDB running the same semantics
    sql = build_oracles(sf_dir=SF0001)["pipeline_route_counts"]
    expected = {
        sink: (int(n_rows), int(n_convs))
        for sink, n_rows, n_convs in duck.sql(sql).fetchall()
    }
    got = {
        s: (rec_n["sink_counts"][s], rec_n["sink_convs"][s])
        for s in rec_n["sink_counts"]
    }
    assert got == expected

    # fan-out writer: each per-sink table the submitted job committed
    # through the Warehouse (batch_id partition) holds exactly the counted
    # rows (routed-row count parity on disk), and the lineage side table
    # records the same per-sink row counts plus the agg_terms rows on disk
    # (north rule: per-partition lineage + row-count metrics).
    for sink, n_rows in rec_n["sink_counts"].items():
        (written,) = duck.sql(
            "SELECT COUNT(*) FROM read_parquet("
            f"'{sink_dir}/sink_{sink}/batch_id=submit-0/*.parquet')"
        ).fetchone()
        assert written == n_rows, f"{sink}: wrote {written}, counted {n_rows}"
    (n_agg,) = duck.sql(
        "SELECT COUNT(*) FROM read_parquet("
        f"'{sink_dir}/agg_terms/batch_id=submit-0/*.parquet')"
    ).fetchone()
    assert n_agg > 0
    with contextlib.closing(sqlite3.connect(f"{sink_dir}/_catalog.sqlite")) as con:
        lineage = dict(con.execute("SELECT sink, row_count FROM lineage").fetchall())
    sink_tables = {f"sink_{s}": n for s, n in rec_n["sink_counts"].items()}
    assert lineage == {**sink_tables, "agg_terms": n_agg}
