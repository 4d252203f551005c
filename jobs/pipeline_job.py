"""Standalone spark-submit driver: parse -> enrich -> route -> aggregate.

Launched as

    spark-submit --master local[N] --py-files engine.zip \
        jobs/pipeline_job.py --sf-dir /root/testdata/sf0.001 [--out DIR]

The engine package arrives via ``--py-files`` (submit.py builds the zip) —
this script deliberately does NOT add the repo to sys.path, so a passing
run proves the artifact is self-contained, exactly as it would ship to a
real cluster (north rule: "run via spark-submit --py-files"). The reference
analog is its single deployable binary running the ``index`` command
(/root/reference/src/commands/index.go:86-231).

Output: ONE JSON line on stdout —
  {"n_turns": ..., "sink_counts": {"errors": ..., ...},
   "sink_convs": {...}, "sec": ...}
Per-sink counts are the reference's per-shard doc-count parity surface;
the driver-side JSON is what tests/test_spark_submit.py compares across
two parallelism levels and against the DuckDB oracle.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--out", default=None,
                    help="optional warehouse dir: commit the input as one "
                         "batch (sink_* tables, agg_terms, lineage)")
    args = ap.parse_args(argv)

    # Imports resolved from the --py-files zip (or an installed package) —
    # NOT from a repo checkout on sys.path.
    from go_distributed_log_search_spark import pipeline
    from go_distributed_log_search_spark.operators import route
    from go_distributed_log_search_spark.session import get_spark
    from go_distributed_log_search_spark.transcripts import transcripts_df

    t0 = time.time()
    # the parallelism level comes from SPARK_GRAFT_CPUS (submit.submit_env)
    spark = get_spark("pipeline-job")
    base = transcripts_df(spark, args.sf_dir)
    enriched = pipeline.parsed_enriched(spark, args.sf_dir)

    n_turns = base.count()
    counts = {
        r["sink"]: (r["n_rows"], r["n_convs"])
        for r in route.route_counts(enriched).collect()
    }

    if args.out:
        # the submitted job IS the reference's `index` command end to end:
        # the whole input commits as one batch through the same path as the
        # streaming drivers (sink tables, agg_terms, lineage)
        from go_distributed_log_search_spark.sources.catalog import Warehouse
        from go_distributed_log_search_spark.streaming.microbatch import commit_batch

        commit_batch(spark, Warehouse(spark, args.out), base, "submit-0")

    out = {
        "n_turns": n_turns,
        "sink_counts": {s: c[0] for s, c in sorted(counts.items())},
        "sink_convs": {s: c[1] for s, c in sorted(counts.items())},
        "sec": round(time.time() - t0, 3),
    }
    print(json.dumps(out), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
