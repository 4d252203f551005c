"""End-to-end parse -> enrich -> route -> aggregate pipeline.

The Spark-first restatement of the reference's ``index`` command
(/root/reference/src/commands/index.go:86-231): where the reference pulls
one JSON doc at a time through a compiled parser tree into a per-batch Bluge
index, this pipeline declares the whole flow as one Catalyst plan:

    scan transcripts
      -> parse (typed projections + _dynamic, zero-shuffle)
      -> enrich (broadcast dim joins, zero-shuffle)
      -> route (tag array, logical fan-out)
      -> aggregate (salted two-stage posting counts; ONE shuffle)

and lets Tungsten pipeline scan->parse->enrich->tag in a single
whole-stage-codegen span. The only wide dependency in the hot path is the
aggregation shuffle — checked by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators import aggregate, enrich, parse, route
from .transcripts import transcripts_df


def parsed_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transcripts_df(spark, sf_dir)
    return enrich.enrich_turns(parse.parse_turns(df), spark)


def run_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full flow; returns the per-sink posting counts (lazy). The hot set
    is the transcripts table's ``conv_id`` statistic, carried through
    parse, enrich and route: no detection job."""
    tagged = route.routed(parsed_enriched(spark, sf_dir))
    return aggregate.term_counts(tagged)
