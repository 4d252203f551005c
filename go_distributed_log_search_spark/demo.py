"""End-to-end Quick Demo — the reference README workflow as one call.

Reference (/root/reference/README.md:56-66):

    toshokan create tests/config.yaml          # register schema
    toshokan index hdfs-logs tests/logs.jsonl  # ingest
    toshokan search hdfs-logs "INFO" --limit 3 # search

Spark restatement: ``load_schema`` (config/mod.go:145-273 analog) derives
the typed StructType, ``connect_to_source`` reads the JSONL lines and
``read_jsonl_indexed`` decodes them with claimed fields parsed and
unclaimed keys in ``_dynamic`` (index.go:139-156), and ``substring_search``
applies the P10 predicate + A3 additive scorer (search.go:222-264) with
true top-k.

The repo-local fixture mirrors the *shape* of the reference's
tests/hdfs-logs-multitenants-10000.jsonl (attributes.class / body /
resource.service / severity_text / tenant_id / timestamp) with two extra
unclaimed keys so the nested-map +3 scoring path is exercised.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.search import substring_search
from .schema import IndexSchema, load_schema
from .sources.jsonl import connect_to_source, read_jsonl_indexed

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_JSONL = os.path.join(REPO_ROOT, "tests", "fixtures", "hdfs_logs.jsonl")
FIXTURE_YAML = os.path.join(REPO_ROOT, "tests", "fixtures", "hdfs_schema.yaml")


def create_index(yaml_path: str = FIXTURE_YAML) -> IndexSchema:
    """`create` analog: YAML -> typed IndexSchema (create.go:49-53)."""
    with open(yaml_path) as f:
        return load_schema(f.read())


def index_jsonl(
    spark: SparkSession,
    schema: IndexSchema,
    jsonl_path: str = FIXTURE_JSONL,
    keep_corrupt: bool = True,
) -> DataFrame:
    """`index` analog: source dispatch + schema-driven decode (S1 + P1-P9)."""
    lines = connect_to_source(spark, jsonl_path)
    return read_jsonl_indexed(lines, schema, keep_corrupt=keep_corrupt)


def quick_demo(
    spark: SparkSession,
    query: str = "INFO",
    limit: int = 3,
    jsonl_path: str = FIXTURE_JSONL,
    yaml_path: str = FIXTURE_YAML,
) -> DataFrame:
    """The full README Quick Demo: create -> index -> search.

    Search scores the schema's text fields plus ``_dynamic`` map values
    (+3 per matching value, search.go:245-253); ties broken by tenant_id.
    """
    schema = create_index(yaml_path)
    docs = index_jsonl(spark, schema, jsonl_path, keep_corrupt=False)
    # dotted struct-child paths included: `resource.service` etc. score
    # with their leaf-name weight (+6), search.go:225-243
    text_fields = schema.text_field_paths()
    hits = substring_search(
        docs,
        query,
        limit=limit,
        string_fields=text_fields,
        map_fields=["_dynamic"],
        tiebreak=("tenant_id",),
    )
    return hits.select("tenant_id", "severity_text", F.col("score").cast("double").alias("score"))
