"""Multimodal plumbing — schema, mapInPandas batch shape, blob pruning.

The decode kernel is a deterministic stand-in (no codec libraries);
what must be REAL and tested is the Spark-side plumbing: typed metadata
schema, Arrow-batched feature extraction that never returns the blob, and
metadata-only plans that prune the payload column out of the parquet scan.
"""

import pytest
from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import multimodal

from .conftest import SF0001


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    return multimodal.synth_media_df(spark, docs)


def test_extract_features_row_parity_and_values(spark, media):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    feats = multimodal.extract_features(media)
    assert feats.count() == docs.count()
    # n_bytes == utf-8 byte length of the synthesized payload
    joined = (
        feats.join(docs, feats.media_id == docs.doc_id)
        .select("media_id", "n_bytes", F.length(F.encode("text", "utf-8")).alias("expect"))
    )
    bad = joined.filter(F.col("n_bytes") != F.col("expect")).count()
    assert bad == 0
    # payload never crosses back
    assert "payload" not in feats.columns


def test_metadata_projection_prunes_payload(spark, media, tmp_path):
    # write as parquet so the scan's ReadSchema is observable
    path = str(tmp_path / "media.parquet")
    media.write.mode("overwrite").parquet(path)
    on_disk = spark.read.parquet(path)
    plan = multimodal.metadata_only_projection(on_disk)._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "payload" not in ln, ln


def test_media_schema_shape(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "payload", "meta"]
    meta = media.schema["meta"].dataType
    assert [f.name for f in meta.fields] == ["mime", "width", "height", "duration_ms"]
