"""Multimodal column plumbing — binary payloads with typed metadata.

Training-pipeline extension (build brief): image/audio/video ride as opaque
``binary`` columns plus a typed metadata struct; decode / feature-extract /
resize / frame-sample run as Arrow-batched pandas functions via
``mapInPandas``. The decode kernel itself is a deterministic stand-in
(``decode_stub``: byte count and a checksum, no codec libraries); the
Spark-side plumbing — schema, partitioning, UDF signature, batch shape — is
real and tested.

Design for 100 TB of media:
- binary column stays OUT of every shuffle: metadata-only projections are
  pushed to the parquet scan (column pruning drops the blob);
- per-file parallelism: mapInPandas over the scan, no repartition — decode
  is embarrassingly parallel;
- maxRecordsPerBatch bounds Arrow batch memory (blobs are large; session
  sets 65536 default, media jobs should set ~64).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),     # image|audio|video
        T.StructField("payload", T.BinaryType(), True),   # opaque bytes
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def synth_media_df(spark, docs: DataFrame, kind: str = "image") -> DataFrame:
    """Deterministic fake media table from the documents fixture: payload =
    utf-8 bytes of the text (stands in for encoded media)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/x-fake").alias("mime"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, kind: str) -> dict:
    """The decode kernel seam (real deployments: PIL / torchaudio / pyav):
    a deterministic stand-in, so the distributed plumbing runs without
    codec libraries."""
    n = len(payload or b"")
    return {"n_bytes": n, "checksum": sum(payload[:64]) % 65536 if payload else 0}


EXTRACT_SCHEMA = (
    "media_id bigint, kind string, n_bytes int, checksum int, width int, height int"
)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one out.

    Output drops the payload column (blob never crosses the boundary back).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_stub(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [f["n_bytes"] for f in feats],
                    "checksum": [f["checksum"] for f in feats],
                    "width": [m["width"] if m else None for m in pdf["meta"]],
                    "height": [m["height"] if m else None for m in pdf["meta"]],
                }
            )
            yield out

    return df.mapInPandas(run, schema=EXTRACT_SCHEMA)


def metadata_only_projection(df: DataFrame) -> DataFrame:
    """Metadata aggregate that must NOT read the blob column — the plan is
    asserted in tests to prune ``payload`` out of the scan."""
    return df.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("meta.width")).alias("avg_w"),
        F.max(F.col("meta.duration_ms")).alias("max_dur"),
    )
