"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship parse->enrich->route->aggregate pipeline
at sf0.001. ``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 plus training-pipeline extensions (dedup/similarity/textstats);
``oracle_sql()`` gives the DuckDB-dialect equivalents over the same parquet
inputs. The transcripts input (north-rule shape) is synthesised
deterministically inside both engines from events+documents — identical SQL
semantics verified in tests/test_transcripts_view.py.

Column-name discipline: every computed column is aliased identically in the
Spark DataFrame code (queries.py) and the oracle SQL (oracles.py).
Queries present here but absent from oracle_sql() are rows-only checks
(only HLL approx-distinct remains — an engine-specific sketch) — their
correctness is asserted in tests/ against exact kernels instead.
LSH-ANN graduated to a full oracle: its hyperplanes are a deterministic
splitmix hash, so the oracle embeds the same ±1 matrix as literals.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from go_distributed_log_search_spark import pipeline
from go_distributed_log_search_spark.oracles import build_oracles
from go_distributed_log_search_spark.queries import SPARK_QUERIES

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-sink, per-conversation posting-count summary."""
    return pipeline.run_pipeline(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(SPARK_QUERIES)


def oracle_sql() -> dict[str, str]:
    # sf_dir=None: the driver pre-registers the raw tables as DuckDB views
    return build_oracles(sf_dir=None)
