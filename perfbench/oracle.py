"""DuckDB oracles: the expected result of each workload, computed over the
same seeded parquet the engine reads, from the engine's own shared oracle
SQL (``transcripts.oracle_prelude`` and the ``oracles`` fragments)."""

from __future__ import annotations

import duckdb

from go_distributed_log_search_spark import oracles
from go_distributed_log_search_spark.operators.search import DEFAULT_SEARCH_FIELDS
from go_distributed_log_search_spark.functions.scoring import field_weight
from go_distributed_log_search_spark.transcripts import oracle_prelude


def connect(tmp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    return con


def _routed(sf_dir: str) -> str:
    return f"{oracle_prelude(sf_dir)}, {oracles._PARSED}, {oracles._ROUTED}"


def posting_totals(con, sf_dir: str) -> dict[str, tuple[int, int]]:
    """Per sink: (number of (conv_id, term) groups, sum of their counts)."""
    sql = f"""{_routed(sf_dir)},
terms AS (
  SELECT sink, conv_id,
         unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term
  FROM routed
),
groups AS (
  SELECT sink, conv_id, term, COUNT(*) AS cnt
  FROM terms WHERE term <> '' GROUP BY sink, conv_id, term
)
SELECT sink, COUNT(*), SUM(cnt) FROM groups GROUP BY sink"""
    return {s: (int(g), int(c)) for s, g, c in con.sql(sql).fetchall()}


def search_topk(con, sf_dir: str, queries: list[str], limit: int) -> dict:
    """Top-``limit`` (conv_id, turn_idx, score) per query, ties broken by
    (conv_id, turn_idx); the score is the engine's field-weight sum."""
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE parsed AS "
        f"{oracle_prelude(sf_dir)}, {oracles._PARSED} SELECT * FROM parsed"
    )
    out = {}
    for q in dict.fromkeys(queries):
        lit = q.lower().replace("'", "''")
        score = " + ".join(
            f"(CASE WHEN strpos(lower({f}), '{lit}') > 0 THEN {field_weight(f)} ELSE 0 END)"
            for f in DEFAULT_SEARCH_FIELDS
        )
        sql = f"""SELECT conv_id, turn_idx, CAST({score} AS DOUBLE) AS score
FROM parsed WHERE ({score}) > 0
ORDER BY score DESC, conv_id, turn_idx LIMIT {limit}"""
        out[q] = [(c, int(t), float(s)) for c, t, s in con.sql(sql).fetchall()]
    return out
