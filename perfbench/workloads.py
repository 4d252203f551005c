"""The benchmark's workloads. Each drives the engine only through its public
functions, runs one operation at a time (a closed loop with one client) and
checks every result against the DuckDB oracle.

A workload provides:
- ``expect(con)``: the oracle values, computed before the engine starts;
- ``load()``: the engine-side set-up of its input tables (timed as set-up);
- ``op(i)``: one operation, returning what ``check`` needs;
- ``check(i, result)``: True when the result matches the oracle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from go_distributed_log_search_spark import transcripts
from go_distributed_log_search_spark.operators import aggregate, enrich, parse, route, search

import inputs
import oracle

SEARCH_LIMIT = 100


class PostingAgg:
    """Read-only index build: per-sink, per-conversation posting counts
    ``term_counts(routed(enrich(parse(base))))`` with automatic hot-key
    detection (the two hot conversations take the salted branch). The
    result is consumed in full by a per-sink roll-up of every group."""

    name = "posting_agg"
    # a quarter of sf0.1: op times fall for about eight ops after a cold
    # start, and at full sf0.1 (2-5 s per op) that warm-up plus enough timed
    # ops does not fit the run's time budget
    n_events = inputs.SF01_EVENTS // 4
    # (min ops, steadiness window, max seconds)
    warm_up = (8, 3, 25.0)

    def __init__(self, sf_dir: str, seed: int, tracer):
        self.sf_dir, self.tracer = sf_dir, tracer
        self.spark = None
        # not used by the op; the traced run probes the search layer with them
        self.queries = inputs.search_queries(seed)

    def expect(self, con) -> None:
        self.postings = oracle.posting_totals(con, self.sf_dir)

    def load(self) -> None:
        with self.tracer.span("transcripts.load"):
            self.base = transcripts.transcripts_df(self.spark, self.sf_dir)

    def op(self, i):
        t = self.tracer
        with t.span("parse.plan"):
            parsed = parse.parse_turns(self.base)
        with t.span("enrich.plan"):
            enriched = enrich.enrich_turns(parsed, self.spark)
        with t.span("route.plan"):
            routed = route.routed(enriched)
        with t.span("aggregate.plan"):
            # hot-key detection runs its sample jobs here
            postings = aggregate.term_counts(routed)
        with t.span("aggregate.collect"):
            rows = (
                postings.groupBy("sink")
                .agg(F.count(F.lit(1)).alias("groups"), F.sum("cnt").alias("total"))
                .collect()
            )
        return {r.sink: (r.groups, r.total) for r in rows}

    def check(self, i, result) -> bool:
        return result == self.postings


class Search:
    """Interactive substring queries with top-k over the sf0.1 transcripts:
    a seeded list of corpus terms with mixed selectivity, asked in a fixed
    order, each equally often."""

    name = "search"
    n_events = inputs.SF01_EVENTS
    # op times keep falling for dozens of queries (JIT); a wide window
    # keeps op-to-op noise from ending warm-up early.
    # (min ops, steadiness window, max seconds)
    warm_up = (24, 8, 25.0)

    def __init__(self, sf_dir: str, seed: int, tracer):
        self.sf_dir, self.tracer = sf_dir, tracer
        self.spark = None
        self.queries = inputs.search_queries(seed)

    def expect(self, con) -> None:
        self.topk = oracle.search_topk(con, self.sf_dir, self.queries, SEARCH_LIMIT)

    def load(self) -> None:
        with self.tracer.span("transcripts.load"):
            self.base = transcripts.transcripts_df(self.spark, self.sf_dir)
        self.parsed = parse.parse_turns(self.base, dynamic=False)

    def query(self, i) -> str:
        return self.queries[i % len(self.queries)]

    def op(self, i):
        with self.tracer.span("search.query"):
            rows = search.substring_search(
                self.parsed, self.query(i), limit=SEARCH_LIMIT
            ).collect()
        return [(r.conv_id, r.turn_idx, r.score) for r in rows]

    def check(self, i, result) -> bool:
        return result == self.topk[self.query(i)]


WORKLOADS = {w.name: w for w in (PostingAgg, Search)}
