"""Per-layer measurements for the traced run.

Spark evaluates lazily, so a span around a layer call only times plan
building. A layer's self time is therefore measured by forcing successive
prefixes of the north-rule plan (scan, +parse, +enrich, +route,
+aggregate) with the ``noop`` writer, each over the columns the next layer
reads, and taking differences. ``count()`` is never timed: it lets Catalyst
prune every parse projection.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from go_distributed_log_search_spark.operators import aggregate, enrich, parse, route, search
from go_distributed_log_search_spark.sources.catalog import Warehouse
from go_distributed_log_search_spark.streaming.microbatch import run_microbatch_ingest

from tracing import median

# Columns each layer reads from the one before it in the read-only
# north-rule plan (the posting_agg op): enrich joins on role/tool, route
# tests level/tool/tool_call/role, the aggregate reads sink/conv_id/text.
SCAN_COLS = ("conv_id", "turn_idx", "role", "tool", "text")
PARSE_COLS = SCAN_COLS + ("level", "tool_call")
AGG_INPUT_COLS = ("sink", "conv_id", "turn_idx", "text")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def chain_probes(spark, base, tracer, reps: int) -> dict[str, float]:
    """Median wall time (ms) of each forced prefix, of hot-key detection,
    and of the parse with and without its ``_dynamic`` map; plus the row
    counts the ratio metrics need."""
    parsed = parse.parse_turns(base)
    enriched = enrich.enrich_turns(parsed, spark)
    routed = route.routed(enriched)
    hot = aggregate.detect_hot_keys(base, "conv_id")
    prefixes = {
        "scan": base.select(*SCAN_COLS),
        "parse": parsed.select(*PARSE_COLS),
        "enrich": enriched.select(*PARSE_COLS),
        "route": routed.select(*AGG_INPUT_COLS),
        "aggregate": aggregate.term_counts(routed, hot_keys=hot),
        # every parsed column, as a sink persists them, with and without
        # the _dynamic map (the interpreted higher-order-function path)
        "parse_static": parse.parse_turns(base, dynamic=False),
        "parse_dynamic": parsed,
    }
    for _ in range(reps):
        for name, df in prefixes.items():
            with tracer.span(f"probe.{name}"):
                force(df)
        with tracer.span("aggregate.hot_keys"):
            aggregate.detect_hot_keys(base, "conv_id")
    out = {name: median(tracer.durations_ms(f"probe.{name}")) for name in prefixes}
    out["hot_keys"] = median(tracer.durations_ms("aggregate.hot_keys"))
    sizes = (
        aggregate.term_counts(routed, hot_keys=hot)
        .agg(F.count(F.lit(1)).alias("groups"), F.sum("cnt").alias("tokens"))
        .collect()[0]
    )
    out["groups"], out["tokens"] = sizes.groups, sizes.tokens
    out["routed_rows"] = routed.count()
    return out


def search_probe(base, queries: list[str], tracer, op_prefix: str) -> None:
    """Each distinct query once, traced like a search op."""
    parsed = parse.parse_turns(base, dynamic=False)
    for k, q in enumerate(dict.fromkeys(queries)):
        tracer.op = f"{op_prefix}{k}"
        with tracer.span("search.query"):
            search.substring_search(parsed, q, limit=100).collect()
    tracer.op = None


def rows_matched(base, queries: list[str]) -> list[int]:
    parsed = parse.parse_turns(base, dynamic=False)
    fields = [c for c in search.DEFAULT_SEARCH_FIELDS if c in parsed.columns]
    return [
        parsed.filter(search.match_predicate(fields, q)).count()
        for q in dict.fromkeys(queries)
    ]


def commit_probe(spark, base, root: str, tracer, op_id: str) -> float:
    """One micro-batch ingest (8 partitions, 2 batches: three sinks,
    agg_terms, lineage, checkpoints) of a quarter of the conversations into
    a fresh warehouse; returns the bytes it wrote (MB)."""
    quarter = base.filter(F.pmod(F.hash("conv_id"), F.lit(4)) == 0)
    tracer.op = op_id
    try:
        with tracer.span("op"):
            run_microbatch_ingest(spark, quarter, Warehouse(spark, root))
        return dir_mb(root)
    finally:
        tracer.op = None
        shutil.rmtree(root, ignore_errors=True)


def dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / (1024 * 1024)


def microbatch_metrics(tracer) -> dict[str, tuple[float, str]]:
    """Batch and checkpoint times from the catalog spans of each traced
    ingest op: a batch ends when its checkpoint is saved, and the
    checkpoint step runs from the lineage commit to that save."""
    batches, checkpoints, per_op = [], [], {}
    ops = {}
    for s in tracer.spans:
        if s["op"] is not None:
            ops.setdefault(s["op"], []).append(s)
    for op, spans in ops.items():
        root = next((s for s in spans if s["name"] == "op"), None)
        saves = [s for s in spans if s["name"] == "catalog.save_checkpoint"]
        if root is None or not saves:
            continue
        start = root["start"]
        lineage_ends = [s["end"] for s in spans if s["name"] == "catalog.record_lineage"]
        for k, save in enumerate(saves):
            batches.append(1e3 * (save["end"] - start))
            start = save["end"]
            if k < len(lineage_ends):
                checkpoints.append(1e3 * (save["end"] - lineage_ends[k]))
        per_op[op] = len(saves)
    return {
        "microbatch.batch_ms": (median(batches), "ms"),
        "microbatch.batches_per_op": (median(per_op.values()), "count"),
        "microbatch.checkpoint_ms": (median(checkpoints), "ms"),
    }
