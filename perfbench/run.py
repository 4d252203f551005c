#!/usr/bin/env python3
"""Benchmark of the transcript pipeline engine.

    python3 perfbench/run.py --workload {posting_agg,search} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One process, one client, closed loop: each
operation starts when the previous one has finished. Inputs are generated
from the seed under perfbench/_runs/, the expected results are computed
with DuckDB before the engine starts, and every operation is checked
against them; a mismatch counts as a failed operation.

A run starts the engine (``session.get_spark``) and loads its tables (the
set-up), warms up until operation times stop falling, then times
operations for ``--seconds``. The last stdout line is one JSON object:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of BENCHMARK.json. The traced run records spans in memory around
every call into an engine layer and writes them to
perfbench/_runs/traces/ when it ends; it also turns on Spark's event log
and reads the engine counters from it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "go_distributed_log_search_spark"
# local[N]: at most 4 task threads, and never more than the host has
CPUS = min(4, os.cpu_count() or 1)
# A run aims to end within this many seconds of generating its inputs:
# warm-up is cut short on a slow host rather than the run overrunning.
RUN_TARGET_S = 52.0
# each probe prefix is forced this many times in the traced run, once
# when the run is already past its target
PROBE_REPS = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, trace: bool) -> dict[str, str]:
    """Point every directory the engine, Spark, the JVM and DuckDB write to
    at this run's own directory; returns the extra Spark conf."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_CACHE=os.path.join(run_dir, "cache"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # also reaches the launcher JVM; no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the engine's JVM (the Python process.s own RSS misses it)."""
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found for the engine JVM")


def stop_engine(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Runs ops one after another and keeps their latencies and outcomes."""

    def __init__(self, workload, tracer):
        self.w, self.tracer = workload, tracer
        self.n = 0

    def one(self, traced: bool) -> tuple[float, bool]:
        i, self.n = self.n, self.n + 1
        op_id = f"op-{i}"
        self.w.spark.sparkContext.setJobGroup(op_id, op_id)
        self.tracer.op = op_id if traced else None
        was = self.tracer.enabled
        self.tracer.enabled = traced
        try:
            t0 = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    result = self.w.op(i)
                ok = True
            except Exception as e:  # a failed op is counted, not fatal
                print(f"op {i} failed: {e!r}"[:500], file=sys.stderr)
                result, ok = None, False
            dt = time.perf_counter() - t0
        finally:
            self.tracer.op = None
            self.tracer.enabled = was
            self.w.spark.sparkContext.setJobGroup("check", "check")
        if ok:
            try:
                ok = self.w.check(i, result)
            except Exception as e:
                print(f"check {i} failed: {e!r}"[:500], file=sys.stderr)
                ok = False
            if not ok:
                print(f"op {i}: result differs from the oracle", file=sys.stderr)
        return dt, ok

    def warm_up(self, min_ops: int, window: int, max_s: float, deadline: float):
        """Run at least ``min_ops`` ops, then until op times stop falling:
        the median of the last ``window`` op times is no lower than 97 % of
        the median of the ``window`` before it. The op that passes
        ``max_s`` seconds or ``deadline`` is the last one regardless;
        returns the warm-up op times and whether they had stopped falling."""
        times: list[float] = []
        end = min(time.perf_counter() + max_s, deadline)
        while True:
            dt, _ = self.one(traced=False)
            times.append(dt)
            if len(times) >= max(min_ops, 2 * window):
                last = statistics.median(times[-window:])
                prev = statistics.median(times[-2 * window : -window])
                if last >= 0.97 * prev:
                    return times, True
            if time.perf_counter() >= end:
                return times, False


def main(argv) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"{ENGINE}/ not found next to perfbench/: run from a checkout", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(HERE, "_runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    spark_conf = isolate(run_dir, trace)
    try:
        # the engine is imported only now, after isolate() set its env
        sys.path[:0] = [ROOT, HERE]
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        return run(args, run_dir, run_id, spark_conf, WORKLOADS[args.workload], trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir, run_id, spark_conf, workload_cls, trace) -> int:
    import inputs
    import oracle
    from tracing import Tracer

    from go_distributed_log_search_spark import session

    t_start = time.perf_counter()
    sf_dir = inputs.write_inputs(os.path.join(run_dir, "sf"), args.seed, workload_cls.n_events)
    tracer = Tracer(enabled=trace)

    # expected results first, so the oracle never competes with the engine
    con = oracle.connect(os.path.join(run_dir, "tmp"), CPUS)
    workload = workload_cls(sf_dir, args.seed, tracer)
    workload.expect(con)
    con.close()

    t0 = time.perf_counter()
    prep_s = t0 - t_start
    with tracer.span("session.start"):
        spark = session.get_spark(cpus=CPUS, extra_conf=spark_conf)
    t_session = time.perf_counter() - t0
    try:
        workload.spark = spark
        workload.load()
        setup_s = time.perf_counter() - t0
        t_load = setup_s - t_session

        loop = Loop(workload, tracer)
        deadline = t_start + RUN_TARGET_S - args.seconds
        warm, steady = loop.warm_up(*workload.warm_up, deadline)
        t_timed = time.perf_counter()
        warm_s = t_timed - t0 - setup_s

        if trace:
            from tracing import jvm_gc_ms

            wrap_catalog(tracer)
            gc_start = jvm_gc_ms(spark)
        lat, failed = [], 0
        traced_lat, plain_lat = [], []
        t_end = time.perf_counter() + args.seconds
        k = 0
        while not lat or time.perf_counter() < t_end:
            # the traced run alternates plain and traced ops, so the span
            # overhead is measured against ops of the same run
            traced = trace and k % 2 == 1
            dt, ok = loop.one(traced)
            lat.append(dt)
            (traced_lat if traced else plain_lat).append(dt)
            failed += not ok
            k += 1

        timed_s = time.perf_counter() - t_timed
        metrics = {}
        if trace:
            metrics["spark.gc_ms_per_op"] = ((jvm_gc_ms(spark) - gc_start) / len(lat), "ms")
            reps = PROBE_REPS if time.perf_counter() < t_start + RUN_TARGET_S else 1
            metrics.update(
                layer_metrics(
                    spark, workload, tracer, run_dir, reps, lat, traced_lat, plain_lat,
                    t_session, t_load,
                )
            )
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_engine(spark)

    if trace:
        from tracing import engine_counters, read_event_log

        events = read_event_log(os.path.join(run_dir, "eventlog"))
        groups = {s["op"] for s in tracer.spans if s["op"] and s["op"].startswith("op-")}
        metrics.update(engine_counters(events, groups))
        tracer.write(os.path.join(HERE, "_runs", "traces", run_id + ".jsonl"))

    half = len(lat) // 2
    drift = (
        statistics.median(lat[half:]) / statistics.median(lat[:half]) if half else 1.0
    )
    p50 = statistics.median(lat)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "ops": len(lat),
        "warm_ms": [round(1e3 * x, 1) for x in warm],
        "warm_steady": steady,
        "phases_s": {
            "inputs_and_oracle": round(prep_s, 2),
            "setup": round(setup_s, 2),
            "warm_up": round(warm_s, 2),
            "timed_incl_checks": round(timed_s, 2),
            "total": round(time.perf_counter() - t_start, 2),
        },
        "drift": round(drift, 4),
        "error_rate": failed / len(lat),
        "latency_ms": [round(1e3 * x, 1) for x in lat],
    }
    print("summary " + json.dumps(summary))
    if not trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (workload.n_events * len(lat) / sum(lat), "1/s"),
            "latency_p50_ms": (1e3 * p50, "ms"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
        }
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(lat),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def wrap_catalog(tracer) -> None:
    """Catalog spans come from the public Warehouse methods the micro-batch
    loop calls; the engine code itself is not touched."""
    from go_distributed_log_search_spark.sources.catalog import Warehouse
    from tracing import wrap_method

    wrap_method(tracer, Warehouse, "append_batch", "catalog.append_batch")
    wrap_method(tracer, Warehouse, "record_lineage_many", "catalog.record_lineage")
    wrap_method(tracer, Warehouse, "save_checkpoint", "catalog.save_checkpoint")
    wrap_method(tracer, Warehouse, "load_checkpoints", "catalog.load_checkpoints")


def layer_metrics(
    spark, workload, tracer, run_dir, reps, lat, traced_lat, plain_lat, t_session, t_load
):
    import layers
    from tracing import median

    turns = workload.n_events
    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (t_session, "s")
    m["transcripts.load_s"] = (t_load, "s")

    spark.sparkContext.setJobGroup("probe", "probe")
    chain = layers.chain_probes(spark, workload.base, tracer, reps)
    m["transcripts.scan_ms"] = (chain["scan"], "ms")
    m["parse.self_ms"] = (chain["parse"] - chain["scan"], "ms")
    # scan plus every static parse column: a rate over a difference of two
    # close timings would be noise
    m["parse.turns_per_s"] = (turns / chain["parse_static"] * 1e3, "1/s")
    m["parse.dynamic_ms"] = (chain["parse_dynamic"] - chain["parse_static"], "ms")
    m["enrich.self_ms"] = (chain["enrich"] - chain["parse"], "ms")
    m["route.self_ms"] = (chain["route"] - chain["enrich"], "ms")
    m["route.fanout"] = (chain["routed_rows"] / turns, "ratio")
    m["aggregate.hot_keys_ms"] = (chain["hot_keys"], "ms")
    m["aggregate.self_ms"] = (chain["aggregate"] - chain["route"], "ms")
    m["aggregate.tokens"] = (chain["tokens"], "count")
    m["aggregate.groups_out"] = (chain["groups"], "count")
    m["aggregate.combine_ratio"] = (chain["tokens"] / chain["groups"], "ratio")

    # layers the workload's own ops do not reach get one probe each
    if not tracer.durations_ms("search.query"):
        layers.search_probe(workload.base, workload.queries, tracer, "probe-search-")
    matched = layers.rows_matched(workload.base, workload.queries)
    m["search.query_ms"] = (median(tracer.durations_ms("search.query")), "ms")
    m["search.rows_matched"] = (statistics.mean(matched), "count")
    m["search.match_ratio"] = (statistics.mean(matched) / turns, "ratio")

    # no workload writes: one micro-batch ingest (three sinks, agg_terms,
    # lineage, checkpoints) measures the catalog and micro-batch layers
    wh_mb = layers.commit_probe(
        spark, workload.base, os.path.join(run_dir, "commit-probe"), tracer, "probe-commit"
    )
    m["catalog.append_ms"] = (median(tracer.durations_ms("catalog.append_batch")), "ms")
    m["catalog.appends_per_op"] = (median(tracer.per_op_count("catalog.append_batch")), "count")
    m["catalog.bytes_written_mb"] = (wh_mb, "MB")
    m.update(layers.microbatch_metrics(tracer))

    m["trace.latency_p50_ms"] = (1e3 * median(lat), "ms")
    m["trace.overhead_pct"] = (
        100 * (median(traced_lat) / median(plain_lat) - 1) if traced_lat and plain_lat else 0.0,
        "%",
    )
    return m


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
