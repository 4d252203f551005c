"""SparkSession factory tuned for this sandbox and for scale.

Locally the session is one JVM with ``SPARK_GRAFT_CPUS`` task threads
(``local[N]``, default 32); production is a multi-executor cluster reading
100 TB+. Every knob below is chosen so the same plan shape survives the
scale-up:

- AQE off: every hot-path exchange carries an explicit partition count, so
  locally AQE only adds re-planning pauses. A production session reading
  unknown-sized inputs turns it on with
  ``get_spark(extra_conf={"spark.sql.adaptive.enabled": "true"})`` for
  runtime coalescing + skew-join splitting (the coalesce/skew-join confs
  below are preset for that). The aggregation side of the Zipf skew is
  handled by salting either way (operators/aggregate.py).
- shuffle.partitions defaults to the core count locally; on a real cluster
  this is overridden to ~2-3x total cores (AQE coalesces down).
- Arrow enabled: every pandas UDF crosses the JVM<->Python boundary in
  columnar Arrow batches, never row-at-a-time (north-rule hot-path
  constraint: no per-row Python).
- Session timezone pinned UTC so timestamp semantics are cluster-invariant.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_java_options(
    cpus: int, driver_mem: str = "4g", jit_opts: str | None = None
) -> str:
    """The full driver-JVM option string for an N-core-node session.

    Exposed as a function (not inlined in :func:`get_spark`) because the
    ``spark-submit --py-files`` launch path (submit.py) must pass the SAME
    options as ``--conf spark.driver.extraJavaOptions=...`` on the submit
    command line: under spark-submit the JVM is launched BEFORE the Python
    driver runs, so builder-time ``spark.driver.extraJavaOptions`` /
    ``spark.driver.memory`` are silently ignored — the in-process path and
    the submit path must agree at the source level or they drift.
    """
    return (
        # The sandbox resolver points at a blackhole nameserver; any stray
        # JVM DNS lookup stalls for its full timeout.
        "-Dsun.net.inetaddr.ttl=-1 -Dsun.net.inetaddr.negative.ttl=-1 "
        "-Dnetworkaddress.cache.ttl=-1 -Dnetworkaddress.cache.negative.ttl=-1 "
        "-Djava.net.preferIPv4Stack=true "
        # codegen-heavy workloads overflow the default 240MB code cache;
        # once full, JIT stops/flushes and whole runs execute interpreted
        # (measured 6-7x CPU on identical stages). 1G removes the cliff.
        "-XX:ReservedCodeCacheSize=1g "
        # FULL TIERED JIT with a fast ramp (round-6 change): C2 steady
        # state is 1.5-2x faster than C1 on the regex/tokenize/hash-agg
        # hot loops (measured on the 8 headline queries at sf0.1: search
        # 0.19->0.13s, dedup 0.25->0.15s, tpch_q1 0.18->0.10s, full
        # pipeline 0.67->0.38s, min-of-5 each), but with default
        # thresholds a query timed shortly after one warm-up run still
        # executes partially at C1 while the compile queue drains
        # (fresh-session single-timed agg_terms: 0.44-0.56s plain C2 vs
        # 0.23s warm). CompileThresholdScaling=0.1 makes hot methods
        # reach C2 ~10x sooner, recovering most of the steady state
        # within one warm-up pass (same protocol: agg_terms 0.34-0.41s,
        # dedup 0.17-0.23s, pipeline 0.39-0.40s). The SCALING PROBE is
        # the exception — its 25.6M-row job saturates every core for
        # tens of seconds and C2 compilation is starved into multi-minute
        # interpreted ramps (measured round 5: 25s+ steady state at
        # local[32] vs a 5.8s C1 floor) — so bench.py pins
        # -XX:TieredStopAtLevel=1 for probe visits via SPARK_GRAFT_JIT_OPTS
        # on the spark-submit command line; that env override wins here.
        # ParallelGC over G1: batch-throughput workload (explode + hash agg,
        # allocation-heavy); measured ~20-25% lower wall time at local[32]
        # vs G1 on the scaling job (17.6s vs 22.3s min-of-4).
        # Large eden (-Xmn3g of the 4g heap): with execution memory
        # off-heap, the heap profile is almost purely short-lived token/row
        # garbage — a small eden forced a young GC every ~0.3s at 32
        # threads (measured 70-100 GC-seconds per 15s job, all
        # stop-the-world); 3g eden cuts collections ~10x. Old gen 1g holds
        # only broadcasts + session state.
        + (
            jit_opts
            if jit_opts is not None
            else os.environ.get(
                "SPARK_GRAFT_JIT_OPTS",
                "-XX:+UseParallelGC -Xmn3g -XX:CompileThresholdScaling=0.1",
            )
        )
        # Fixed, fully pre-touched heap: this sandbox's first-touch page
        # faults are extremely expensive (gVisor-style MM) — with the
        # default growing heap the FIRST pipeline run page-faults its way
        # through heap growth and measured 8+ MINUTES where steady state is
        # 10s. Pre-touching at startup moves that cost to one predictable
        # sequential pass.
        + f" -Xms{driver_mem} -XX:+AlwaysPreTouch"
        # Faithful N-core-node emulation for the scaling probe: local[8] on
        # a 32-core host still gets ~23 ParallelGC threads, 32-wide JIT /
        # ForkJoinPool / netty sizing — free parallelism a real 8-core
        # node does not have. ActiveProcessorCount makes every JVM-internal
        # pool size itself to the level under test (this is NOT cpu
        # affinity pinning, which was measured to distort the ratio the
        # other way — threads still migrate freely).
        + f" -XX:ActiveProcessorCount={cpus}"
    )


def get_spark(
    app_name: str = "go-distributed-log-search-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    # 4g heap (not 12g): execution memory lives OFF-heap (below), so the
    # heap only carries short-lived row/token objects — a small, hot heap
    # keeps this sandbox's proactive page reclaimer (DAMON: cold pages get
    # reclaimed and fault back expensively) away from it.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g")
    # The sandbox resolver points at a blackhole nameserver; any stray
    # JVM DNS lookup stalls for its full timeout. Pin everything to
    # 127.0.0.1 and cache negative lookups forever.
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    os.environ.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    dns_opts = driver_java_options(cpus, driver_mem)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE OFF by default: every hot-path exchange here carries an
        # explicit partition count (repartition(n, key) / pinned
        # shuffle_partitions), so at local scale AQE contributes no
        # decisions — only a per-exchange materialization barrier plus a
        # driver re-planning pause between stages (measured on the sf0.1 headline queries:
        # 8 jobs -> 3 jobs on route_counts, full pipeline 0.41 -> 0.38s,
        # agg_terms 0.36 -> 0.28s, min-of-5). A real cluster reading
        # unknown-sized 100 TB inputs should pass
        # extra_conf={"spark.sql.adaptive.enabled": "true"} so runtime
        # coalescing + skew-join splitting engage; the salting in
        # operators/aggregate.py covers the aggregation-skew side either
        # way (AQE skew handling only applies to joins).
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Spark 4 routes lower()/upper() under UTF8_BINARY through ICU
        # (CollationSupport.Lower.execBinaryICU). In this sandbox that path
        # collapses under concurrency — thread dumps show every executor
        # parked inside execBinaryICU with the machine idle (minutes-long
        # stalls on a 5s stage). The JVM implementation is the Spark <= 3.5
        # behavior, matches DuckDB's lower() on this corpus, and is ~free.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # duplicate keys in a built map must not abort the job (a log line
        # can legitimately repeat `key: value`); last-win mirrors the
        # reference's per-doc field overwrite semantics
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", driver_mem)
        # Execution memory (Tungsten hash-agg maps, sort/shuffle buffers)
        # OFF-heap: these buffers are task-lived — on-heap they get tenured
        # and GC-scanned, and measured 70-100 stop-the-world GC seconds per
        # scaling-job run at 32 threads. Off-heap they are malloc'd/freed
        # outside the GC entirely (scaling job: 16.3s -> 13.5s at
        # local[32]). Production executors use the same split.
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", "6g")
        # local small-SF tuning: split packing at the default 128MB/4MB
        # open-cost folds the cached table into a handful of splits, capping
        # map-stage parallelism far below the core count (the map stages
        # here are compute-bound: regex parse + tokenize explode + partial
        # agg). 4m/4m makes every small cache file its own split -> split
        # count == file count == SPARK_GRAFT_CPUS (transcripts.py) == one
        # wave. Production (100 TB) keeps the 128MB default — splits are
        # abundant there.
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "4m")
        # this sandbox runs under gVisor: file syscalls are expensive and
        # the bypass shuffle writer's R-files-per-map-task pattern (x N
        # concurrent tasks) causes multi-minute I/O stalls. Route shuffle
        # and block storage through tmpfs and always use the sort-based
        # writer (one data+index file per map task). On a real cluster
        # neither knob applies (remote shuffle service / fast local disks).
        .config("spark.local.dir", os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.driver.extraJavaOptions", dns_opts)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
