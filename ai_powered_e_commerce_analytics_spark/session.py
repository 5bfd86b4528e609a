"""SparkSession factory with scale-conscious defaults.

Defaults are tuned for the test harness (local[N], small SF parquet) but
every knob is chosen to be the right *shape* for a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
broadcast threshold explicit, Arrow batching pinned for the enrichment
operator's 25-row LLM contract (SURVEY.md §2.10 F1).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: The reference pins 25-row batches end-to-end into the LLM
#: (reference config.yaml:22, models_schema.py:19-21, extractor.go:13).
LLM_BATCH_SIZE = 25

#: Generated classes the session keeps compiled
#: (``spark.sql.codegen.cache.maxEntries``); see the note in get_spark.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "ai-powered-e-commerce-analytics-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism so the driver's
    bench harness controls the core count.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- Driver heap: local mode runs driver + all executor threads in
        # ONE JVM, so the 1g default is the binding constraint for every
        # broadcast build and localCheckpoint block. Size it like the
        # single combined executor it actually is (env-overridable; no
        # effect if a JVM already exists in-process).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        # -- Adaptive execution: runtime coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at its default
        # (true). The size-respecting setting Spark's config reference
        # suggests (false) was A/B-measured on the full r15 bench:
        # broad ~0.3 s/query wins, but byte-based coalescing collapsed
        # the small-BYTES l_orderkey basket shuffle to ONE partition and
        # serialized the CPU-heavy in-basket pair explosion behind it —
        # the whole copurchase family regressed (pagerank 5.3 → 9.5 s,
        # pairs 1.5 → 3.2 s; OPTIMIZATION_r15.md). Byte-sized
        # coalescing is blind to downstream CPU amplification, which is
        # a real hazard at any scale, so parallelism keeps the floor.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- Shuffle sizing: starting point; AQE coalesces down at runtime.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # -- Broadcast joins for small dims (region/nation/supplier/pools).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- Arrow for every Python<->JVM exchange (mapInPandas et al.).
        # NOTE: the 25-row LLM batch contract is enforced by explicit
        # batch-id grouping inside operators/enrich.py, NOT by shrinking
        # the global Arrow batch size (which would slow every other
        # vectorized UDF by 400x).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # -- Scan sizing: keep file-split partitions memory-friendly.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # -- Timestamps: earlier testdata generations wrote events.parquet
        # as TIMESTAMP(NANOS), which Spark refuses by default; surfacing
        # nanos as long keeps that encoding readable (no effect on the
        # current TIMESTAMP_NTZ µs encoding — plans/spec.event_ts_us
        # adapts to whichever type arrives).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- Reliable-checkpoint GC (functions/core.pin): when the
        # spark.graft.checkpointDir knob arms fault-tolerant checkpoints,
        # each trainer round writes one RDD directory that Spark never
        # reclaims by default — a long BPE/CC/PageRank run accumulates
        # them for the application's lifetime. This flag lets the
        # ContextCleaner delete a checkpoint's files once its RDD is
        # garbage-collected. Static conf (read at SparkContext init), so
        # it must be set HERE, not per-pin; sessions built elsewhere must
        # set it themselves or GC the checkpoint dir out of band.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # -- Generated-class cache (static conf, read when the JVM first
        # generates code). Spark keeps 100 compiled classes by default,
        # and re-running a query whose classes were evicted pays Janino
        # compilation and a fresh JIT of the reloaded classes again. One
        # full sf0.1 bench.py iteration generates 1,942 distinct classes
        # (counted with an unbounded cache, warm-up query included), so
        # at 100 every iteration recompiled: ~2,630 compiles per
        # iteration, against ~40 at this value (classes whose code
        # differs run to run). 4096 is about twice that working set: the
        # cache evicts per segment (4 of 1024), so the margin also
        # absorbs uneven hashing. Cost at the end of a 3-iteration
        # bench.py run (4 cores), against the default: +14.6 MB
        # metaspace, +1.8 MB compressed class space, +19.3 MB code heap.
        # Rejected: -XX:TieredStopAtLevel=1 (C1 only). It halved the
        # perfbench CPU (queries-light 44.3 -> 21.3 s, medallion-stream
        # 64.6 -> 32.6 s), whose passes are short, but took a 16-query
        # sf0.1 bench.py subset from 61.1 to 100.3 s (+64%): long scans
        # and aggregations need C2's code.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # -- Keep driver logs quiet in tests/bench.
        .config("spark.ui.showConsoleProgress", "false")
    )
    # spark.sql.join.preferSortMergeJoin stays at its default (true).
    # A full-suite r15 A/B with false (global shuffled-hash preference)
    # lost probe-normalized ground: the quantile-helper and copurchase
    # families regressed +0.3-0.9 s/query on a FASTER host while the
    # apparent dedup/KPI wins tracked host state (OPTIMIZATION_r15.md,
    # Measured and rejected). Where a hash join is provably right the
    # plans already hint shuffle_hash explicitly (PageRank), which also
    # keeps the SHJ build-side-fits-memory risk scoped instead of
    # global.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
