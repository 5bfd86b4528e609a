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

#: HotSpot compiler directives of the driver JVM: code that runs once per
#: new query or call site (Janino, lambda spinning, XML parsing, Scala
#: reflection) compiles with C1 only; see the note in get_spark.
JIT_DIRECTIVES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jit_directives.json")
DRIVER_JIT_OPTIONS = (
    f'-XX:+UnlockDiagnosticVMOptions -XX:CompilerDirectivesFile="{JIT_DIRECTIVES}"'
)

#: Streaming checkpoint manager a file:/// session uses; see get_spark.
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # -- Driver JIT: code that runs once per new query or call site
        # compiles with C1 only (JIT_DIRECTIVES, a HotSpot
        # compiler-directives file): Janino compiling the generated
        # classes, the JDK's lambda spinning and its ASM, Hadoop's XML
        # configuration parser and Scala runtime reflection. By default C2
        # compiles it as soon as a burst makes it hot: in a perfbench
        # queries-light run (both passes in one JVM, 4 cores, seed 61,
        # JFR) C2 spent 35.6 s compiling, 6.8 s of it on Janino, against
        # about 0.8 s on the generated classes. The directives mark those
        # packages not C2-compilable, so the tiered policy moves their hot
        # methods from profiled C1 code to plain C1 code (tier 1) instead
        # of queueing them for C2. A session that re-runs its queries
        # comes back to this code only for the few classes it recompiles
        # (about 40 per sf0.1 bench.py iteration, with the codegen cache
        # above), so its steady state keeps C2 where it runs.
        # The compiler thread count stays the JDK's default for the host.
        # Against no directives (4 cores, perfbench pairs): scaled_cpu_s
        # -5.1% on queries-light (9 of 10 pairs) and -1.0% on
        # medallion-stream (3 of 4); the runs are in CHANGES.md.
        # Rejected: a wider list that also excluded Java serialization,
        # ANTLR, Hadoop's Configuration, class loading and ASM closure
        # cleaning. perfbench scaled_cpu_s fell 12.3% and 13.8%, but that
        # code runs for every task, scan or job, and 16 short sf0.1 queries
        # re-run 5 times read 7.6% slower (2 runs per side; this list read
        # 6.60 / 6.77 s against 7.67 / 6.91 s without directives).
        # Rejected: -XX:CICompilerCount=2 (one C1 and one C2 thread; JDK 17
        # picks 3 on 4 cores, 4 on 8, 15 on 32). perfbench scaled_cpu_s
        # fell 21% (queries-light) and 18% (medallion-stream), but a
        # 16-query sf0.1 bench.py subset took 10.6% longer as a sum of
        # per-query minimums (4 of 4 pairs), likely because hot query code
        # waits behind the bursts in the single C2 queue (not traced per
        # method). Rejected:
        # -XX:TieredStopAtLevel=1 (C1 only): perfbench CPU halved
        # (queries-light 44.3 -> 21.3 s, medallion-stream 64.6 -> 32.6 s),
        # but the same subset went from 61.1 to 100.3 s (+64%): long scans
        # and aggregations need C2's code. Rejected: tier-4 thresholds x10,
        # queries-light -33% but the subset 27.0-28.6 s -> 41.7 s (+46%).
        # No effect: -XX:Tier4LoadFeedback=1 (queries-light 33.96 ->
        # 33.09 s).
        # Scope: only the driver JVM, and only when get_spark launches it
        # (like spark.driver.memory, it does nothing once a JVM exists).
        # Local mode has no separate executor JVM; a cluster's executors
        # run long task streams and keep their defaults. The JVM prints
        # "1 compiler directives added" on its stdout at launch. The
        # caller's confs come after this one, so a caller who sets
        # spark.driver.defaultJavaOptions replaces it; spark-submit appends
        # spark.driver.extraJavaOptions (perfbench's fixed heap) after it.
        .config("spark.driver.defaultJavaOptions", DRIVER_JIT_OPTIONS)
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
    # -- Streaming checkpoint renames. Every offset, commit and state-store
    # delta file is written to a temp file and renamed into place, which
    # is what makes a micro-batch's commit atomic. Spark's default manager
    # renames through FileContext; on file:// without native Hadoop that
    # path resolves symlinks by running a shell `readlink` on the source,
    # the target and their .crc files, so every rename forks the JVM.
    # Measured on a medallion-stream run (4 cores, seed 51): 1,080
    # `readlink` forks, and the stream's state-store commits took 7.0 s;
    # with the FileSystem-based manager no `readlink` and 0.54 s. The
    # 353 `chmod` forks of the run remain: the local FileSystem sets the
    # permissions of every file it creates, checkpoints included.
    # Semantics: on file:// both managers check that the target is absent
    # and then rename(2), so neither loses a guarantee. On HDFS the
    # FileContext rename is one atomic no-overwrite NameNode call, so a
    # session whose default filesystem is not file:/// keeps Spark's
    # default. S3 renames are copies under either manager; a checkpoint
    # there needs a store-specific manager, whatever the default FS.
    if (
        spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
        == "file:///"
        and spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    ):
        spark.conf.set(CHECKPOINT_MANAGER_CONF, LOCAL_CHECKPOINT_MANAGER)
    return spark
