"""SparkSession factory with scale-conscious defaults.

Defaults are tuned for the test harness (local[N], small SF parquet) but
every knob is chosen to be the right *shape* for a 1000-executor cluster:
AQE on (runtime shuffle-partition coalescing + skew-join splitting),
broadcast threshold explicit, Arrow batching pinned for the enrichment
operator's 25-row LLM contract (SURVEY.md §2.10 F1).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import re
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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

#: (gateway process, archive) of each driver JVM this process launched to
#: record a class-data-sharing archive, until the archive is sealed.
_RECORDING: list[tuple[subprocess.Popen, str]] = []


def class_archive_dir() -> str:
    """Where the driver JVM's class-data-sharing archive lives (see the note
    in get_spark)."""
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "ai_powered_e_commerce_analytics_spark")


def _stat(path: str) -> list[int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return [st.st_ino, st.st_size, st.st_mtime_ns]


def _sealed(archive: str) -> bool:
    """Whether ``archive`` is the file its recording JVM wrote, untouched
    since: the JVM maps an archive without checking its length, and one cut
    short crashes it at launch."""
    try:
        with open(archive + ".seal") as fh:
            return json.load(fh) == _stat(archive)
    except (OSError, ValueError):
        return False


def _seal_recorded(wait: bool = False) -> None:
    """Seal each archive whose recording JVM has exited; with ``wait``, make
    the JVMs exit first (the process is exiting) and wait for their dumps."""
    for proc, archive in list(_RECORDING):
        if wait:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(timeout=600)
        if proc.poll() is None:
            continue
        _RECORDING.remove((proc, archive))
        if proc.returncode == 0 and os.path.isfile(archive):
            tmp = f"{archive}.{os.getpid()}.tmp"
            with contextlib.suppress(OSError):  # unsealed: recorded again
                with open(tmp, "w") as fh:
                    json.dump(_stat(archive), fh)
                os.replace(tmp, archive + ".seal")


atexit.register(_seal_recorded, wait=True)


def _over_32g(memory: str) -> bool:
    """Whether a JVM heap of ``memory`` (Spark's notation: "8g", "2048m";
    MiB without a unit) is too large for compressed oops."""
    m = re.fullmatch(r"(\d+)([bkmgtp]?)b?", memory.strip().lower())
    return bool(m) and int(m[1]) * 1024 ** "bkmgtp".index(m[2] or "m") >= 32 * 1024**3


def class_archive_launch(conf: dict[str, str]) -> tuple[str, str | None, str | None]:
    """The class-data-sharing flag of a driver JVM about to launch with the
    caller's ``conf``, its archive, and the empty ``SPARK_CONF_DIR`` to
    launch it with; ``("", None, None)`` when it launches without an
    archive (see the note in get_spark)."""
    if "spark.driver.defaultJavaOptions" in conf:
        return "", None, None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(
        not name.endswith(".template") for name in os.listdir(conf_dir)
    ):
        return "", None, None
    classpath = [
        entry
        for value in (
            conf.get("spark.driver.extraClassPath"),
            os.environ.get("HADOOP_CONF_DIR"),
            os.environ.get("YARN_CONF_DIR"),
            os.environ.get("SPARK_DIST_CLASSPATH"),
        )
        if value
        for entry in value.split(os.pathsep)
    ]
    if any(os.path.isdir(entry) and os.listdir(entry) for entry in classpath):
        return "", None, None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isdir(jars):
        return "", None, None
    java = os.path.realpath(java)
    key = hashlib.sha256(json.dumps([
        java,
        _stat(java),
        _stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")),
        [(name, _stat(os.path.join(jars, name))) for name in sorted(os.listdir(jars))],
        classpath,
        _over_32g(conf.get("spark.driver.memory", "1g")),
    ]).encode()).hexdigest()[:16]
    cache = class_archive_dir()
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
    except OSError:
        return "", None, None
    if not os.access(cache, os.W_OK):
        return "", None, None
    archive = os.path.join(cache, f"{key}.jsa")
    if _sealed(archive):
        return f'-XX:SharedArchiveFile="{archive}"', archive, empty_conf
    for name in os.listdir(cache):  # older keys' archives, and an unsealed one
        if name.endswith((".jsa", ".seal")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(os.path.join(cache, name))
    # -Xlog:cds=error: the dump warns on stdout about each class it skips.
    return f'-Xlog:cds=error -XX:ArchiveClassesAtExit="{archive}"', archive, empty_conf


def diagnostic_command(spark: SparkSession, operation: str) -> str:
    """Run one of jcmd's diagnostic commands, named as the DiagnosticCommand
    MBean names it (``"vmInfo"``, ``"compilerDirectivesPrint"``), in the
    session's driver JVM and return its output."""
    jvm, gateway = spark.sparkContext._jvm, spark.sparkContext._gateway

    def array(cls, *items):
        out = gateway.new_array(cls, len(items))
        for i, item in enumerate(items):
            out[i] = item
        return out

    # The platform MBeanServer's class is not exported to py4j, so its
    # invoke is called through the public interface.
    cls = jvm.java.lang.Class.forName
    invoke = cls("javax.management.MBeanServerConnection").getMethod("invoke", array(
        jvm.java.lang.Class, cls("javax.management.ObjectName"), cls("java.lang.String"),
        cls("[Ljava.lang.Object;"), cls("[Ljava.lang.String;"),
    ))
    return invoke.invoke(
        jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(),
        array(
            jvm.java.lang.Object,
            jvm.javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
            operation, None, None,
        ),
    )


def class_archive(spark: SparkSession) -> str:
    """What the session's driver JVM does with a class-data-sharing archive:
    ``"mapped"`` (it loads classes from one), ``"recorded"`` (it writes one
    when it exits) or ``"off"``."""
    args = list(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    if any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args):
        return "recorded"
    if not any(a.startswith("-XX:SharedArchiveFile=") for a in args):
        return "off"
    # [base, end of the JDK's own archive, end of the last archive): the two
    # ends differ when a dynamic archive is mapped on top.
    m = re.search(
        r"CDS archive\(s\) mapped at: \[(\w+)-(\w+)-(\w+)\)",
        diagnostic_command(spark, "vmInfo"),
    )
    return "mapped" if m and m[2] != m[3] else "off"


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
    extra_conf = extra_conf or {}
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    # -- Class-data sharing: see the note at spark.driver.defaultJavaOptions.
    archive_flag, archive, empty_conf = "", None, None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        _seal_recorded()  # a JVM this process stopped may have recorded one
        archive_flag, archive, empty_conf = class_archive_launch(
            {"spark.driver.memory": memory, **extra_conf}
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- Driver heap: local mode runs driver + all executor threads in
        # ONE JVM, so the 1g default is the binding constraint for every
        # broadcast build and localCheckpoint block. Size it like the
        # single combined executor it actually is (env-overridable; no
        # effect if a JVM already exists in-process).
        .config("spark.driver.memory", memory)
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
        # -- Class-data sharing (class_archive_launch). A driver JVM spends
        # much of its launch finding and parsing classes: in a JFR sample
        # of a queries-light cold pass, 51 of 270 Java-thread samples were
        # class loading, 38 of them jar-entry lookups across Spark's 287
        # jars. HotSpot's dynamic AppCDS archive keeps those classes
        # parsed and verified in one file the JVM maps at launch. The
        # first launch records it (-XX:ArchiveClassesAtExit: the JVM
        # writes it when it exits, and the process's exit waits for that
        # dump); later ones map it (-XX:SharedArchiveFile). The flag
        # joins DRIVER_JIT_OPTIONS above.
        # File: <key>.jsa in class_archive_dir(), that is
        # ${XDG_CACHE_HOME:-~/.cache}/ai_powered_e_commerce_analytics_spark/.
        # The key covers what the archive depends on: the JDK the launcher
        # runs (JAVA_HOME, else java on PATH), every classpath input
        # ($SPARK_HOME/jars names, inodes, sizes and mtimes,
        # spark.driver.extraClassPath, HADOOP_CONF_DIR, YARN_CONF_DIR,
        # SPARK_DIST_CLASSPATH) and whether compressed oops are on (off
        # at a 32g driver heap or more). Recording a new key deletes the
        # other keys' archives. A <key>.jsa.seal file holds the inode,
        # size and mtime the archive had when its JVM exited: the JVM
        # checks neither the length nor a checksum of an archive, and
        # one cut to half its size crashed it at launch, so an archive
        # that does not match its seal is deleted and recorded again.
        # After a launch that maps an archive, the DiagnosticCommand
        # MBean's VM.info shows whether the JVM took it; one it refused
        # is deleted, and the next launch records a fresh one.
        # Cost, once per JDK and Spark install: 141-189 MB of disk (it
        # holds the classes the recording session loaded; 141 MB for a
        # bare session, 189 MB for a perfbench medallion-stream one), a
        # 9-12 s dump at that JVM's exit, and 1.3-5.7 s more on that
        # session's start (8.8 s bare, 14.7 s perfbench set-up). Clear it
        # by deleting the directory.
        # JDK 17 refuses to archive classes when a non-empty directory
        # precedes their jar on the classpath, and Spark's launcher puts
        # $SPARK_CONF_DIR (default $SPARK_HOME/conf) first. So when that
        # directory is missing, empty or holds only *.template files,
        # the JVM launches with SPARK_CONF_DIR set to an empty directory
        # next to the archive (in os.environ only around getOrCreate);
        # nothing it would read is lost.
        # Skipped, launching exactly as without an archive, when: the
        # conf dir holds a real file, the caller sets
        # spark.driver.defaultJavaOptions, another non-empty directory is
        # on the classpath, the cache directory cannot be written, or a
        # JVM already runs in this process.
        # Measured (4 cores, perfbench, 10 pairs per workload against the
        # tree without the archive, after one recording run): setup_s
        # median 9.30 -> 4.56 s on medallion-stream and 10.17 -> 5.82 s on
        # queries-light, lower in 10 of 10 pairs on each; a traced run's
        # session.start_s 5.74 -> 2.95 s. scaled_cpu_s -4.2% and -0.0%,
        # peak_rss_mb -0.4% and +0.5% (the mapped archive's pages).
        # Driver only: a cluster's executor JVMs launch as before.
        .config(
            "spark.driver.defaultJavaOptions",
            f"{DRIVER_JIT_OPTIONS} {archive_flag}".rstrip(),
        )
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
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if empty_conf:
        os.environ["SPARK_CONF_DIR"] = empty_conf
    try:
        spark = builder.getOrCreate()
    finally:
        if empty_conf:
            del os.environ["SPARK_CONF_DIR"]
            if saved_conf_dir is not None:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    spark.sparkContext.setLogLevel("WARN")
    if archive and "-XX:ArchiveClassesAtExit" in archive_flag:
        _RECORDING.append((spark.sparkContext._gateway.proc, archive))
    elif archive and class_archive(spark) != "mapped":
        # The JVM refused the archive: the next launch records a fresh one.
        for path in (archive, archive + ".seal"):
            with contextlib.suppress(FileNotFoundError):
                os.remove(path)
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
