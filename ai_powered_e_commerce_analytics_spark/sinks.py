"""Sinks (SURVEY.md §2.1 S6-S10).

The reference's sinks are HTTP uploads to Supabase storage (JSON files)
and PostgREST keyed upserts. Spark-first equivalents:

- S6 gold snapshot  -> timestamped JSON dir write
- S7 silver chunks  -> ``maxRecordsPerFile`` (replaces the hand-rolled
  50,000-row chunker + upload waves, loader.go:65-113)
- S8 KPI upsert     -> keyed MERGE. Delta Lake isn't available in this
  container, so the upsert is a parquet-backed read-union-dedupe-rewrite
  with last-writer-wins per key — the same observable semantics as the
  reference's ``on_conflict`` upsert (data_loader.py:54-60). Commits go
  through an atomically-renamed versioned MANIFEST (immutable data files
  + atomic metadata pointer — the same protocol Delta/Iceberg use), so
  readers always see a complete committed table no matter where a writer
  crashed. A Delta ``MERGE INTO`` drops in behind the same function
  signature when delta-spark is on the classpath.
- S10 bronze append -> plain JSON append with timestamped subdirs.

Scale notes: the upsert rewrite is partitioned by key-hash bucket so a
100 TB table only rewrites the buckets that received updates. The bucket
count follows the data: a table starts at one bucket and its modulus
doubles whenever a commit stages more than ``maxPartitionBytes`` per
bucket, so a ~2k-row KPI table stays one file and a 100 TB table settles
near 128 MB per bucket. Delta/Iceberg MERGE is the production path and
noted inline.
"""

from __future__ import annotations

import json
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .functions.core import released, share
from .operators.kpis import KPI_KEYS


def write_gold_snapshot(df: DataFrame, gold_dir: str, *, fmt: str = "json") -> str:
    """S6: gold snapshot as ``gold/final_data_{ts}`` (data_loader.py:22-35).

    The reference serializes the whole frame to ONE json file; we keep a
    timestamped directory and let Spark write one file per partition —
    coalesce(1) would funnel 100 TB through one task. Parity on naming,
    not on single-file-ness (recorded deviation).
    """
    # uuid suffix: second-resolution timestamps collide when two runs
    # (or two foreachBatch invocations) land in the same wall-clock
    # second — mode("error") would fail the later one mid-pipeline.
    ts = time.strftime("%Y%m%d_%H%M%S")
    path = f"{gold_dir}/final_data_{ts}_{uuid.uuid4().hex[:8]}"
    df.write.mode("error").format(fmt).save(path)
    return path


def write_silver_chunks(
    df: DataFrame,
    silver_dir: str,
    *,
    max_records_per_file: int = 50_000,
    batch_id: int | None = None,
) -> str:
    """S7: chunked silver write — ``maxRecordsPerFile`` is the declarative
    twin of the Go 50k-row chunker (loader.go:111) with upload waves
    (loader.go:92-106); Spark writes files concurrently per task.

    ``batch_id`` (streaming callers): names the output dir by micro-batch
    id so a crash-replay of the same batch (foreachBatch is at-least-once)
    OVERWRITES its own earlier attempt instead of appending a duplicate
    silver directory — same idempotent-replay pattern as the gold sink in
    streaming/jobs.py.
    """
    if batch_id is not None:
        path = f"{silver_dir}/processed_data_batch_{batch_id}"
    else:
        # uuid suffix: 1-second epoch names collide across batch writes
        # landing in the same second, and mode("overwrite") would then
        # silently replace the earlier batch's rows.
        path = f"{silver_dir}/processed_data_{int(time.time())}_{uuid.uuid4().hex[:8]}"
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .json(path)
    )
    return path


def write_bronze_batch(df: DataFrame, bronze_new_dir: str) -> str:
    """S10: collector upload ``bronze/new/{iso-ts}_{uuid}.json``
    (collector.py:89-99) — one timestamped subdir per batch."""
    ts = time.strftime("%Y-%m-%dT%H-%M-%S")
    path = f"{bronze_new_dir}/{ts}_{uuid.uuid4()}"
    df.write.mode("error").json(path)
    return path


# ---------------------------------------------------------------------------
# S8: keyed upsert (MERGE)
# ---------------------------------------------------------------------------


_MANIFEST_RE = re.compile(r"_MANIFEST-v(\d{8})\.json$")


def _manifest_entries(manifest: dict) -> tuple[int, list[tuple[int, int, str]]]:
    """(table modulus ``M``, entries) of a committed manifest. Entry
    ``(m, r, path)`` holds every row whose ``pmod(xxhash64(key), m)`` is
    ``r``; entries are disjoint and every ``m`` divides ``M``. A legacy
    manifest (top-level ``num_buckets``, residue-keyed ``buckets``) reads
    as entries at that one modulus."""
    if "entries" in manifest:
        return int(manifest["modulus"]), [
            (int(e["m"]), int(e["r"]), e["path"]) for e in manifest["entries"]
        ]
    nb = int(manifest["num_buckets"])
    return nb, [(nb, int(r), rel) for r, rel in manifest["buckets"].items()]


def _live_tx(manifest: dict) -> set[str]:
    """Names of the ``data/tx_*`` dirs a manifest references."""
    return {rel.split("/")[1] for _, _, rel in _manifest_entries(manifest)[1]}


def _latest_manifest(spark: SparkSession, fs, table_path: str):
    """(version, manifest_dict) of the highest committed manifest, or
    (0, None) for a table that has never committed."""
    from .hadoop import fs_read_text, hadoop_path

    best_v, best_path = 0, None
    for status in fs.globStatus(
        hadoop_path(spark, f"{table_path}/_MANIFEST-v*.json")
    ) or []:
        m = _MANIFEST_RE.search(status.getPath().getName())
        if m and int(m.group(1)) > best_v:
            best_v, best_path = int(m.group(1)), status.getPath().toString()
    if best_path is None:
        return 0, None
    return best_v, json.loads(fs_read_text(spark, best_path))


def _commit_manifest(
    spark: SparkSession, fs, table_path: str, version: int, manifest: dict
) -> bool:
    """Publish ``manifest`` as version ``version`` with ONE atomic rename.

    The manifest body is written to a ``_tmp_`` name (readers never match
    it), then renamed to its final ``_MANIFEST-v{N}.json`` name. Rename to
    a FRESH name is atomic on HDFS and posix alike — there is no
    delete-then-rename hole, and a crash at any instant leaves either the
    old manifest current (commit never happened) or the new one (commit
    complete).

    Returns ``True`` on commit. A failed rename means a concurrent writer
    already took this version: returns ``False`` so the caller can
    re-merge against the new table state and retry at the next version —
    the optimistic-concurrency loop in :func:`upsert_parquet` (same
    protocol as Delta's commit-version CAS).
    """
    from .hadoop import fs_write_text, hadoop_path

    tmp = f"{table_path}/_tmp_manifest_{uuid.uuid4().hex[:8]}.json"
    fs_write_text(spark, tmp, json.dumps(manifest, sort_keys=True))
    final = hadoop_path(spark, f"{table_path}/_MANIFEST-v{version:08d}.json")
    if not fs.rename(hadoop_path(spark, tmp), final):
        fs.delete(hadoop_path(spark, tmp), False)
        return False
    return True


# Unreferenced staging debris younger than this is left alone by GC: it
# may belong to a concurrent writer that has staged but not yet
# committed. Crash debris ages past the grace and is then collected.
ORPHAN_GRACE_MS = 600_000


def _gc_upsert_table(
    spark: SparkSession, fs, table_path: str, version: int, manifest: dict
) -> None:
    """Garbage-collect superseded state with a ONE-GENERATION retention
    grace, so the sink is safe for concurrent readers and writers by
    construction:

    - The PREVIOUS manifest and every tx dir it references are kept for
      one more GC cycle: a reader that resolved the old manifest just
      before this commit can still open all its files. Manifests (and
      their exclusive tx refs) two or more generations old are dropped.
    - Tx dirs referenced by NO retained manifest are deleted only once
      older than :data:`ORPHAN_GRACE_MS` — a fresh unreferenced dir may
      be a concurrent writer's staging area mid-OCC-attempt; crash
      debris simply ages out. Same for ``_tmp_manifest_*`` files.

    Runs AFTER the commit, so a crash mid-GC only leaves harmless debris
    that the next upsert's GC removes."""
    import time as _time

    from .hadoop import fs_read_text, hadoop_path

    live_tx = _live_tx(manifest)
    prev_version = 0
    prev_path = None
    for status in fs.globStatus(
        hadoop_path(spark, f"{table_path}/_MANIFEST-v*.json")
    ) or []:
        m = _MANIFEST_RE.search(status.getPath().getName())
        if m and prev_version < int(m.group(1)) < version:
            prev_version = int(m.group(1))
            prev_path = status.getPath().toString()
    if prev_path is not None:
        live_tx |= _live_tx(json.loads(fs_read_text(spark, prev_path)))
    # Manifests 2+ generations old are dropped, and the tx dirs ONLY they
    # referenced go with them immediately — those are known-superseded
    # data, not unknown staging. Refs are collected before deletion.
    dead_tx: set[str] = set()
    for status in fs.globStatus(
        hadoop_path(spark, f"{table_path}/_MANIFEST-v*.json")
    ) or []:
        m = _MANIFEST_RE.search(status.getPath().getName())
        if m and int(m.group(1)) < prev_version:
            try:
                dead_tx |= _live_tx(
                    json.loads(fs_read_text(spark, status.getPath().toString()))
                )
            except Exception:  # noqa: BLE001 - unreadable old manifest
                pass
            fs.delete(status.getPath(), False)
    now_ms = int(_time.time() * 1000)
    for status in fs.globStatus(
        hadoop_path(spark, f"{table_path}/_tmp_manifest_*")
    ) or []:
        if now_ms - status.getModificationTime() > ORPHAN_GRACE_MS:
            fs.delete(status.getPath(), False)
    for status in fs.globStatus(hadoop_path(spark, f"{table_path}/data/tx_*")) or []:
        name = status.getPath().getName()
        if name in live_tx:
            continue
        if name in dead_tx or (
            now_ms - status.getModificationTime() > ORPHAN_GRACE_MS
        ):
            fs.delete(status.getPath(), True)


def _last_writer_wins(new: DataFrame, old: DataFrame, key: str) -> DataFrame:
    """Per-key merge where ``new`` rows beat ``old`` rows (the MERGE
    matched-update rule), tolerant of schema drift on either side."""
    return (
        new.withColumn("__rank", F.lit(0))
        .unionByName(
            old.withColumn("__rank", F.lit(1)),
            allowMissingColumns=True,
        )
        .withColumn(
            "__rn",
            F.row_number().over(Window.partitionBy(key).orderBy("__rank")),
        )
        .where(F.col("__rn") == 1)
        .drop("__rank", "__rn")
    )


def _staged_bucket_bytes(spark: SparkSession, fs, tx_dir: str) -> dict[int, int]:
    """``{bucket: bytes}`` of a staged tx dir, from one recursive listing.
    A bucket with no rows left has no dir and so no key."""
    from .hadoop import hadoop_path

    sizes: dict[int, int] = {}
    files = fs.listFiles(hadoop_path(spark, tx_dir), True)
    while files.hasNext():
        status = files.next()
        parent = status.getPath().getParent().getName()
        if parent.startswith("__bucket="):
            b = int(parent[len("__bucket="):])
            sizes[b] = sizes.get(b, 0) + status.getLen()
    return sizes


def _occ_commit_loop(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    key: str,
    *,
    num_buckets: int,
    max_attempts: int,
    merge_with_old,
    op_name: str,
    snapshot: bool = False,
    _before_commit=None,
) -> None:
    """THE merge-stage-commit protocol (one implementation for
    :func:`upsert_parquet` and :func:`apply_cdc_parquet`): hash-bucket
    the change set at the table's modulus ``M``, read only the manifest
    entries its buckets route to, delegate the semantic merge to
    ``merge_with_old(bucketed, old_or_None)``, stage the result as an
    immutable tx dir, and commit by versioned-manifest CAS with re-merge
    retry on a lost race. The read entries are replaced by the bucket
    dirs the staged tx dir holds, so a bucket whose every row was
    deleted drops out of the manifest instead of dangling. ``snapshot``
    shares the bucketed change set as a checkpoint so all its uses see
    one deterministic frame; each attempt's scope releases it.

    A new table starts at ``num_buckets``. When the staged bytes per
    bucket dir exceed ``spark.sql.files.maxPartitionBytes`` the committed
    ``M`` doubles (repeatedly if needed); entries keep their own modulus,
    which divides every later ``M``, so untouched data stays where it is
    and a touched entry splits when its keys next change."""
    from .hadoop import hadoop_fs, hadoop_path

    fs = hadoop_fs(spark, table_path)
    max_bucket_bytes = (
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    for _attempt in range(max_attempts):
        # One scope per attempt: its snapshot is released once the
        # attempt commits or loses the race, so contention retries never
        # pin one copy of the change set each for the session's life.
        with released(spark):
            version, manifest = _latest_manifest(spark, fs, table_path)
            if manifest is None:
                modulus, entries = num_buckets, []
            else:
                modulus, entries = _manifest_entries(manifest)

            bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(modulus)).cast("int")
            bucketed = changes.withColumn("__bucket", bucket)
            if snapshot:
                bucketed = share(bucketed, "checkpoint")

            old, read = None, set()
            if entries:  # a first commit has no old data to route to
                touched = {
                    r[0]
                    for r in bucketed.select("__bucket").distinct().collect()
                }
                # Each touched bucket h lies in at most one entry: the one
                # with h % m == r (entries are disjoint; m divides M).
                moduli = {m for m, _, _ in entries}
                hit = {(m, h % m) for h in touched for m in moduli}
                read = {e for e in entries if e[:2] in hit}
            if read:
                # Entry dirs are read directly (no partition discovery);
                # recompute __bucket at M from the key — same
                # deterministic hash. mergeSchema + allowMissingColumns =
                # schema EVOLUTION (see upsert_parquet docstring).
                old = (
                    spark.read.option("mergeSchema", "true")
                    .parquet(*[f"{table_path}/{rel}" for _, _, rel in read])
                    .withColumn("__bucket", bucket)
                )
            merged = merge_with_old(bucketed, old)
            txid = uuid.uuid4().hex[:12]
            tx_dir = f"{table_path}/data/tx_{txid}"
            (
                merged.repartition("__bucket")
                .write.mode("overwrite")
                .partitionBy("__bucket")
                .parquet(tx_dir)
            )

            staged = _staged_bucket_bytes(spark, fs, tx_dir)
            new_entries = [e for e in entries if e not in read] + [
                (modulus, b, f"data/tx_{txid}/__bucket={b}") for b in staged
            ]
            new_modulus = modulus
            if staged:
                per_dir = sum(staged.values()) / len(staged)
                while per_dir > max_bucket_bytes:
                    per_dir /= 2
                    new_modulus *= 2
            new_manifest = {
                "modulus": new_modulus,
                "entries": [
                    {"m": m, "r": r, "path": rel}
                    for m, r, rel in sorted(new_entries)
                ],
            }
            if _before_commit is not None:
                _before_commit()
            nxt = version + 1
            if _commit_manifest(spark, fs, table_path, nxt, new_manifest):
                _gc_upsert_table(spark, fs, table_path, nxt, new_manifest)
                return
            # Lost the version CAS to a concurrent writer: the merge is
            # based on a stale table state. Drop the staged attempt and
            # re-merge.
            fs.delete(hadoop_path(spark, tx_dir), True)
    raise RuntimeError(
        f"{op_name} at {table_path} lost the commit race {max_attempts} "
        "times — giving up (sustained writer contention)"
    )


def upsert_parquet(
    spark: SparkSession,
    updates: DataFrame,
    table_path: str,
    key: str,
    *,
    num_buckets: int = 1,
    max_attempts: int = 5,
    _before_commit=None,
) -> None:
    """Keyed upsert into a parquet table: last-writer-wins per ``key``
    (reference PostgREST ``upsert(records, on_conflict=key)``,
    data_loader.py:54-60).

    Layout + commit protocol (manifest-based, ACID for readers)::

        table/
          _MANIFEST-v00000003.json   # current: {"modulus": 4, "entries": [
                                     #   {"m": 2, "r": 0, "path": "data/tx_x/__bucket=0"},
                                     #   {"m": 4, "r": 1, "path": "data/tx_y/__bucket=1"},
                                     #   {"m": 4, "r": 3, "path": "data/tx_y/__bucket=3"}]}
          data/tx_x/__bucket=0/...   # immutable once written
          data/tx_y/__bucket=1/...

    An entry ``(m, r)`` holds the keys with ``pmod(xxhash64(key), m) ==
    r``. Each upsert hashes its keys at the table's modulus ``M``, reads
    only the entries those buckets fall in, and writes the merge at ``M``
    to a NEW immutable ``data/tx_{id}`` dir, then commits by atomically
    renaming the next-version manifest into place (see
    :func:`_commit_manifest`). Readers resolve the file set exclusively
    through the highest committed manifest, so they always observe a
    complete table — wholly old or wholly new, never a mix and never a
    missing bucket, no matter where a writer crashed. Uncommitted staging
    data is invisible (no manifest references it) and is GC'd by the next
    successful upsert.

    CONCURRENT writers are handled by optimistic concurrency: the whole
    merge-stage-commit sequence runs in a loop; a writer that loses the
    version CAS (rename fails because the version exists) discards its
    staged tx dir, re-reads the new latest manifest, RE-MERGES its
    updates against the new table state, and retries at the next version
    — so both commits land and the result equals sequential application
    in commit order (Delta-style OCC). ``max_attempts`` bounds livelock
    under sustained contention.

    ``_before_commit`` is a test seam invoked after staging and before
    each commit attempt (used to interleave a concurrent writer
    deterministically).

    100 TB note: this is a miniature of exactly what Delta/Iceberg do
    (immutable data files + atomic metadata pointer + OCC commit). With
    delta-spark on the classpath the body becomes
    ``DeltaTable.merge(...)`` and gains file-level skipping; the bucket
    layout already bounds the rewrite to the entries the touched
    buckets fall in.

    ``num_buckets`` is the modulus a NEW table starts at; an existing
    table keeps its own. The modulus doubles after any commit that
    staged more than ``spark.sql.files.maxPartitionBytes`` per bucket
    dir. Entries written before a doubling keep their coarser modulus
    (it divides the new one) and are split only when a later upsert
    touches them, so growth never rewrites untouched data. Manifests of
    the older fixed layout (``num_buckets`` plus residue-keyed
    ``buckets``) read, time-travel and upsert as entries at that
    modulus.
    """
    def merge(bucketed: DataFrame, old: DataFrame | None) -> DataFrame:
        # Last-writer-wins: updates rank before existing rows per key.
        return bucketed if old is None else _last_writer_wins(bucketed, old, key)

    _occ_commit_loop(
        spark,
        updates,
        table_path,
        key,
        num_buckets=num_buckets,
        max_attempts=max_attempts,
        merge_with_old=merge,
        op_name="upsert",
        _before_commit=_before_commit,
    )


def write_daily_partitions(
    df: DataFrame, path: str, date_col: str = "o_date"
) -> None:
    """Date-partitioned parquet write with DYNAMIC partition overwrite:
    re-running a daily job replaces ONLY the partitions present in
    ``df`` (late-arriving reruns, backfills) and leaves every other day
    untouched — static overwrite mode would truncate the whole table,
    the classic incremental-job footgun. The conf is set per-write and
    restored, so the session default stays untouched.

    At 100 TB this is the standard fact-table layout: partition
    pruning turns date-range scans into partition listings, and the
    daily refresh rewrites one partition, not the table.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(date_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def apply_cdc_parquet(
    spark: SparkSession,
    changes: DataFrame,
    table_path: str,
    key: str,
    *,
    op_col: str = "op",
    seq_col: str | None = None,
    num_buckets: int = 1,
    max_attempts: int = 5,
    _before_commit=None,
) -> None:
    """Apply a CDC change batch (inserts/updates/DELETES) to a
    manifest-committed upsert table — the missing lakehouse verb on top
    of :func:`upsert_parquet` (which is upsert-only): the Spark-side
    equivalent of ``MERGE INTO ... WHEN MATCHED AND op='D' THEN DELETE``.

    ``changes`` carries the payload columns plus ``op_col`` with values
    ``'I'``/``'U'`` (upsert — identical semantics, split only for
    source fidelity) or ``'D'`` (delete; payload columns ignored).
    When a batch may contain SEVERAL changes for one key, pass
    ``seq_col`` (monotone per key — a CDC LSN/offset): the batch first
    collapses to each key's latest change (``row_number`` by seq DESC),
    exactly how Debezium-style consumers compact a batch. Without
    ``seq_col``, duplicate keys in one batch are rejected — silently
    picking one would corrupt the table.

    Same layout, OCC commit loop, GC, and bounded bucket-rewrite cost
    as :func:`upsert_parquet`: only the entries the batch's keys hash
    into are rewritten; deletes drop the key from its rewritten bucket
    (a delete for an absent key is a no-op). Readers see the change
    batch atomically via the manifest rename.

    The op domain is VALIDATED up front: any value outside
    ``('I','U','D')`` — including NULL — raises before anything is
    staged. Without this, ``op != 'D'`` evaluates NULL for a NULL op
    (the row silently vanishes from BOTH the upsert and the delete
    set), and an unknown code like ``'d'`` or ``'delete'`` would be
    silently upserted — the same corrupt-the-table-silently class the
    duplicate-key rejection below guards against. NULL merge keys are
    rejected on both paths for the same reason (see inline note).
    """
    # Both validations ride ONE evaluation of the change lineage: a
    # single groupBy(key) pass surfaces an out-of-domain op (NULL is
    # flagged via a sentinel — max() alone would swallow it) AND, on
    # the no-seq path, a duplicate key. The previous form ran each
    # check as its own standalone job over the full lineage — for a
    # change set derived from an expensive diff that meant two extra
    # complete passes before the commit loop's own evaluation.
    bad_op = F.col(op_col).isNull() | ~F.col(op_col).isin("I", "U", "D")
    bad_marker = F.max(
        F.when(bad_op, F.coalesce(F.col(op_col), F.lit("<NULL>")))
    )
    # NULL merge keys are rejected alongside the op domain: the delete
    # path is an anti-JOIN (NULL never matches, so a NULL-key delete
    # would silently no-op even when a NULL-key row exists), and a NULL
    # key in a keyed CDC feed is a producer bug, not a mergeable change.
    null_key_marker = F.max(F.when(F.col(key).isNull(), F.lit(True)))
    if seq_col is not None:
        diag = (
            changes.agg(
                bad_marker.alias("__bad"), null_key_marker.alias("__nullk")
            ).collect()[0]
        )
        has_dup, dup_key = False, None
    else:
        diag = (
            changes.groupBy(key)
            .agg(F.count("*").alias("__c"), bad_marker.alias("__b"))
            .agg(
                F.max("__b").alias("__bad"),
                F.max(F.col(key).isNull()).alias("__nullk"),
                # Null-safe dup FLAG (a max() over the key alone would
                # read NULL — i.e. "no dup" — when the only duplicated
                # group is the NULL key); the key is captured separately
                # and only for the error message.
                F.max(F.when(F.col("__c") > 1, F.lit(True))).alias("__hasdup"),
                F.max(F.when(F.col("__c") > 1, F.col(key))).alias("__dup"),
            )
            .collect()[0]
        )
        has_dup, dup_key = bool(diag["__hasdup"]), diag["__dup"]
    if diag["__bad"] is not None:
        bad_repr = None if diag["__bad"] == "<NULL>" else diag["__bad"]
        raise ValueError(
            f"CDC batch contains op {bad_repr!r} outside the valid "
            "domain ('I', 'U', 'D') — refusing to apply (a NULL or "
            "unknown op would silently corrupt the table)"
        )
    if diag["__nullk"]:
        raise ValueError(
            f"CDC batch contains a NULL merge key ({key!r}) — refusing "
            "to apply (deletes anti-join on the key, so a NULL-key "
            "change can never match and would be silently dropped)"
        )
    if has_dup:
        raise ValueError(
            f"CDC batch has multiple changes for key {dup_key!r}; "
            "pass seq_col to define which one wins"
        )
    if seq_col is not None:
        # Tiebreak equal seqs (one transaction's rows often share a
        # commit LSN) by the FULL value struct, so a replay or task
        # retry always commits the same winner — the deterministic-
        # collapse rule upsert_dbapi follows; desc(seq) alone resolves
        # ties by scan order, i.e. nondeterministically.
        value_cols = [
            c for c in changes.columns if c not in (key, seq_col)
        ]
        order = [F.desc(seq_col)]
        if value_cols:
            order.append(F.desc(F.struct(*value_cols)))
        latest = (
            changes.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy(key).orderBy(*order)
                ),
            )
            .where(F.col("__rn") == 1)
            .drop("__rn", seq_col)
        )
    else:
        latest = changes

    def merge(bucketed: DataFrame, old: DataFrame | None) -> DataFrame:
        upserts = bucketed.where(F.col(op_col) != "D").drop(op_col)
        del_keys = bucketed.where(F.col(op_col) == "D").select(key)
        base = (
            upserts if old is None else _last_writer_wins(upserts, old, key)
        )
        return base.join(del_keys, key, "left_anti")

    _occ_commit_loop(
        spark,
        latest,
        table_path,
        key,
        num_buckets=num_buckets,
        max_attempts=max_attempts,
        merge_with_old=merge,
        op_name="CDC apply",
        # one deterministic snapshot feeds upserts, deletes, AND touched
        snapshot=True,
        _before_commit=_before_commit,
    )


def read_upsert_table(
    spark: SparkSession, table_path: str, *, version: int | None = None
) -> DataFrame:
    """Read back an upsert table through its committed manifest (the ONLY
    path to the data — staging/uncommitted files are never visible).

    ``version`` selects a specific committed manifest — Delta-style time
    travel, bounded by the GC retention window (:func:`_gc_upsert_table`
    keeps the current and one previous generation, so the previous
    version is always readable; older versions raise once collected).
    ``mergeSchema`` tolerates bucket files written before a column was
    added (see the schema-evolution note on :func:`upsert_parquet`).
    """
    from .hadoop import fs_read_text, hadoop_fs, hadoop_path

    fs = hadoop_fs(spark, table_path)
    if version is None:
        _, manifest = _latest_manifest(spark, fs, table_path)
        if manifest is None:
            raise FileNotFoundError(
                f"no committed manifest under {table_path} — not an upsert table"
            )
    else:
        vpath = f"{table_path}/_MANIFEST-v{version:08d}.json"
        if not fs.exists(hadoop_path(spark, vpath)):
            raise FileNotFoundError(
                f"version {version} of {table_path} is not available "
                "(never committed, or garbage-collected past the "
                "one-generation retention window)"
            )
        manifest = json.loads(fs_read_text(spark, vpath))
    paths = [f"{table_path}/{rel}" for _, _, rel in _manifest_entries(manifest)[1]]
    if not paths:
        raise FileNotFoundError(
            f"{table_path} is committed but EMPTY (every row deleted by "
            "CDC); no schema is recoverable from a parquet-backed table "
            "with zero files — keep a schema registry if this state must "
            "be readable"
        )
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def table_changes(
    spark: SparkSession,
    table_path: str,
    key: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level diff between two committed versions of an upsert table
    — the read side of CDC (Delta's Change Data Feed shape): every key
    whose row was INSERTED, UPDATED, or DELETED between the versions,
    with the before/after payloads as structs.

    Derived by full-outer-joining the two manifest snapshots on ``key``
    and comparing payloads — no change log is stored, so this is
    bounded by the GC retention window like any time travel
    (``from_version`` must still be readable). At 100 TB, compare only
    the buckets whose manifest entries DIFFER between the versions
    (the manifest diff is O(buckets) metadata); the full-table join
    here is the small-table form.
    """
    from .hadoop import hadoop_fs

    if to_version is None:
        to_version, _ = _latest_manifest(
            spark, hadoop_fs(spark, table_path), table_path
        )
    if from_version >= to_version:
        # a reversed range would silently report an INVERTED diff
        # (inserts as deletes) — refuse instead.
        raise ValueError(
            f"from_version ({from_version}) must be < to_version "
            f"({to_version})"
        )

    def snapshot(version: int) -> DataFrame | None:
        try:
            return read_upsert_table(spark, table_path, version=version)
        except FileNotFoundError as e:
            if "EMPTY" in str(e):
                return None  # committed but zero buckets (all deleted)
            raise

    before, after = snapshot(from_version), snapshot(to_version)
    if before is None and after is None:
        raise ValueError(
            f"versions {from_version} and {to_version} of {table_path} are "
            "both empty — no schema to diff (and no changes to report)"
        )
    if before is None:
        before = after.limit(0)
    if after is None:
        after = before.limit(0)
    # Schema evolution: payload = UNION of both sides' columns; a side
    # missing a column carries a typed NULL so adds/drops read as
    # updates instead of erroring (or silently hiding the column).
    # TYPE evolution: the dict iterates (before, after), so the AFTER
    # side's type wins where they disagree (latest-schema-wins, the
    # Delta-CDF reading) and BOTH sides are cast to it — without the
    # cast the before/after structs carry mismatched field types and
    # the eqNullSafe comparison fails or mis-compares. Caveat: a lossy
    # narrowing evolution (double -> int) compares in the narrowed
    # domain, like any reader of the evolved table.
    types = {
        f.name: f.dataType
        for df in (before, after)
        for f in df.schema.fields
    }
    payload = sorted(c for c in types if c != key)

    def side(df: DataFrame, alias: str) -> DataFrame:
        cols = [
            (
                F.col(c).cast(types[c])
                if c in df.columns
                else F.lit(None).cast(types[c])
            ).alias(c)
            for c in payload
        ]
        return df.select(F.col(key), F.struct(*cols).alias(alias))

    j = side(before, "before").join(side(after, "after"), key, "full_outer")
    return (
        j.withColumn(
            "change_type",
            F.when(F.col("before").isNull(), F.lit("insert"))
            .when(F.col("after").isNull(), F.lit("delete"))
            # eqNullSafe: a payload field flipping to/from NULL is an
            # UPDATE; plain != returns null there and would drop it
            .when(
                ~F.col("before").eqNullSafe(F.col("after")), F.lit("update")
            ),
        )
        .where(F.col("change_type").isNotNull())
        .select(key, "change_type", "before", "after")
    )


def upsert_kpi_tables(
    spark: SparkSession,
    kpis: dict[str, DataFrame],
    base_dir: str,
) -> None:
    """M2: the reference upserts the three KPI tables concurrently
    (data_loader.py:63-65); Spark jobs already parallelize internally, so
    these run sequentially driver-side, each on its ``KPI_KEYS`` key."""
    for name, df in kpis.items():
        upsert_parquet(spark, df, f"{base_dir}/{name}", KPI_KEYS[name])


def upsert_dbapi(
    spark: SparkSession,
    updates: DataFrame,
    table: str,
    key: str,
    connection_factory,
    *,
    batch_size: int = 1000,
    paramstyle: str = "qmark",
    statement: str | None = None,
    order_col: str | None = None,
) -> None:
    """Keyed upsert (MERGE) into a RELATIONAL database — the deployment
    target the reference actually has (data_loader.py:54-66 upserts the
    KPI tables into Supabase Postgres via PostgREST
    ``upsert(records, on_conflict=key)``); SURVEY §7 hard-part 1's
    "JDBC + MERGE" fallback form of :func:`upsert_parquet`.

    Plan shape (100 TB): ``foreachPartition`` opens ONE connection per
    partition ON THE EXECUTORS and streams ``executemany`` batches of
    ``INSERT ... ON CONFLICT (key) DO UPDATE`` — the write fans out with
    the data (no driver collect, no single-connection bottleneck; the
    DB's own MVCC serializes per-key). This is the PySpark-idiomatic
    equivalent of the JVM "stage via df.write.jdbc + driver-side MERGE
    INTO staging" pattern: same semantics, one fewer table, and it
    needs only a Python DB-API driver (psycopg2, sqlite3), not a JDBC
    jar on the classpath. ``connection_factory`` must be a picklable
    zero-arg callable, e.g. ``lambda: psycopg2.connect(dsn)``.

    Semantics match :func:`upsert_parquet`: last-writer-wins per key
    against the table. Duplicate keys WITHIN the batch are collapsed
    first — Postgres rejects a multi-hit ON CONFLICT batch ("cannot
    affect row a second time") and SQLite would keep an arbitrary one.
    The collapse is DETERMINISTIC (``max_by`` over ``order_col`` when
    given — a CDC seq/LSN — falling back to the row's full value
    struct as the tiebreak and, without ``order_col``, as the whole
    ordering): a ``dropDuplicates`` survivor depends on partitioning
    and scan order, so a task retry or micro-batch replay could
    recompute a DIFFERENT survivor and write a different value,
    breaking replay idempotence. With a deterministic survivor, task
    retries re-run the same keyed upserts — idempotent, so the sink is
    safely at-least-once (columns must be orderable types — no maps).

    The default statement speaks the common Postgres/SQLite dialect
    (``ON CONFLICT (key) DO UPDATE SET col = excluded.col``) with
    ``paramstyle`` 'qmark' (sqlite3 ``?``) or 'format' (psycopg2
    ``%s``); pass ``statement`` to override for other dialects
    (MySQL's ``ON DUPLICATE KEY UPDATE``, ...). The target table (with
    a unique constraint on ``key``) must exist — schema DDL is a
    deployment concern, as in the reference.
    """
    cols = list(updates.columns)
    if key not in cols:
        raise ValueError(f"key column {key!r} not in {cols}")
    if statement is None:
        ph = {"qmark": "?", "format": "%s"}[paramstyle]
        collist = ", ".join(f'"{c}"' for c in cols)
        values = ", ".join([ph] * len(cols))
        sets = ", ".join(f'"{c}" = excluded."{c}"' for c in cols if c != key)
        action = f"DO UPDATE SET {sets}" if sets else "DO NOTHING"
        statement = (
            f'INSERT INTO "{table}" ({collist}) VALUES ({values}) '
            f'ON CONFLICT ("{key}") {action}'
        )
    stmt = statement

    def write_partition(rows) -> None:
        buf = []
        conn = None
        try:
            for row in rows:
                if conn is None:  # connect lazily: skip empty partitions
                    conn = connection_factory()
                buf.append(tuple(row[c] for c in cols))
                if len(buf) >= batch_size:
                    conn.cursor().executemany(stmt, buf)
                    buf.clear()
            if conn is not None:
                if buf:
                    conn.cursor().executemany(stmt, buf)
                conn.commit()
        finally:
            if conn is not None:
                conn.close()

    if order_col is not None and order_col not in cols:
        raise ValueError(f"order_col {order_col!r} not in {cols}")
    nonkey = [c for c in cols if c != key]
    order_fields = ([order_col] if order_col else []) + [
        c for c in nonkey if c != order_col
    ]
    collapsed = (
        updates.groupBy(key)
        .agg(
            F.max_by(
                F.struct(*[F.col(c) for c in cols]),
                F.struct(*[F.col(c) for c in order_fields]),
            ).alias("__row")
        )
        .select("__row.*")
        .select(*cols)
        if nonkey
        else updates.dropDuplicates([key])  # key-only rows: all equal
    )
    collapsed.foreachPartition(write_partition)


def dbapi_upsert_sink(table: str, key: str, connection_factory, **kwargs):
    """``writeStream.foreachBatch`` adapter around :func:`upsert_dbapi`
    — the literal "MERGE in foreachBatch" form: each micro-batch keyed-
    upserts into the DB; checkpoint + idempotent MERGE give effective
    exactly-once per key (a replayed batch rewrites the same rows)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        upsert_dbapi(
            batch_df.sparkSession, batch_df, table, key,
            connection_factory, **kwargs,
        )

    return apply_batch


def upsert_kpi_tables_dbapi(
    spark: SparkSession,
    kpis: dict[str, DataFrame],
    connection_factory,
) -> None:
    """M2 twin of :func:`upsert_kpi_tables` targeting a relational DB —
    the reference's actual fan-out (data_loader.py:63-65: three
    concurrent Supabase upserts), each on its ``KPI_KEYS`` key; each
    table's write already parallelizes across executors."""
    for name, df in kpis.items():
        upsert_dbapi(spark, df, name, KPI_KEYS[name], connection_factory)


def compact_parquet_dir(
    spark: SparkSession,
    src_dir: str,
    *,
    target_bytes_per_file: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction with a directory-swap commit — the
    maintenance job every streaming parquet sink eventually needs
    (``documents_ingest_stream``'s batch_id dirs accumulate one small
    file per micro-batch; at 100 TB the NameNode/listing cost and
    sub-split scan tasks dominate long before the data does).

    Rewrites the dataset into ``ceil(total_bytes / target)`` files via
    one ``repartition`` (full shuffle of the data being compacted —
    unavoidable and proportional to the compacted bytes, not the
    cluster's total data), then swaps directories: src→old, tmp→src,
    delete old. The swap is two metadata renames; a crash between them
    leaves both ``src.compact-old`` and the complete ``tmp`` on disk —
    recovery is "rename either back", never data loss, and the
    function refuses to run if leftovers from a previous crash exist.
    Partition-discovery columns (``batch_id=N``) become regular data
    columns in the compacted layout — same rows, same schema for every
    reader that selects columns.

    No-op (returns stats with ``compacted=False``) when the file count
    is already at or below the target.
    """
    from .hadoop import hadoop_fs, hadoop_path

    fs = hadoop_fs(spark, src_dir)
    tmp, old = f"{src_dir}.compact-tmp", f"{src_dir}.compact-old"
    for leftover in (tmp, old):
        if fs.exists(hadoop_path(spark, leftover)):
            raise RuntimeError(
                f"compaction leftover {leftover} exists — recover it "
                "(rename back or delete) before compacting again"
            )
    files = []
    it = fs.listFiles(hadoop_path(spark, src_dir), True)
    while it.hasNext():
        status = it.next()
        name = status.getPath().getName()
        if name.endswith(".parquet"):
            files.append(status.getLen())
    total_bytes = sum(files)
    n_target = max(1, -(-total_bytes // target_bytes_per_file))
    stats = {
        "n_files_before": len(files),
        "total_bytes": total_bytes,
        "n_files_target": n_target,
        "compacted": False,
    }
    if len(files) <= n_target:
        return stats
    df = spark.read.parquet(src_dir)
    df.repartition(n_target).write.mode("overwrite").parquet(tmp)
    if not fs.rename(hadoop_path(spark, src_dir), hadoop_path(spark, old)):
        raise RuntimeError(f"compaction commit failed: rename {src_dir} -> {old}")
    if not fs.rename(hadoop_path(spark, tmp), hadoop_path(spark, src_dir)):
        # roll back so the table is never missing
        fs.rename(hadoop_path(spark, old), hadoop_path(spark, src_dir))
        raise RuntimeError(f"compaction commit failed: rename {tmp} -> {src_dir}")
    fs.delete(hadoop_path(spark, old), True)
    stats["compacted"] = True
    return stats
