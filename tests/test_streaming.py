"""Structured Streaming jobs (ST1-ST4): exactly-once file consumption,
archival, crash-resume, stateful sessionization."""

from __future__ import annotations

import glob
import time

import pytest
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.schemas import SILVER_REVIEWS
from ai_powered_e_commerce_analytics_spark.sinks import read_upsert_table
from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
    bronze_to_silver_stream,
    dedup_stream,
    events_hourly_stream,
    interval_join_stream,
    session_window_stream,
    sessionize_stream,
    silver_to_gold_stream,
)
from tests.test_sinks_pipeline import _bronze_rows


def _await(query, timeout=120):
    """Wait for an ``availableNow`` query to drain its input, then stop it.

    A stream whose state uses a processing-time timeout
    (``sessionize_stream``, ``debounce_stream``) never terminates under
    ``availableNow``: Spark keeps planning no-data batches to fire the
    timeouts. Such a query is drained once a batch with no new offsets
    on any source completes after a batch that read rows (a restarted
    query first re-runs its interrupted no-data batch, so that one alone
    does not count). The deadline stays as the fallback. A query that
    failed re-raises its error here, as ``awaitTermination`` does."""
    deadline = time.monotonic() + timeout
    while not query.awaitTermination(0.5):
        if _drained(query.recentProgress) or time.monotonic() > deadline:
            query.stop()
            break


def _drained(progress) -> bool:
    read_rows = False
    for p in progress:
        if p["numInputRows"] > 0:
            read_rows = True
        elif read_rows and all(
            s["startOffset"] == s["endOffset"] for s in p["sources"]
        ):
            return True
    return False


def test_bronze_to_silver_stream(spark, tmp_path):
    bronze = str(tmp_path / "bronze_new")
    silver = str(tmp_path / "silver")
    archive = str(tmp_path / "bronze_old")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_bronze_rows(60)).coalesce(1).write.mode(
        "overwrite"
    ).json(bronze)

    q = bronze_to_silver_stream(spark, bronze, silver, ckpt, archive_dir=archive)
    _await(q)
    out = spark.read.schema(SILVER_REVIEWS).json(f"{silver}/processed_data_*")
    assert out.count() == 60
    assert sorted(r.item_id for r in out.select("item_id").collect()) == list(
        range(1, 61)
    )


def test_stream_exactly_once_resume(spark, tmp_path):
    # Restarting from the same checkpoint must NOT reprocess consumed
    # files; new files are picked up (ST2/ST3).
    bronze = str(tmp_path / "bronze_new")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(_bronze_rows(30)).coalesce(1).write.mode(
        "overwrite"
    ).json(bronze)
    _await(bronze_to_silver_stream(spark, bronze, silver, ckpt))
    n1 = spark.read.schema(SILVER_REVIEWS).json(f"{silver}/processed_data_*").count()
    assert n1 == 30

    # restart with no new files -> nothing new written
    _await(bronze_to_silver_stream(spark, bronze, silver, ckpt))
    n2 = spark.read.schema(SILVER_REVIEWS).json(f"{silver}/processed_data_*").count()
    assert n2 == 30

    # add a new file -> only it is processed
    spark.createDataFrame(_bronze_rows(10, date_prefix="2026-08")).coalesce(
        1
    ).write.mode("append").json(bronze)
    _await(bronze_to_silver_stream(spark, bronze, silver, ckpt))
    n3 = spark.read.schema(SILVER_REVIEWS).json(f"{silver}/processed_data_*").count()
    assert n3 == 40


def test_silver_to_gold_stream(spark, tmp_path):
    bronze = str(tmp_path / "b")
    silver = str(tmp_path / "s")
    gold = str(tmp_path / "g")
    kpis = str(tmp_path / "k")
    spark.createDataFrame(_bronze_rows(75)).coalesce(1).write.mode(
        "overwrite"
    ).json(bronze)
    _await(bronze_to_silver_stream(spark, bronze, silver, str(tmp_path / "c1")))

    q = silver_to_gold_stream(
        spark, f"{silver}/processed_data_*", gold, kpis, str(tmp_path / "c2")
    )
    _await(q)
    user = read_upsert_table(spark, f"{kpis}/user_kpis")
    assert user.count() > 0
    assert glob.glob(f"{gold}/batch_*/*.json")


def test_full_medallion_chain_nested_dirs(spark, tmp_path):
    # Regression: sinks write timestamped per-batch SUBDIRS
    # (bronze/new/{ts}_{uuid}/part-*.json), so every downstream reader
    # must recurse — a chained collector -> review -> etl run previously
    # read 0 rows. Top-level dirs here on purpose; no globs.
    from ai_powered_e_commerce_analytics_spark.pipeline import run_collector

    bronze = str(tmp_path / "bronze_new")
    silver = str(tmp_path / "silver")
    gold = str(tmp_path / "gold")
    kpis = str(tmp_path / "kpis")
    rows = [r.asDict() for r in spark.createDataFrame(_bronze_rows(25)).collect()]
    for r in rows:
        del r["id"], r["shop_id"]  # collector assigns these from pools
    assert run_collector(spark, lambda: rows, bronze, pulls=1) == {"rows": 25}

    _await(bronze_to_silver_stream(spark, bronze, silver, str(tmp_path / "c1")))
    _await(silver_to_gold_stream(spark, silver, gold, kpis, str(tmp_path / "c2")))

    user = read_upsert_table(spark, f"{kpis}/user_kpis")
    date = read_upsert_table(spark, f"{kpis}/date_kpis")
    assert user.count() > 0 and date.count() > 0


def test_events_hourly_stream_watermark(spark, tmp_path):
    # availableNow over a file source; watermark closes all windows.
    src = str(tmp_path / "events")
    rows = [
        (i, f"2024-01-01 0{i % 3}:15:00", "click", 1.0 * i) for i in range(30)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).coalesce(1).write.mode("overwrite").json(src)

    stream = (
        spark.readStream.schema("event_id long, ts string, event_type string, value double")
        .json(src)
        .withColumn("ts_utc", F.to_timestamp("ts"))
    )
    agg = events_hourly_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("hourly")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.hour.strftime("%H"), r.n_events)
        for r in spark.table("hourly").collect()
    }
    assert got == {("00", 10), ("01", 10), ("02", 10)}


def test_dedup_stream_within_watermark(spark, tmp_path):
    # Ingestion-time exact dedup: duplicate event_ids across files
    # collapse to the first occurrence; watermark bounds the state.
    src = str(tmp_path / "dupes")
    rows = [(i % 10, f"2024-01-01 00:{i % 50:02d}:00") for i in range(40)]
    spark.createDataFrame(rows, "event_id long, ts string").coalesce(
        1
    ).write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("event_id long, ts string")
        .json(src)
        .withColumn("ts_utc", F.to_timestamp("ts"))
    )
    q = (
        dedup_stream(stream, ["event_id"], event_time="ts_utc")
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(r.event_id for r in spark.table("deduped").collect())
    assert got == list(range(10))


def test_near_dedup_stream_across_batches(spark, tmp_path):
    # Streaming LSH near-dup: a doc arriving in a LATER micro-batch that
    # is a near-duplicate (one word changed) of an earlier doc loses its
    # colliding band rows to checkpointed band-key state and is dropped;
    # genuinely new docs survive. Band keys are byte-identical to the
    # batch dedup_minhash_lsh (shared minhash_band_sig_cols).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        near_dedup_stream,
        near_dedup_survivors,
    )

    src = str(tmp_path / "docs")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "c")
    base = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the plain in spain and stars shine bright above the quiet town"
    )
    other = (
        "entirely different content about spark structured streaming "
        "watermarks state stores and exactly once file processing modes"
    )
    fresh = (
        "yet another unrelated document mentioning parquet manifests "
        "atomic renames bucket layouts and last writer wins merge rules"
    )

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string, ts string")
            .json(src)
            .withColumn("ts_utc", F.to_timestamp("ts"))
            .drop("ts")
        )
        deduped = near_dedup_stream(stream, event_time="ts_utc")
        q = (
            deduped.writeStream.foreachBatch(
                lambda b, bid: near_dedup_survivors(b)
                .select("doc_id")
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    spark.createDataFrame(
        [(1, base, "2024-01-01 00:00:00"), (2, other, "2024-01-01 00:01:00")],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("overwrite").json(src)
    run_stream()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}

    # batch 2: doc 3 = near-dup of doc 1 (one word changed), doc 4 = new
    near = base.replace("quiet town", "quiet dawn")
    spark.createDataFrame(
        [(3, near, "2024-01-01 00:02:00"), (4, fresh, "2024-01-01 00:03:00")],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("append").json(src)
    run_stream()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 4}


def test_near_dedup_stream_short_docs_pass_through(spark, tmp_path):
    # Docs with < SHINGLE_K words have an EMPTY shingle set, hence no LSH
    # signal. Regression: their band signatures used to collapse onto one
    # identical empty-string key, so every short doc after the first was
    # silently dropped. They must now pass through as unique (batch
    # parity: _lsh_verified_pairs filters size(sh) > 0, so short docs
    # always survive the batch dedup too), while long near-dups still
    # drop via band state.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        near_dedup_stream,
        near_dedup_survivors,
    )

    src = str(tmp_path / "docs")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "c")
    long_a = (
        "the quick brown fox jumps over the lazy dog while rain falls on "
        "the plain in spain and stars shine bright above the quiet town"
    )

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string, ts string")
            .json(src)
            .withColumn("ts_utc", F.to_timestamp("ts"))
            .drop("ts")
        )
        deduped = near_dedup_stream(stream, event_time="ts_utc")
        q = (
            deduped.writeStream.foreachBatch(
                lambda b, bid: near_dedup_survivors(b)
                .select("doc_id")
                .write.mode("append")
                .parquet(out)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    spark.createDataFrame(
        [
            (1, "hello world", "2024-01-01 00:00:00"),
            (2, "hi", "2024-01-01 00:00:30"),
            (3, long_a, "2024-01-01 00:01:00"),
            (6, None, "2024-01-01 00:01:30"),
        ],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("overwrite").json(src)
    run_stream()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 3, 6}

    # later batch: two more short docs + one true near-dup of doc 3
    near = long_a.replace("quiet town", "quiet dawn")
    spark.createDataFrame(
        [
            (4, "ok bye", "2024-01-01 00:02:00"),
            (5, near, "2024-01-01 00:03:00"),
        ],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("append").json(src)
    run_stream()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        1, 2, 3, 4, 6,
    }


def test_documents_ingest_replay_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: a crash between the corpus write and
    # the checkpoint commit replays the batch. The batch_id-keyed
    # partition dir must make that replay rewrite-in-place — corpus rows
    # must NOT duplicate. Simulated by deleting the last commit marker
    # and restarting from the same checkpoint.
    import os

    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    docs = [
        (1, "structured streaming state stores keep band keys inside the "
            "watermark window for near duplicate detection at ingest time",
         "2024-01-01 00:00:00"),
        (2, "a completely different document about optimistic concurrency "
            "manifest commits and one generation retention grace windows",
         "2024-01-01 00:01:00"),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, ts string"
    ).coalesce(1).write.mode("overwrite").json(src)
    _await(documents_ingest_stream(spark, src, out, ckpt))
    first = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    assert [d for d, _ in first] == [1, 2]

    # crash simulation: the sink ran but the commit marker was lost
    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):  # local checksum-fs sibling
        os.remove(crc)
    _await(documents_ingest_stream(spark, src, out, ckpt))
    replayed = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    assert replayed == first, "replay duplicated corpus rows"


def test_session_revenue_stream_matches_batch(spark, tmp_path):
    # Batch/stream parity for per-session revenue attribution: the same
    # planted event sequence through (a) the batch events_session_revenue
    # plan and (b) the stateful sessionize_stream fold must yield the
    # same (user, start, end, n_events, revenue) sessions. Far-future
    # sentinel events close each user's final real session in the stream;
    # the sentinel's own (still-open) session is excluded from expected.
    from ai_powered_e_commerce_analytics_spark.plans.relational import (
        events_session_revenue,
    )

    sentinel_us = 10_000_000_000_000
    rows = [
        # user 7, session 1: 3 events, revenue 12.34 + 5.00
        (1, 7, "view", None, 0),
        (2, 7, "purchase", 12.34, 60_000_000),
        (3, 7, "purchase", 5.0, 120_000_000),
        # gap 2000 s > 1800 s: session 2: 2 events, revenue 2.50
        (4, 7, "view", None, 2_120_000_000),
        (5, 7, "purchase", 2.5, 2_180_000_000),
        (6, 7, "view", None, sentinel_us),
        # user 8: single-event purchase session
        (7, 8, "purchase", 9.99, 0),
        (8, 8, "view", None, sentinel_us),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double, ts_us long"
    )

    sf = str(tmp_path / "sfE")
    df.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.timestamp_micros("ts_us").alias("ts"),
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    batch = {
        (r.user_id, r.start_us, r.end_us, r.n_events, r.revenue)
        for r in events_session_revenue(spark, sf).collect()
        if r.start_us != sentinel_us  # stream's still-open sentinel session
    }

    src = str(tmp_path / "sev")
    df.coalesce(1).write.mode("overwrite").json(src)
    stream = spark.readStream.schema(
        "event_id long, user_id long, event_type string, value double, ts_us long"
    ).json(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("rev_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.revenue)
        for r in spark.table("rev_sessions").collect()
    }
    assert got == batch
    assert (7, 0, 120_000_000, 3, 17.34) in got


def test_session_window_batch_matches_stateful_twin(spark, tmp_path):
    # The declarative session_window form over a BATCH frame must
    # produce the same closed sessions as the stateful twin's contract
    # (gaps strictly off the 30-min boundary — the two conventions
    # differ only at the measure-zero exact-boundary case).
    rows = [
        (7, "view", None, 0),
        (7, "purchase", 12.34, 60_000_000),
        (7, "purchase", 5.0, 120_000_000),
        # gap 2000 s > 1800 s: new session
        (7, "view", None, 2_120_000_000),
        (7, "purchase", 2.5, 2_180_000_000),
        # user 8: single-event purchase session
        (8, "purchase", 9.99, 0),
        # user 9: gap 1799 s < 1800 s keeps ONE session
        (9, "view", None, 0),
        (9, "view", None, 1_799_000_000),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_type string, value double, ts_us long"
    ).select("user_id", "event_type", "value",
             F.timestamp_micros("ts_us").alias("ts"))
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.revenue)
        for r in session_window_stream(df).collect()
    }
    assert got == {
        (7, 0, 120_000_000, 3, 17.34),
        (7, 2_120_000_000, 2_180_000_000, 2, 2.5),
        (8, 0, 0, 1, 9.99),
        (9, 0, 1_799_000_000, 2, 0.0),
    }


def test_session_window_stream_emits_on_watermark(spark, tmp_path):
    # Streaming path: closed sessions emit once the event-time
    # watermark passes; the sentinel file (one maxFilesPerTrigger=1
    # micro-batch later) advances it far past every real session.
    import json as _json
    import os as _os

    src = str(tmp_path / "swsrc")
    _os.makedirs(src)
    real = [
        {"user_id": 7, "event_type": "purchase", "value": 12.34, "ts_us": 0},
        {"user_id": 7, "event_type": "view", "value": None,
         "ts_us": 60_000_000},
        {"user_id": 8, "event_type": "purchase", "value": 9.99, "ts_us": 0},
    ]
    sentinel = [{"user_id": 1, "event_type": "view", "value": None,
                 "ts_us": 10_000_000_000_000}]
    for i, batch in enumerate((real, sentinel)):
        with open(f"{src}/f{i}.json", "w") as fh:
            for r in batch:
                fh.write(_json.dumps(r) + "\n")
    stream = (
        spark.readStream.schema(
            "user_id long, event_type string, value double, ts_us long"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .select("user_id", "event_type", "value",
                F.timestamp_micros("ts_us").alias("ts"))
    )
    q = (
        session_window_stream(stream)
        .writeStream.format("memory")
        .queryName("sw_sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "swc"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events,
         r.revenue)
        for r in spark.table("sw_sessions").collect()
    }
    # the sentinel's own session is still open (watermark == its ts - 1h)
    assert got == {
        (7, 0, 60_000_000, 2, 12.34),
        (8, 0, 0, 1, 9.99),
    }


def test_sessionize_stream_stateful(spark, tmp_path):
    # applyInPandasWithState: sessions close when a later event arrives
    # beyond the gap (same 30-min rule as the batch query).
    src = str(tmp_path / "sess")
    hour_us = 3600 * 1_000_000
    rows = [
        # user 7: 3 events tight, then a 2h gap, then 2 events
        (7, 0), (7, 60_000_000), (7, 120_000_000),
        (7, 2 * hour_us), (7, 2 * hour_us + 1),
    ]
    spark.createDataFrame(rows, "user_id long, ts_us long").coalesce(
        1
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("user_id long, ts_us long").json(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    closed = spark.table("sessions").collect()
    # the first session (3 events) closes when the post-gap event arrives
    assert len(closed) == 1
    assert (closed[0].n_events, closed[0].session_start_us, closed[0].session_end_us) == (
        3, 0, 120_000_000,
    )


def test_documents_ingest_stream_job(spark, tmp_path):
    # Deployable ingestion job: two file drops, near-dups across them are
    # kept out of the corpus parquet; survivors carry their TEXT (payload
    # rides only the band-0 row through the stateful shuffle).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "incoming")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    base = (
        "structured streaming keeps band key state inside the watermark "
        "window so near duplicates never reach the corpus at all today"
    )
    other = (
        "completely unrelated words about broadcast joins adaptive "
        "execution and partition pruning inside the catalyst optimizer"
    )
    spark.createDataFrame(
        [(1, base, "2024-01-01 00:00:00"), (2, other, "2024-01-01 00:01:00")],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("overwrite").json(src)
    _await(documents_ingest_stream(spark, src, out, ckpt))

    near = base.replace("today", "tonight")
    fresh = (
        "a third document mentioning manifests atomic commits bucket "
        "layouts retention cohorts and funnel conversion analytics"
    )
    spark.createDataFrame(
        [(3, near, "2024-01-01 00:02:00"), (4, fresh, "2024-01-01 00:03:00")],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("append").json(src)
    _await(documents_ingest_stream(spark, src, out, ckpt))

    got = {r.doc_id: r.text for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2, 4}
    assert got[1] == base and got[4] == fresh  # payload survived intact


def test_funnel_stream_stages_across_batches(spark, tmp_path):
    # Stateful streaming funnel: a user's view arrives in batch 1, the
    # click+purchase in batch 2 — stage must advance against state held
    # across micro-batches, honoring the strictly-after ordering rule
    # (a purchase BEFORE the click does not count).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import funnel_stream

    src = str(tmp_path / "fev")
    out = str(tmp_path / "progress")

    def run_stream():
        stream = spark.readStream.schema(
            "user_id long, event_type string, ts_us long"
        ).json(src)
        q = (
            funnel_stream(stream)
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    batch1 = [
        (7, "view", 100),
        (7, "purchase", 150),   # before any click -> must NOT count
        (9, "click", 100),      # click with no prior view -> stage 0
    ]
    spark.createDataFrame(
        batch1, "user_id long, event_type string, ts_us long"
    ).coalesce(1).write.mode("overwrite").json(src)
    run_stream()
    got = {r.user_id: r.stage for r in spark.read.parquet(out).collect()}
    assert got == {7: 1, 9: 0}

    batch2 = [
        (7, "click", 200),
        (7, "purchase", 300),
        (9, "view", 200),
    ]
    spark.createDataFrame(
        batch2, "user_id long, event_type string, ts_us long"
    ).coalesce(1).write.mode("append").json(src)
    run_stream()
    rows = {(r.user_id, r.stage) for r in spark.read.parquet(out).collect()}
    assert (7, 3) in rows and (9, 1) in rows


def test_transition_stream_matches_batch_matrix(spark, tmp_path):
    # Summing the streaming increments over two in-order batches (one
    # user's stream SPLIT across the batch boundary) must equal the
    # batch events_transition_matrix over the full event set — including
    # the boundary bigram (last event of batch 1 → first of batch 2).
    from ai_powered_e_commerce_analytics_spark.plans.relational import (
        events_transition_matrix,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        transition_stream,
    )

    rows = [
        (1, 7, "view", 100),
        (2, 7, "click", 200),
        (3, 8, "view", 150),
        # batch boundary for user 7 between event 2 and 4
        (4, 7, "purchase", 300),
        (5, 7, "view", 400),
        (6, 8, "view", 250),
    ]
    batch1, batch2 = rows[:3], rows[3:]

    src = str(tmp_path / "tev")
    out = str(tmp_path / "tinc")

    def run_stream():
        stream = spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts_us long"
        ).json(src)
        q = (
            transition_stream(stream)
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    schema = "event_id long, user_id long, event_type string, ts_us long"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    run_stream()
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    run_stream()

    got = {
        (r.prev_event, r.next_event): r.total
        for r in spark.read.parquet(out)
        .groupBy("prev_event", "next_event")
        .agg(F.sum("n_transitions").alias("total"))
        .collect()
    }

    sf = str(tmp_path / "sfT")
    import os

    os.makedirs(sf)
    spark.createDataFrame(rows, schema).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros("ts_us").alias("ts"),
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    want = {
        (r.prev_event, r.next_event): r.n_transitions
        for r in events_transition_matrix(spark, sf).collect()
    }
    assert got == want
    assert got[("click", "purchase")] == 1  # the boundary bigram


def test_funnel_stream_watermarked_out_of_order(spark, tmp_path):
    # The watermark-buffered funnel must fold in EVENT-TIME order even
    # when arrival order is scrambled across micro-batches: user 7's
    # click+purchase arrive in batch 1, the earlier view only in batch 2.
    # The plain greedy funnel would lose the click+purchase forever
    # (state never rewinds); the buffered form folds all three correctly
    # once the watermark passes them.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        funnel_stream_watermarked,
    )

    src = str(tmp_path / "wmev")
    out = str(tmp_path / "wmprog")

    def run_stream():
        stream = (
            spark.readStream.schema(
                "user_id long, event_type string, ts string"
            )
            .json(src)
            .withColumn("ts_utc", F.to_timestamp("ts"))
        )
        q = (
            funnel_stream_watermarked(stream, watermark="10 minutes")
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    import glob as _glob

    def folded():
        if not _glob.glob(f"{out}/*/*.parquet") and not _glob.glob(
            f"{out}/*.parquet"
        ):
            return {}
        return {r.user_id: r.stage for r in spark.read.parquet(out).collect()}

    # batch 1: click+purchase arrive FIRST (view not yet); watermark is
    # still 0 during this batch, so everything buffers, nothing folds.
    batch1 = [
        (7, "click", "2024-01-01 00:03:20"),
        (7, "purchase", "2024-01-01 00:05:00"),
        (99, "view", "2024-01-01 00:10:00"),
    ]
    spark.createDataFrame(
        batch1, "user_id long, event_type string, ts string"
    ).coalesce(1).write.mode("overwrite").json(src)
    run_stream()
    assert 7 not in folded()

    # batch 2: the EARLIER view arrives out of order — admissible, since
    # the watermark is only 00:00:00 (batch-1 max 00:10 − 10 min), and
    # 00:01:40 is not late. Still nothing folds (all events > watermark).
    batch2 = [(7, "view", "2024-01-01 00:01:40")]
    spark.createDataFrame(
        batch2, "user_id long, event_type string, ts string"
    ).coalesce(1).write.mode("append").json(src)
    run_stream()
    assert 7 not in folded()

    # batch 3: an advancer event pushes the watermark past user 7's
    # events (02:10 − 10 min = 02:00) — the buffer folds in EVENT-TIME
    # order: view(00:01:40) → click(00:03:20) → purchase(00:05:00).
    batch3 = [(99, "view", "2024-01-01 02:10:00")]
    spark.createDataFrame(
        batch3, "user_id long, event_type string, ts string"
    ).coalesce(1).write.mode("append").json(src)
    run_stream()
    rows = {
        (r.user_id, r.stage) for r in spark.read.parquet(out).collect()
    }
    assert (7, 3) in rows, rows


def test_interval_join_stream(spark, tmp_path):
    # Streaming twin of the batch bucketed range join: purchases pick up
    # same-user clicks from the trailing hour; zero-click purchases
    # survive (outer). One user with clicks at :00/:30/:59, purchases at
    # :45 (matches 2) and 01:30 (matches the :59 click plus the :30
    # click sitting exactly on the inclusive p_ts - 1h boundary, same
    # contract as the batch twin); another user with a purchase and no
    # clicks at all.
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:30:00", 2.0),
        (1, "2024-01-01 00:59:00", 4.0),
    ]
    purchases = [
        (101, 1, "2024-01-01 00:45:00"),
        (102, 1, "2024-01-01 01:30:00"),
        (103, 2, "2024-01-01 00:45:00"),
        # watermark advancer: far-future purchase lets Spark close the
        # outer-join state for everything above. Its OWN outer row never
        # emits (nothing advances the watermark past the stream max).
        (999, 3, "2024-01-02 12:00:00"),
    ]
    spark.createDataFrame(
        clicks, "user_id long, ts string, value double"
    ).coalesce(1).write.mode("overwrite").json(csrc)
    spark.createDataFrame(
        purchases, "event_id long, user_id long, ts string"
    ).coalesce(1).write.mode("overwrite").json(psrc)

    cs = (
        spark.readStream.schema("user_id long, ts string, value double")
        .json(csrc)
        .withColumn("ts_utc", F.to_timestamp("ts"))
    )
    ps = (
        spark.readStream.schema("event_id long, user_id long, ts string")
        .json(psrc)
        .withColumn("ts_utc", F.to_timestamp("ts"))
    )
    q = (
        interval_join_stream(ps, cs, watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("ivj")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {
        (r.event_id, r.click_value)
        for r in spark.table("ivj").collect()
    }
    assert got == {
        (101, 1.0),
        (101, 2.0),
        (102, 2.0),
        (102, 4.0),
        (103, None),
    }


def test_documents_ingest_stream_quality_gate(spark, tmp_path):
    # quality_gate=True: rule-battery rejects never reach the corpus (or
    # LSH state); the stream applies the SAME rule expressions as the
    # batch battery, so the corpus must equal the batch keep-set.
    from ai_powered_e_commerce_analytics_spark.plans.filtering import (
        with_quality_verdict,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    docs = [
        # passes every rule: 20 distinct words, stopword present,
        # avg token length 4.9, no repetition
        (1, "the quick brown goats wander north beyond amber ridge while "
            "seven misty rivers braid under pale light near stone arch",
         "2024-01-01 00:00:00"),
        # r_too_short (2 tokens) — also a SHINGLE_K short doc, so it
        # exercises the gate, not the short-doc dedup pass-through
        (2, "tiny doc", "2024-01-01 00:01:00"),
        # r_repetitive + r_low_diversity + r_no_stopword
        (3, " ".join(["spam"] * 30), "2024-01-01 00:02:00"),
    ]
    frame = spark.createDataFrame(docs, "doc_id long, text string, ts string")
    expected = {
        r.doc_id for r in with_quality_verdict(frame).where("keep").collect()
    }
    assert 1 in expected and 2 not in expected and 3 not in expected

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "corpus", "ck"))
    frame.coalesce(1).write.mode("overwrite").json(src)
    q = documents_ingest_stream(spark, src, out, ckpt, quality_gate=True)
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == expected == {1}


def test_cms_counters_stream_merges_to_batch_sketch(spark, tmp_path):
    # Mergeability proof: the streamed sketch (2 file drops, counters
    # summed across batch partitions) must be BIT-IDENTICAL to the batch
    # sketch computed over the union of the same texts — CMS merge is
    # counter addition, same seeds/width on both paths.
    from pyspark.sql import functions as F

    from ai_powered_e_commerce_analytics_spark.functions import tokens
    from ai_powered_e_commerce_analytics_spark.plans.approx import (
        cms_bucket_structs,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        cms_counters_stream,
        read_cms_counters,
    )

    batches = [
        [(1, "spark shuffles hash joins and window functions", "2024-01-01 00:00:00"),
         (2, "joins and hash tables and more joins", "2024-01-01 00:01:00")],
        [(3, "window functions over hash partitions", "2024-01-01 01:00:00"),
         (4, "spark spark spark", "2024-01-01 01:01:00")],
    ]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "cms", "ck"))
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).coalesce(1).write.mode("overwrite").json(f"{src}/drop{i}")
        q = cms_counters_stream(spark, src, out, ckpt)
        q.awaitTermination(120)

    streamed = {
        (r.j, r.bucket): r.c for r in read_cms_counters(spark, out).collect()
    }
    batch = {
        (r.j, r.bucket): r.c
        for r in (
            spark.createDataFrame(all_rows, "doc_id long, text string, ts string")
            .select(
                F.explode(
                    F.flatten(F.transform(tokens("text"), cms_bucket_structs))
                ).alias("b")
            )
            .groupBy(F.col("b.j").alias("j"), F.col("b.bucket").alias("bucket"))
            .agg(F.count("*").alias("c"))
            .collect()
        )
    }
    assert streamed == batch and len(streamed) > 0


def test_ingest_then_compact_roundtrip(spark, tmp_path):
    # The full corpus maintenance path: streaming ingest (near-dedup,
    # batch_id-partitioned small files) followed by compaction — rows
    # identical before and after, one file out, leftover-refusal works.
    from ai_powered_e_commerce_analytics_spark.sinks import (
        compact_parquet_dir,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src, out, ckpt = (str(tmp_path / d) for d in ("in", "corpus", "ck"))
    drops = [
        [(1, "structured streaming keeps band keys in state inside the "
             "watermark window for near duplicate detection", "2024-01-01 00:00:00")],
        [(2, "a different document about compaction swapping directories "
             "atomically after rewriting small files", "2024-01-01 00:30:00")],
    ]
    for i, rows in enumerate(drops):
        spark.createDataFrame(
            rows, "doc_id long, text string, ts string"
        ).coalesce(1).write.mode("overwrite").json(f"{src}/drop{i}")
        documents_ingest_stream(spark, src, out, ckpt).awaitTermination(120)

    before = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    assert [d for d, _ in before] == [1, 2]
    stats = compact_parquet_dir(spark, out, target_bytes_per_file=1 << 30)
    assert stats["compacted"]
    after = sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(out).collect()
    )
    assert after == before


def test_debounce_stream_matches_batch_rule(spark, tmp_path):
    # Stateful streaming debounce: same 4h gap-to-previous-RAW-event rule
    # as the batch events_dedup_within_window query, with state carried
    # across micro-batches (id4's 1h gap is measured against id2 seen in
    # the PREVIOUS batch; id6 sits exactly on the inclusive >= boundary).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        DEBOUNCE_WINDOW_US,
        debounce_stream,
    )

    H = 3_600_000_000
    assert DEBOUNCE_WINDOW_US == 4 * H
    src = str(tmp_path / "dev")
    out = str(tmp_path / "kept")

    def run_stream():
        stream = spark.readStream.schema(
            "user_id long, event_type string, event_id long, ts_us long"
        ).json(src)
        q = (
            debounce_stream(stream)
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    schema = "user_id long, event_type string, event_id long, ts_us long"
    batch1 = [
        (1, "click", 1, 0),
        (1, "click", 2, 1 * H),      # 1h after id1 -> suppressed
        (2, "view", 3, 0),
    ]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    run_stream()
    assert {r.event_id for r in spark.read.parquet(out).collect()} == {1, 3}

    batch2 = [
        (1, "click", 4, 2 * H),      # 1h after id2 (prev RAW) -> suppressed
        (1, "click", 5, 13 * H),     # 11h gap -> kept
        (2, "view", 6, 4 * H),       # exactly 4h -> kept (inclusive)
    ]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    run_stream()
    got = {r.event_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 3, 5, 6}

    # Batch twin on the union of both batches: identical kept set.
    from pyspark.sql.window import Window

    all_ev = spark.createDataFrame(batch1 + batch2, schema)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    batch_kept = {
        r.event_id
        for r in all_ev.withColumn("gap", gap)
        .where(F.coalesce(F.col("gap") >= DEBOUNCE_WINDOW_US, F.lit(True)))
        .collect()
    }
    assert batch_kept == got


def test_ingest_stream_observed_metrics(spark, tmp_path):
    # Spark-native observability: every micro-batch publishes row counts
    # through observe() -> StreamingQueryProgress.observedMetrics, so a
    # dashboard reads ingest/keep rates without re-scanning the sink.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    # passes every battery rule (incl. the 4.1-5.0 avg-token-length band
    # tuned to the synthetic corpus vocabulary)
    good = (
        "table value batch window merge spark group scan the fast slow "
        "part hash query line sort order data row small"
    )
    spark.createDataFrame(
        [
            (1, good, "2024-01-01 00:00:00"),
            (2, "tiny", "2024-01-01 00:01:00"),  # fails the rule battery
        ],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("overwrite").json(src)
    q = documents_ingest_stream(
        spark,
        src,
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        quality_gate=True,
    )
    _await(q)
    seen = kept = 0
    for p in q.recentProgress:
        om = p["observedMetrics"] if "observedMetrics" in p else {}
        if "docs_in" in om:
            seen += om["docs_in"][0]  # metric rows surface as lists
        if "docs_kept" in om:
            kept += om["docs_kept"][0]
    assert seen == 2
    assert kept == 1


def test_hourly_anomaly_stream_flags_spike(spark, tmp_path):
    # Metrics-then-score: hourly counts upsert into the keyed state
    # table per micro-batch; the z-score pass runs on the contracted
    # hourly series and flags a planted 100x spike. Late batches UPDATE
    # the hour's count via the upsert key (replay/late-data safe).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        hourly_anomaly_stream,
    )

    src = str(tmp_path / "ev")
    state = str(tmp_path / "state")
    flags = str(tmp_path / "flags")

    rows = []
    eid = 0
    # 9 calm hours at 5 events, then a 500-event spike hour
    for h in range(9):
        for _ in range(5):
            rows.append((eid, f"2024-01-01 {h:02d}:10:00")); eid += 1
    for _ in range(500):
        rows.append((eid, "2024-01-01 09:30:00")); eid += 1
    stream_schema = "event_id long, ts string"
    spark.createDataFrame(rows, stream_schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)

    events = (
        spark.readStream.schema(stream_schema)
        .json(src)
        .withColumn("ts_utc", F.to_timestamp("ts"))
    )
    q = hourly_anomaly_stream(
        spark, events, state, flags, str(tmp_path / "c")
    )
    _await(q)

    got = {r["hour"]: r for r in spark.read.parquet(flags).collect()}
    assert len(got) == 10
    spike = got["2024-01-01 09:00:00"]
    assert spike["n_events"] == 500
    assert spike["is_anomaly"] is True and spike["z"] > 2
    # calm full-window hours are not flagged
    assert got["2024-01-01 08:00:00"]["is_anomaly"] is False


def test_value_histogram_stream_percentiles(spark, tmp_path):
    # Streamed mergeable value histogram (the quantile member of the
    # streamed-sketch family): (1) the merged histogram is BIT-equal
    # to a batch histogram over the same rows at the same width,
    # (2) percentile estimates sit within the exact one-bucket-width
    # error bound of the true order statistic, (3) replay is a no-op.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        PCT_STREAM_BUCKET_C,
        read_streamed_percentiles,
        value_histogram_stream,
    )

    src = str(tmp_path / "orders")
    out = str(tmp_path / "hist")
    rows1 = [(i, 100.0 + (i * 37) % 5000, "2024-01-01") for i in range(400)]
    rows2 = [(1000 + i, 2500.0 + (i * 91) % 9000, "2024-01-02")
             for i in range(600)]
    schema = "order_id long, price double, ts string"

    def run():
        q = value_histogram_stream(
            spark, src, out, str(tmp_path / "c")
        )
        _await(q)

    # polling the monitor BEFORE any batch commits must report the
    # n=0 shape, not raise (the dashboard-poll race)
    empty = read_streamed_percentiles(spark, out, qs=(0.5,))
    assert empty["n"] == 0 and empty["p0.5"] is None

    spark.createDataFrame(rows1 + [(99, None, "2024-01-01")], schema
                          ).coalesce(1).write.mode("overwrite").json(src)
    run()
    spark.createDataFrame(rows2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    run()

    # (1) merged stream == batch histogram (same floor kernel off the
    # shared cents() policy), bucket for bucket
    import math as _math

    from ai_powered_e_commerce_analytics_spark.plans.spec import cents

    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    batch_hist = {
        r["bucket"]: r["c"]
        for r in all_rows.select(
            F.floor(cents("price") / F.lit(PCT_STREAM_BUCKET_C)).alias(
                "bucket"
            )
        ).groupBy("bucket").agg(F.count("*").alias("c")).collect()
    }
    merged = {
        r["bucket"]: r["c"]
        for r in spark.read.parquet(out)
        .groupBy("bucket").agg(F.sum("c").alias("c")).collect()
    }
    assert merged == batch_hist

    # (2) the documented contract: the estimate is within one bucket
    # width of the FLOOR-RANK ORDER STATISTIC at floor(q*(n-1)) — not
    # of an interpolating percentile, which can sit farther away when
    # consecutive order statistics straddle a sparse gap
    qs = (0.5, 0.9, 0.99)
    est = read_streamed_percentiles(spark, out, qs=qs)
    assert est["n"] == 1000
    prices = sorted(p for _, p, _ in rows1 + rows2)
    width_dollars = PCT_STREAM_BUCKET_C / 100.0
    for q in qs:
        order_stat = prices[_math.floor(q * (len(prices) - 1))]
        assert abs(est[f"p{q}"] - order_stat) <= width_dollars, (
            q, est, order_stat,
        )

    # (3) replay with no new input is a no-op: estimates and merged
    # buckets are unchanged from before the replay
    before = read_streamed_percentiles(spark, out, qs=qs)
    run()
    assert read_streamed_percentiles(spark, out, qs=qs) == before
    merged2 = {
        r["bucket"]: r["c"]
        for r in spark.read.parquet(out)
        .groupBy("bucket").agg(F.sum("c").alias("c")).collect()
    }
    assert merged2 == batch_hist


def test_wau_sketches_stream_matches_batch_estimates(spark, tmp_path):
    # Batch/stream parity for the sliding-WAU HLL pair (the CMS proof
    # pattern): per-day sketches streamed in two file drops, unioned on
    # read, must yield the SAME trailing-window estimates as one batch
    # sketch pass over the union of the rows.
    from pyspark.sql import functions as F

    from ai_powered_e_commerce_analytics_spark.plans.approx import (
        wau_estimate_from_day_sketches,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        read_wau_estimates,
        wau_sketches_stream,
    )

    batches = [
        [(u, f"2024-01-0{d} 0{u % 10}:00:00")
         for d in (1, 2, 3) for u in range(d, 40 + d)],
        [(u, f"2024-01-0{d} 0{u % 10}:30:00")
         for d in (2, 4) for u in range(100, 140, d)] + [(None, "2024-01-02 09:00:00")],
    ]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "wau", "ck"))
    all_rows = []
    for i, rows in enumerate(batches):
        all_rows += rows
        spark.createDataFrame(
            rows, "user_id long, ts string"
        ).coalesce(1).write.mode("overwrite").json(f"{src}/drop{i}")
        q = wau_sketches_stream(spark, src, out, ckpt)
        q.awaitTermination(120)

    streamed = {
        str(r.spine_day): r.wau_est
        for r in read_wau_estimates(spark, out).collect()
    }
    batch_sketches = (
        spark.createDataFrame(all_rows, "user_id long, ts string")
        .where(F.col("user_id").isNotNull())
        .select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    batch = {
        str(r.spine_day): r.wau_est
        for r in wau_estimate_from_day_sketches(batch_sketches).collect()
    }
    assert streamed == batch and len(streamed) >= 7
    # sanity vs exact: spine day 2024-01-04's TRAILING window covers
    # event days 2023-12-29..2024-01-04, i.e. all four event days here
    exact_d4 = len({u for (u, ts) in all_rows
                    if u is not None and ts[:10] <= "2024-01-04"})
    assert abs(streamed["2024-01-04"] - exact_d4) <= 0.05 * exact_d4


def test_bloom_first_seen_stream_suppresses_cross_batch_dups(spark, tmp_path):
    # Bloom-state first-seen gate: constant state forever, duplicates
    # never pass twice — across batches AND within a batch (lowest
    # doc_id deterministically wins an intra-batch duplicate group).
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
    )

    src = str(tmp_path / "keys")
    out = str(tmp_path / "seen")

    def run_stream():
        stream = spark.readStream.schema("doc_id long, key string").json(src)
        q = (
            bloom_first_seen_stream(stream)
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    schema = "doc_id long, key string"
    # ka duplicated; doc 10's NULL key must be dropped (not coerced to
    # the string 'None' and deduped as a real key) and the NULL doc_id
    # must be dropped (not crash the stream as float-NaN -> int())
    batch1 = [(1, "ka"), (2, "kb"), (3, "ka"), (4, "kc"), (10, None),
              (None, "kz")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    run_stream()
    got1 = {(r.doc_id, r.key) for r in spark.read.parquet(out).collect()}
    assert got1 == {(1, "ka"), (2, "kb"), (4, "kc")}  # doc 3 suppressed

    # batch 2: every batch-1 key again (state carried across restart)
    # plus fresh keys — only the fresh ones may emit
    batch2 = [(5, "ka"), (6, "kb"), (7, "kd"), (8, "kc"), (9, "ke")]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    run_stream()
    got = {(r.doc_id, r.key) for r in spark.read.parquet(out).collect()}
    assert got == got1 | {(7, "kd"), (9, "ke")}

    # replay with no new input: checkpoint makes it a no-op
    run_stream()
    assert {
        (r.doc_id, r.key) for r in spark.read.parquet(out).collect()
    } == got


def test_bloom_first_seen_low_false_drop_at_sized_load(spark, tmp_path):
    # 500 distinct keys against the default 64x128Ki-bit sizing: the
    # realized false-drop rate must be far below 1% (here: zero is
    # overwhelmingly likely, but the assertion allows a stray drop)
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
    )

    src = str(tmp_path / "keys")
    out = str(tmp_path / "seen")
    rows = [(i, f"key_{i:05d}") for i in range(500)]
    spark.createDataFrame(rows, "doc_id long, key string").coalesce(
        2
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id long, key string").json(src)
    q = (
        bloom_first_seen_stream(stream)
        .writeStream.foreachBatch(
            lambda b, bid: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    n = spark.read.parquet(out).count()
    assert n >= 497, n  # <= 3 false drops out of 500 (sized ~0)

    # observability: per-batch seen/kept counts via observedMetrics
    seen = kept = 0
    for p in q.recentProgress:
        om = p["observedMetrics"] if "observedMetrics" in p else {}
        if "bloom_seen_in" in om:
            seen += om["bloom_seen_in"][0]
        if "bloom_seen_kept" in om:
            kept += om["bloom_seen_kept"][0]
    assert seen == 500 and kept == n, (seen, kept, n)

    # saturation monitor: state-store read-back popcount + inversion
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        BLOOM_SEEN_K,
        read_bloom_seen_fill,
    )

    fill = read_bloom_seen_fill(spark, str(tmp_path / "c"))
    assert 0.0 < fill["fill_ratio"] < 0.01  # 500 keys vs 8.4M bits
    assert fill["set_bits"] <= n * BLOOM_SEEN_K
    assert 400 <= fill["est_absorbed_keys"] <= 600, fill
    assert fill["saturation_warning"] is False

    # far from saturation: the warning flag must stay down
    for p in q.recentProgress:
        om = p["observedMetrics"] if "observedMetrics" in p else {}
        if "bloom_seen_kept" in om:
            assert om["bloom_seen_kept"]["saturation_warning"] == 0
            assert om["bloom_seen_kept"]["max_shard_fill"] < 0.01


def test_bloom_first_seen_saturation_warning_trips(spark, tmp_path):
    # VERDICT r8 item 7: past BLOOM_SEEN_FILL_WARN the stream must
    # surface a loud observed metric so an operator rotates to a fresh
    # checkpoint + reseed. Tiny per-call sizing (2 shards x 1024 bits,
    # k=7) saturates with ~300 keys: ~150 keys/shard x 7 bits -> fill
    # ~ 1-exp(-1050/1024) ~ 0.64, past the 0.5 threshold.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
        read_bloom_seen_fill,
    )

    src = str(tmp_path / "keys")
    out = str(tmp_path / "seen")
    rows = [(i, f"key_{i:05d}") for i in range(300)]
    spark.createDataFrame(rows, "doc_id long, key string").coalesce(
        1
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id long, key string").json(src)
    q = (
        bloom_first_seen_stream(
            stream, shards=2, bits_per_shard=1024, k=7
        )
        .writeStream.foreachBatch(
            lambda b, bid: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    # the saturation flag tripped and the fill metric is honest
    warned = max_fill = 0
    for p in q.recentProgress:
        om = p["observedMetrics"] if "observedMetrics" in p else {}
        if "bloom_seen_kept" in om:
            warned = max(warned, om["bloom_seen_kept"]["saturation_warning"])
            max_fill = max(max_fill, om["bloom_seen_kept"]["max_shard_fill"])
    assert warned == 1, q.recentProgress
    assert max_fill >= 0.5, max_fill
    # the emitted-row contract is unchanged: no fill column downstream
    got = spark.read.parquet(out)
    assert set(got.columns) == {"doc_id", "key"}
    # state-store ground truth agrees (per-call sizing passed through)
    # shard size is derived from the checkpointed bitsets themselves —
    # no per-call size knob to forget (code review r9); only k must
    # match the stream's k
    fill = read_bloom_seen_fill(spark, str(tmp_path / "c"), k=7)
    assert fill["fill_ratio"] >= 0.5, fill
    assert fill["m_total_bits"] == 2 * 1024
    # the poll's flag is LEVEL-HELD: unlike the observed metric (which
    # rides on emitted rows and goes NULL once a saturated filter
    # stops emitting), this stays up as long as the fill does
    assert fill["saturation_warning"] is True


def test_bloom_first_seen_rejects_bad_sizing_at_construction(spark):
    # code review r9: a bits_per_shard that is not a multiple of 8
    # previously died mid-stream with a worker IndexError (positions
    # run mod bits_per_shard but the bitset holds bits_per_shard//8
    # bytes); shards=0 silently NULL-collapsed every key into one
    # shard. Both must fail at construction, loudly.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
    )

    stream = spark.readStream.format("rate").load().selectExpr(
        "value AS doc_id", "CAST(value AS STRING) AS key"
    )
    with pytest.raises(ValueError, match="multiple of 8"):
        bloom_first_seen_stream(stream, bits_per_shard=100)
    with pytest.raises(ValueError, match="shards"):
        bloom_first_seen_stream(stream, shards=0)
    with pytest.raises(ValueError, match="k="):
        bloom_first_seen_stream(stream, k=0)


def test_bloom_first_seen_shard_count_change_fails_fast(spark, tmp_path):
    # ADVICE r8: a shard-count change against an existing checkpoint
    # silently remapped keys (absorbed keys pass again). The state now
    # carries its shard-count fingerprint and the fold must refuse.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "keys")
    out = str(tmp_path / "seen")

    def run_stream(n_shards):
        stream = spark.readStream.schema("doc_id long, key string").json(src)
        q = (
            bloom_first_seen_stream(stream, shards=n_shards)
            .writeStream.foreachBatch(
                lambda b, bid: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "c"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    rows = [(i, f"key_{i:04d}") for i in range(40)]
    spark.createDataFrame(rows, "doc_id long, key string").coalesce(
        1
    ).write.mode("overwrite").json(src)
    run_stream(4)
    assert spark.read.parquet(out).count() == 40

    # resume the SAME checkpoint with a different shard count: 40 keys
    # guarantee some land on a shard that already has state -> raise
    more = [(100 + i, f"new_{i:04d}") for i in range(40)]
    spark.createDataFrame(more, "doc_id long, key string").coalesce(
        1
    ).write.mode("append").json(src)
    with pytest.raises(StreamingQueryException, match="shard"):
        run_stream(8)


def test_streamed_percentile_bound_property():
    # VERDICT r9 #6: the bound jobs.py states precisely — for every q,
    # the histogram estimate is within ONE bucket width of the
    # FLOOR-RANK order statistic at floor(q*(n-1)) — proven as a
    # property over arbitrary SIGNED cent lists (negative values are
    # the refund/credit case the signed-floor bucketing exists for;
    # DIV-style truncation toward zero would break the bound in
    # (-width, 0)). Bucketing mirrors the stream kernel's
    # floor(cents / width) on doubles; the CDF walk is the REAL
    # production function, factored out of read_streamed_percentiles.
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        PCT_STREAM_BUCKET_C,
        _histogram_percentiles,
    )

    cents_lists = st.lists(
        st.integers(min_value=-2_000_000, max_value=20_000_000),
        min_size=1,
        max_size=60,
    )
    qs = (0.01, 0.5, 0.9, 0.99, 1.0)

    @settings(max_examples=200, deadline=None)
    @given(cents=cents_lists)
    def check(cents):
        counts: dict[int, int] = {}
        for c in cents:
            b = math.floor(c / PCT_STREAM_BUCKET_C)  # the stream kernel
            counts[b] = counts.get(b, 0) + 1
        est = _histogram_percentiles(sorted(counts.items()), qs)
        assert est["n"] == len(cents)
        ordered = sorted(cents)
        for q in qs:
            stat = ordered[math.floor(q * (len(cents) - 1))]
            err_cents = abs(est[f"p{q}"] * 100.0 - stat)
            assert err_cents <= PCT_STREAM_BUCKET_C, (q, cents)

    check()


def test_streamed_percentile_empty_store_shape():
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        _histogram_percentiles,
    )

    assert _histogram_percentiles([], (0.5, 0.9)) == {
        "n": 0, "p0.5": None, "p0.9": None,
    }


def test_rotate_bloom_first_seen_resets_fill_and_keeps_suppressing(
    spark, tmp_path
):
    # VERDICT r9 #5: drive the tiny-sized gate to saturation_warning,
    # ROTATE (stop -> fresh checkpoint, larger sizing, warmup replay),
    # then prove (a) fill reset below the warn threshold, (b) re-seen
    # warmup keys get ZERO duplicate passes after the reseed window,
    # (c) genuinely new keys still pass, (d) rotating onto a non-fresh
    # checkpoint is refused.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        bloom_first_seen_stream,
        read_bloom_seen_fill,
        rotate_bloom_first_seen,
    )

    src = str(tmp_path / "keys")
    out = str(tmp_path / "seen")
    old_ckpt = str(tmp_path / "c_old")
    rows = [(i, f"key_{i:05d}") for i in range(300)]
    spark.createDataFrame(rows, "doc_id long, key string").coalesce(
        1
    ).write.mode("overwrite").json(src)
    stream = spark.readStream.schema("doc_id long, key string").json(src)

    def sink(b, bid):
        b.write.mode("append").parquet(out)

    q = (
        bloom_first_seen_stream(stream, shards=2, bits_per_shard=1024, k=7)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", old_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert read_bloom_seen_fill(spark, old_ckpt, k=7)["saturation_warning"]

    # rotating onto the SATURATED checkpoint must be refused loudly
    with pytest.raises(ValueError, match="FRESH"):
        rotate_bloom_first_seen(
            spark, q, src, old_ckpt, sink,
            shards=4, bits_per_shard=1 << 15, k=7,
        )

    # rotate: fresh checkpoint, 64x the bits, warmup = aged-out history
    # (keys NOT present in src_dir's retained files). The successor
    # sinks to its OWN dir: the reseed window re-emits each replayed
    # first-seen key ONCE (the documented rotation cost — downstream
    # keyed upserts collapse the cross-generation duplicate), and
    # within the new filter generation a key must never pass twice.
    out2 = str(tmp_path / "seen2")
    new_ckpt = str(tmp_path / "c_new")

    def sink2(b, bid):
        b.write.mode("append").parquet(out2)

    aged = [(1000 + i, f"aged_{i:04d}") for i in range(50)]
    q2 = rotate_bloom_first_seen(
        spark, q, src, new_ckpt, sink2,
        warmup=spark.createDataFrame(aged, "doc_id long, key string"),
        shards=4, bits_per_shard=1 << 15, k=7,
    )
    _await(q2)
    assert not q.isActive
    fill = read_bloom_seen_fill(spark, new_ckpt, k=7)
    assert fill["shards"] == 4
    assert fill["saturation_warning"] is False
    assert fill["fill_ratio"] < 0.1
    emitted = [
        (r.doc_id, r.key) for r in spark.read.parquet(out2).collect()
    ]
    # reseed re-absorbed all 300 retained + 50 warmup keys, each
    # emitted exactly once by the NEW generation (the old generation's
    # false drops now pass — the rotation healed them)
    assert len(set(emitted)) == len(emitted) == 350

    # re-drop BOTH the retained keys and the warmup keys: suppression
    # must continue across the rotation — zero new emissions
    n_before = spark.read.parquet(out2).count()
    spark.createDataFrame(
        rows + aged, "doc_id long, key string"
    ).coalesce(1).write.mode("append").json(src)
    _await(
        bloom_first_seen_stream(
            spark.readStream.schema("doc_id long, key string").json(src),
            shards=4, bits_per_shard=1 << 15, k=7,
        )
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", new_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert spark.read.parquet(out2).count() == n_before

    # a genuinely NEW key still passes through the rotated gate
    spark.createDataFrame(
        [(9999, "brand_new_key")], "doc_id long, key string"
    ).coalesce(1).write.mode("append").json(src)
    _await(
        bloom_first_seen_stream(
            spark.readStream.schema("doc_id long, key string").json(src),
            shards=4, bits_per_shard=1 << 15, k=7,
        )
        .writeStream.foreachBatch(sink2)
        .option("checkpointLocation", new_ckpt)
        .trigger(availableNow=True)
        .start()
    )
    news = [
        r.key for r in spark.read.parquet(out2).collect()
        if r.key == "brand_new_key"
    ]
    assert news == ["brand_new_key"]
