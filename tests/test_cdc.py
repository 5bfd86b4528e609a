"""CDC apply (insert/update/delete MERGE) on the manifest upsert table."""

from __future__ import annotations

import pytest

from ai_powered_e_commerce_analytics_spark.sinks import (
    apply_cdc_parquet,
    read_upsert_table,
    upsert_parquet,
)
from tests.test_streaming import _await


def _rows(spark, table):
    return {
        (r["k"], r["v"]) for r in read_upsert_table(spark, table).collect()
    }


def test_cdc_insert_update_delete(spark, tmp_path):
    table = str(tmp_path / "t")
    seed = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    upsert_parquet(spark, seed, table, "k", num_buckets=4)

    changes = spark.createDataFrame(
        [
            (2, "B", "U"),     # update existing
            (9, "z", "I"),     # insert new
            (1, None, "D"),    # delete existing
            (7, None, "D"),    # delete absent -> no-op
        ],
        "k long, v string, op string",
    )
    apply_cdc_parquet(spark, changes, table, "k", num_buckets=4)
    assert _rows(spark, table) == {(2, "B"), (3, "c"), (9, "z")}

    # time travel: the pre-CDC version is still readable (one-generation
    # GC retention), and equals the seed.
    prev = {
        (r["k"], r["v"])
        for r in read_upsert_table(spark, table, version=1).collect()
    }
    assert prev == {(1, "a"), (2, "b"), (3, "c")}


def test_cdc_seq_collapses_to_latest_change_per_key(spark, tmp_path):
    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        table,
        "k",
        num_buckets=4,
    )
    # One batch, several changes per key: k=1 updated then DELETED
    # (delete wins by seq); k=2 deleted then re-inserted (insert wins).
    changes = spark.createDataFrame(
        [
            (1, "A1", "U", 10),
            (1, None, "D", 11),
            (2, None, "D", 10),
            (2, "b2", "I", 12),
        ],
        "k long, v string, op string, seq long",
    )
    apply_cdc_parquet(spark, changes, table, "k", seq_col="seq", num_buckets=4)
    assert _rows(spark, table) == {(2, "b2")}


def test_cdc_equal_seq_tie_is_deterministic(spark, tmp_path):
    # One transaction's rows often share a commit LSN: two changes for
    # the same key with EQUAL seq must resolve to the same winner on
    # every apply/replay (value-struct tiebreak — the upsert_dbapi
    # deterministic-collapse rule), not to scan order (code-review r8).
    for attempt in range(3):
        table = str(tmp_path / f"t{attempt}")
        upsert_parquet(
            spark,
            spark.createDataFrame([(1, "z")], "k long, v string"),
            table,
            "k",
            num_buckets=4,
        )
        changes = spark.createDataFrame(
            [(1, "a", "U", 5), (1, "b", "U", 5), (2, "c", "I", 5)],
            "k long, v string, op string, seq long",
        )
        if attempt == 2:  # input order must not matter either
            changes = spark.createDataFrame(
                [(2, "c", "I", 5), (1, "b", "U", 5), (1, "a", "U", 5)],
                "k long, v string, op string, seq long",
            )
        apply_cdc_parquet(
            spark, changes, table, "k", seq_col="seq", num_buckets=4
        )
        # struct-desc tiebreak: ("b","U") > ("a","U") -> "b" always wins
        assert _rows(spark, table) == {(1, "b"), (2, "c")}, attempt


def test_cdc_duplicate_keys_without_seq_rejected(spark, tmp_path):
    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        table,
        "k",
        num_buckets=4,
    )
    changes = spark.createDataFrame(
        [(1, "x", "U"), (1, None, "D")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="multiple changes"):
        apply_cdc_parquet(spark, changes, table, "k", num_buckets=4)


def test_cdc_null_key_rejected_both_paths(spark, tmp_path):
    # A NULL merge key can never match through the delete anti-join, so
    # it is rejected up front like an out-of-domain op. Regression: the
    # r7 dup detector read max(when(c>1, key)) which is NULL when the
    # only duplicated group IS the NULL key — a batch of several
    # NULL-key changes sailed through validation (ADVICE r7 medium).
    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        table,
        "k",
        num_buckets=4,
    )
    # multiple NULL-key changes, no seq: must NOT pass as "no dup"
    changes = spark.createDataFrame(
        [(None, "x", "U"), (None, "y", "U")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        apply_cdc_parquet(spark, changes, table, "k", num_buckets=4)
    # single NULL-key change: rejected too (delete would silently no-op)
    one = spark.createDataFrame(
        [(None, None, "D")], "k long, v string, op string"
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        apply_cdc_parquet(spark, one, table, "k", num_buckets=4)
    # seq path validates through the op-only aggregate — same rejection
    seq_changes = spark.createDataFrame(
        [(None, "x", "U", 1), (None, "y", "U", 2)],
        "k long, v string, op string, seq long",
    )
    with pytest.raises(ValueError, match="NULL merge key"):
        apply_cdc_parquet(
            spark, seq_changes, table, "k", seq_col="seq", num_buckets=4
        )
    assert _rows(spark, table) == {(1, "a")}  # untouched


def test_cdc_emptied_bucket_drops_manifest_entry(spark, tmp_path):
    table = str(tmp_path / "t")
    # 1 bucket => deleting one of two keys rewrites THE bucket; deleting
    # the last key would empty it entirely.
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        table,
        "k",
        num_buckets=1,
    )
    apply_cdc_parquet(
        spark,
        spark.createDataFrame([(1, None, "D")], "k long, v string, op string"),
        table,
        "k",
    )
    assert _rows(spark, table) == {(2, "b")}
    apply_cdc_parquet(
        spark,
        spark.createDataFrame([(2, None, "D")], "k long, v string, op string"),
        table,
        "k",
    )
    with pytest.raises(FileNotFoundError, match="EMPTY"):
        read_upsert_table(spark, table)


def test_cdc_apply_stream_replicates_feed(spark, tmp_path):
    # End-to-end streaming CDC: change files replicate an upstream table
    # into the lakehouse across micro-batch runs, honoring seq order
    # within a batch and FIFO file order across runs.
    from pyspark.sql import types as T

    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        cdc_apply_stream,
    )

    src = str(tmp_path / "feed")
    table = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )

    def run():
        q = cdc_apply_stream(
            spark,
            src,
            table,
            "k",
            str(tmp_path / "c"),
            schema=schema,
        )
        _await(q)

    feed1 = [(1, "a", "I", 1), (2, "b", "I", 2), (2, "b2", "U", 3)]
    spark.createDataFrame(feed1, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(src)
    run()
    assert _rows(spark, table) == {(1, "a"), (2, "b2")}

    feed2 = [(1, None, "D", 4), (3, "c", "I", 5)]
    spark.createDataFrame(feed2, schema).coalesce(1).write.mode(
        "append"
    ).json(src)
    run()
    assert _rows(spark, table) == {(2, "b2"), (3, "c")}


def test_write_daily_partitions_dynamic_overwrite(spark, tmp_path):
    # Re-running one day's job must replace only that day's partition.
    from ai_powered_e_commerce_analytics_spark.sinks import (
        write_daily_partitions,
    )

    path = str(tmp_path / "fact")
    day1 = [("2024-01-01", 1, "a"), ("2024-01-01", 2, "b")]
    day2 = [("2024-01-02", 3, "c")]
    schema = "o_date string, k long, v string"
    write_daily_partitions(
        spark.createDataFrame(day1 + day2, schema), path
    )
    # rerun of day 2 with corrected data
    write_daily_partitions(
        spark.createDataFrame([("2024-01-02", 3, "C2"), ("2024-01-02", 4, "d")], schema),
        path,
    )
    # partition discovery types o_date as DATE — stringify for compare
    got = {
        (str(r["o_date"]), r["k"], r["v"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1, "a"),
        ("2024-01-01", 2, "b"),
        ("2024-01-02", 3, "C2"),
        ("2024-01-02", 4, "d"),
    }
    # the per-write conf override was restored to the session default
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
        == "static"
    )


def test_cdc_apply_stream_restart_is_idempotent(spark, tmp_path):
    # Restarting from the same checkpoint with no new change files must
    # not re-apply anything: the table version and contents are stable.
    from pyspark.sql import types as T

    from ai_powered_e_commerce_analytics_spark.sinks import _latest_manifest
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        cdc_apply_stream,
    )

    src = str(tmp_path / "feed")
    table = str(tmp_path / "t")
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("op", T.StringType()),
            T.StructField("seq", T.LongType()),
        ]
    )
    spark.createDataFrame(
        [(1, "a", "I", 1), (2, "b", "I", 2)], schema
    ).coalesce(1).write.mode("overwrite").json(src)

    def run():
        q = cdc_apply_stream(
            spark, src, table, "k", str(tmp_path / "c"), schema=schema
        )
        _await(q)

    run()
    from ai_powered_e_commerce_analytics_spark.hadoop import hadoop_fs

    fs = hadoop_fs(spark, table)
    v1, _ = _latest_manifest(spark, fs, table)
    assert _rows(spark, table) == {(1, "a"), (2, "b")}

    run()  # same checkpoint, no new files -> no new commit
    v2, _ = _latest_manifest(spark, fs, table)
    assert v2 == v1
    assert _rows(spark, table) == {(1, "a"), (2, "b")}


def test_table_changes_reports_cdc_diff(spark, tmp_path):
    # Read-side CDC: the version-to-version diff reproduces exactly the
    # change batch that was applied (insert/update/delete per key).
    from ai_powered_e_commerce_analytics_spark.sinks import table_changes

    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ),
        table,
        "k",
        num_buckets=4,
    )
    apply_cdc_parquet(
        spark,
        spark.createDataFrame(
            [(2, "B", "U"), (9, "z", "I"), (1, None, "D")],
            "k long, v string, op string",
        ),
        table,
        "k",
        num_buckets=4,
    )
    got = {
        r["k"]: (r["change_type"], r["before"], r["after"])
        for r in table_changes(spark, table, "k", from_version=1).collect()
    }
    assert set(got) == {1, 2, 9}
    assert got[1][0] == "delete" and got[1][2] is None
    assert got[2][0] == "update" and got[2][1]["v"] == "b" and got[2][2]["v"] == "B"
    assert got[9][0] == "insert" and got[9][1] is None
    # key 3 untouched -> absent from the feed


def test_table_changes_null_payload_update_detected(spark, tmp_path):
    # An update that flips a payload field to NULL must still read as an
    # update (null-safe struct comparison).
    from ai_powered_e_commerce_analytics_spark.sinks import table_changes

    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        table,
        "k",
        num_buckets=2,
    )
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, None)], "k long, v string"),
        table,
        "k",
        num_buckets=2,
    )
    rows = table_changes(spark, table, "k", from_version=1).collect()
    assert len(rows) == 1
    assert rows[0]["change_type"] == "update"
    assert rows[0]["before"]["v"] == "a" and rows[0]["after"]["v"] is None


def test_table_changes_schema_evolution_and_empty_and_reversed(spark, tmp_path):
    from ai_powered_e_commerce_analytics_spark.sinks import table_changes

    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        table,
        "k",
        num_buckets=2,
    )
    # v2 adds column w (schema evolution) and updates the row
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a", 7)], "k long, v string, w long"),
        table,
        "k",
        num_buckets=2,
    )
    rows = table_changes(spark, table, "k", from_version=1).collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "update"
    assert rows[0]["before"]["w"] is None and rows[0]["after"]["w"] == 7

    # reversed range refuses instead of inverting the diff
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be <"):
        table_changes(spark, table, "k", from_version=2, to_version=1)

    # deleting every row: the feed still reports the delete
    apply_cdc_parquet(
        spark,
        spark.createDataFrame(
            [(1, None, None, "D")], "k long, v string, w long, op string"
        ),
        table,
        "k",
        num_buckets=2,
    )
    rows = table_changes(spark, table, "k", from_version=2).collect()
    assert len(rows) == 1 and rows[0]["change_type"] == "delete"


def test_cdc_rejects_invalid_op_domain(spark, tmp_path):
    # A NULL op would vanish from BOTH the upsert set (op != 'D' is
    # NULL) and the delete set; an unknown code would silently upsert.
    # Both must raise up front, leaving the table untouched.
    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        table,
        "k",
        num_buckets=2,
    )
    for bad_op in (None, "X", "d", "delete"):
        changes = spark.createDataFrame(
            [(2, "b", "I"), (1, "z", bad_op)], "k long, v string, op string"
        )
        with pytest.raises(ValueError, match="outside the valid domain"):
            apply_cdc_parquet(spark, changes, table, "k", num_buckets=2)
        # The seq path validates through a separate (op-only) aggregate
        # — same rejection with a seq_col present.
        seq_changes = spark.createDataFrame(
            [(2, "b", "I", 1), (1, "z", bad_op, 2)],
            "k long, v string, op string, seq long",
        )
        with pytest.raises(ValueError, match="outside the valid domain"):
            apply_cdc_parquet(
                spark, seq_changes, table, "k", seq_col="seq", num_buckets=2
            )
    assert _rows(spark, table) == {(1, "a")}  # nothing staged or applied


def test_table_changes_type_evolution_casts_both_sides(spark, tmp_path):
    # v1 writes w as LONG; v2 rewrites the (single) bucket with w as
    # DOUBLE. The diff must cast both sides to the AFTER type instead of
    # comparing mismatched struct field types.
    from ai_powered_e_commerce_analytics_spark.sinks import table_changes

    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, w long"),
        table,
        "k",
        num_buckets=1,
    )
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 10.5)], "k long, w double"),
        table,
        "k",
        num_buckets=1,
    )
    rows = table_changes(spark, table, "k", from_version=1).collect()
    # k=2 is 20 (long) before and 20.0 (double, union-coerced) after —
    # equal under the unified type, so only k=1 reports.
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] == 1 and r["change_type"] == "update"
    assert r["before"]["w"] == 10.0 and r["after"]["w"] == 10.5


def test_cdc_contention_retries_drop_checkpoint_blocks(spark, tmp_path):
    # Force two lost commit races via the _before_commit seam; the
    # retry loop must unpersist each superseded attempt's snapshot
    # blocks (and the final one after a successful commit) instead of
    # pinning one change-set copy per attempt for the session lifetime.
    table = str(tmp_path / "t")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        table,
        "k",
        num_buckets=2,
    )
    baseline_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    attempts = []

    def contend():
        attempts.append(1)
        if len(attempts) <= 2:  # steal the version on the first two tries
            upsert_parquet(
                spark,
                spark.createDataFrame(
                    [(2, f"steal{len(attempts)}")], "k long, v string"
                ),
                table,
                "k",
                num_buckets=2,
            )

    apply_cdc_parquet(
        spark,
        spark.createDataFrame(
            [(1, "A", "U"), (3, "c", "I")], "k long, v string, op string"
        ),
        table,
        "k",
        num_buckets=2,
        _before_commit=contend,
    )
    assert len(attempts) == 3  # two lost races + the winning attempt
    leaked = (
        set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        - baseline_ids
    )
    assert not leaked, f"retries leaked checkpoint RDDs: {leaked}"
    # semantics: CDC result applied on top of the LAST stolen state
    assert _rows(spark, table) == {(1, "A"), (2, "steal2"), (3, "c")}
