"""Sinks (S6-S10), batch pipelines (M1-M3), multimodal plumbing."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.pipeline import (
    EngineConfig,
    run_collector,
    run_etl_pipeline,
    run_review_pipeline,
)
from ai_powered_e_commerce_analytics_spark.schemas import GOLD_FINAL, SILVER_REVIEWS
from ai_powered_e_commerce_analytics_spark.sinks import (
    read_upsert_table,
    upsert_parquet,
    write_silver_chunks,
)


def _bronze_rows(n, date_prefix="2026-07"):
    return [
        {
            "product_name": f"Product_{i % 40}",
            "price": round(1.0 + (i * 7.3) % 499, 2),
            "quantity": 1 + i % 20,
            "category": ["Electronics", "Food", "Clothing"][i % 3],
            "description": f"A useful item number {i}",
            "availability": i % 10 != 0,
            "discount_percentage": float(i % 50),
            "date": f"{date_prefix}-{1 + i % 28:02d}",
            "id": f"user_{i % 11}",
            "shop_id": f"shop_{i % 7}",
        }
        for i in range(n)
    ]


def test_upsert_last_writer_wins(spark, tmp_path):
    path = str(tmp_path / "kpi")
    df1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "id long, v double")
    upsert_parquet(spark, df1, path, "id")
    df2 = spark.createDataFrame([(2, 99.0), (3, 30.0)], "id long, v double")
    upsert_parquet(spark, df2, path, "id")
    got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}


def test_upsert_recovers_from_write_debris(spark, tmp_path):
    # A crashed FIRST write leaves _temporary/ only; the existence check
    # must treat that as "no table" (initial-write overwrite clears it),
    # not wedge every subsequent upsert on UNABLE_TO_INFER_SCHEMA.
    import os

    path = str(tmp_path / "kpi")
    os.makedirs(f"{path}/_temporary")
    df = spark.createDataFrame([("a", 1.0)], "id string, v double")
    upsert_parquet(spark, df, path, "id")
    assert read_upsert_table(spark, path).count() == 1


def test_upsert_idempotent_replay(spark, tmp_path):
    # ST3 parity: replaying the same batch must not change the table.
    path = str(tmp_path / "kpi2")
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    upsert_parquet(spark, df, path, "id")
    upsert_parquet(spark, df, path, "id")
    got = sorted((r.id, r.v) for r in read_upsert_table(spark, path).collect())
    assert got == [(1, 1.0), (2, 2.0)]


def test_upsert_bounded_file_count(spark, tmp_path):
    # N upserts must NOT accumulate files or tx dirs without bound: every
    # touched entry is fully rewritten into the new tx dir (repartition
    # by bucket => one task => one file) and post-commit GC drops tx dirs
    # the manifest no longer references and superseded manifests. A
    # small table stays at the one bucket a new table starts with.
    path = str(tmp_path / "kpi3")
    for batch in range(6):
        df = spark.createDataFrame(
            [(i, float(batch)) for i in range(20)], "id long, v double"
        )
        upsert_parquet(spark, df, path, "id")
    for bucket_dir in glob.glob(f"{path}/data/tx_*/__bucket=*"):
        n_files = len(glob.glob(f"{bucket_dir}/*.parquet"))
        assert n_files == 1, f"{bucket_dir} has {n_files} files"
    # every batch touches the one bucket; GC keeps the current generation
    # plus ONE previous (retention grace for concurrent readers), so the
    # final two tx dirs / manifests survive and older ones are dropped.
    assert len(glob.glob(f"{path}/data/tx_*")) == 2
    assert len(glob.glob(f"{path}/_MANIFEST-v*.json")) == 2
    assert not glob.glob(f"{path}/_tmp_manifest_*"), "tmp manifest debris"
    modulus, entries = _current_entries(path)
    assert modulus == 1 and list(entries) == [(1, 0)]
    assert len(glob.glob(f"{path}/{entries[(1, 0)]}/*.parquet")) == 1
    got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
    assert got == {i: 5.0 for i in range(20)}


def _current_entries(path):
    """(modulus, {(m, r): path}) of the table's newest manifest."""
    with open(sorted(glob.glob(f"{path}/_MANIFEST-v*.json"))[-1]) as fh:
        manifest = json.load(fh)
    return manifest["modulus"], {
        (e["m"], e["r"]): e["path"] for e in manifest["entries"]
    }


def _assert_disjoint(modulus, entries):
    # (m1, r1) and (m2, r2) with m1 | m2 overlap iff r2 % m1 == r1.
    assert all(modulus % m == 0 for m, _ in entries)
    for i, (m1, r1) in enumerate(sorted(entries)):
        for m2, r2 in sorted(entries)[i + 1:]:
            assert r2 % m1 != r1, f"({m1}, {r1}) overlaps ({m2}, {r2})"


def _bucket_of(spark, key, modulus):
    return spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(key).cast("long")), F.lit(modulus))
    ).first()[0]


def test_upsert_splits_buckets_as_the_table_grows(spark, tmp_path):
    # With maxPartitionBytes at 2 KB a 200-row bucket file (~1.7 KB)
    # soon overflows, so repeated upserts must double the modulus. The
    # table reads back as the dict model after every commit, entries
    # stay disjoint, and a one-key upsert rewrites only the entry its
    # key falls in while every other entry keeps its tx dir.
    path = str(tmp_path / "grow")
    schema = "id long, v double"
    model: dict[int, float] = {}
    moduli = []
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    try:
        for batch in range(5):
            rows = [(i, float(batch)) for i in range(batch * 100, batch * 100 + 200)]
            upsert_parquet(spark, spark.createDataFrame(rows, schema), path, "id")
            model.update(rows)
            got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
            assert got == model
            modulus, entries = _current_entries(path)
            _assert_disjoint(modulus, entries)
            moduli.append(modulus)
        assert moduli == sorted(moduli) and moduli[-1] >= 4, moduli
        # the last doubling is not yet applied: entries are coarser than M
        modulus, before = _current_entries(path)
        assert len(before) > 1 and max(m for m, _ in before) < modulus

        upsert_parquet(spark, spark.createDataFrame([(7, -1.0)], schema), path, "id")
        model[7] = -1.0
        got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
        assert got == model
        h = _bucket_of(spark, 7, modulus)
        (covering,) = [(m, r) for m, r in before if h % m == r]
        _, after = _current_entries(path)
        _assert_disjoint(modulus, after)
        kept = {c: p for c, p in after.items() if c in before}
        assert kept == {c: p for c, p in before.items() if c != covering}
        split = [c for c in after if c not in before]
        assert split and all(m == modulus and r % covering[0] == covering[1]
                             for m, r in split)
        assert len({after[c].split("/")[1] for c in split}) == 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_upsert_reads_and_extends_legacy_manifest(spark, tmp_path):
    # A table committed by the fixed-modulus layout (top-level
    # num_buckets, residue-keyed buckets) must still read, time-travel
    # and upsert; the upsert rewrites only the touched bucket.
    path = str(tmp_path / "legacy")
    schema = "id long, v double"
    v1 = {i: 1.0 for i in range(40)}
    v2 = v1 | {i: 2.0 for i in range(0, 40, 3)}
    for tx, model in (("tx_legacy1", v1), ("tx_legacy2", v2)):
        (
            spark.createDataFrame(sorted(model.items()), schema)
            .withColumn("__bucket", F.pmod(F.xxhash64("id"), F.lit(4)).cast("int"))
            .write.partitionBy("__bucket")
            .parquet(f"{path}/data/{tx}")
        )
    for version, tx in ((1, "tx_legacy1"), (2, "tx_legacy2")):
        with open(f"{path}/_MANIFEST-v{version:08d}.json", "w") as fh:
            json.dump({
                "num_buckets": 4,
                "buckets": {str(b): f"data/{tx}/__bucket={b}" for b in range(4)},
            }, fh)

    def read(version=None):
        df = read_upsert_table(spark, path, version=version)
        return {r.id: r.v for r in df.collect()}

    assert read() == v2
    assert read(version=1) == v1
    upsert_parquet(spark, spark.createDataFrame([(5, 9.0), (99, 9.0)], schema), path, "id")
    assert read() == v2 | {5: 9.0, 99: 9.0}
    assert read(version=2) == v2
    modulus, entries = _current_entries(path)
    touched = {_bucket_of(spark, k, 4) for k in (5, 99)}
    assert modulus == 4
    assert {r for (_, r), p in entries.items() if "tx_legacy2" in p} == (
        set(range(4)) - touched
    )


def test_pipelines_archive_zero_row_inputs(spark, tmp_path):
    # A file that yields no rows is consumed like any other: it is
    # archived, not left to be re-listed on every later run.
    bronze = tmp_path / "bronze_new"
    (bronze / "sub").mkdir(parents=True)
    rows = _bronze_rows(4)
    for name, chunk in (("a.json", rows[:2]), ("sub/b.json", rows[2:])):
        (bronze / name).write_text("".join(json.dumps(r) + "\n" for r in chunk))
    (bronze / "sub" / "empty.json").write_text("")
    archive = tmp_path / "bronze_old"
    res = run_review_pipeline(
        spark, str(bronze), str(tmp_path / "silver"), str(archive)
    )
    assert res == {"rows": 4}
    assert not glob.glob(f"{bronze}/**/*.json", recursive=True)
    assert sorted(os.listdir(archive)) == ["a.json", "b.json", "empty.json"]

    # a directory of only zero-row files trips the empty guard and is
    # still archived
    silver = tmp_path / "silver_new"
    silver.mkdir()
    (silver / "empty.json").write_text("")
    res = run_etl_pipeline(
        spark, str(silver), str(tmp_path / "g"), str(tmp_path / "k"),
        str(tmp_path / "silver_old"),
    )
    assert res == {"rows": 0}
    assert not glob.glob(f"{silver}/*.json")
    assert os.listdir(tmp_path / "silver_old") == ["empty.json"]


def test_upsert_clears_uncommitted_debris(spark, tmp_path):
    # Debris of a crashed prior upsert — a staged-but-never-committed tx
    # dir and a tmp manifest — must be invisible to readers, SURVIVE the
    # orphan grace window while fresh (it could be a live concurrent
    # writer's staging area), and be removed once aged past the grace.
    import time

    path = str(tmp_path / "kpi4")
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    upsert_parquet(spark, df, path, "id")
    os.makedirs(f"{path}/data/tx_deadbeef/__bucket=0", exist_ok=True)
    with open(f"{path}/_tmp_manifest_dead.json", "w") as f:
        f.write("{not even json")
    assert read_upsert_table(spark, path).count() == 1  # junk invisible
    # Fresh debris is retained (might be a concurrent writer staging).
    upsert_parquet(spark, spark.createDataFrame([(2, 2.0)], "id long, v double"), path, "id")
    assert glob.glob(f"{path}/data/tx_deadbeef")
    # Aged debris is collected by the next upsert's GC.
    stale = time.time() - 3600
    os.utime(f"{path}/data/tx_deadbeef", (stale, stale))
    os.utime(f"{path}/_tmp_manifest_dead.json", (stale, stale))
    upsert_parquet(spark, spark.createDataFrame([(3, 3.0)], "id long, v double"), path, "id")
    assert not glob.glob(f"{path}/data/tx_deadbeef")
    assert not glob.glob(f"{path}/_tmp_manifest_*")
    assert read_upsert_table(spark, path).count() == 3


def test_upsert_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch):
    # Crash-injection: kill the writer at the worst instant — AFTER the
    # merged buckets are fully staged, BEFORE the manifest rename. The
    # reader must still see the previous committed table, complete.
    import ai_powered_e_commerce_analytics_spark.sinks as sinks

    path = str(tmp_path / "kpi5")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        path,
        "id",
    )

    real_commit = sinks._commit_manifest

    def crash(*a, **kw):
        raise RuntimeError("injected crash between staging and commit")

    monkeypatch.setattr(sinks, "_commit_manifest", crash)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_parquet(
            spark,
            spark.createDataFrame([(2, 99.0), (3, 3.0)], "id long, v double"),
            path,
            "id",
        )
    # staged tx data exists on disk, but the reader resolves only through
    # the committed manifest: old table, complete, no partial state.
    assert len(glob.glob(f"{path}/data/tx_*")) == 2
    got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
    assert got == {1: 1.0, 2: 2.0}

    # recovery: the next successful upsert applies cleanly and GCs debris.
    monkeypatch.setattr(sinks, "_commit_manifest", real_commit)
    upsert_parquet(
        spark,
        spark.createDataFrame([(2, 99.0), (3, 3.0)], "id long, v double"),
        path,
        "id",
    )
    got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
    assert got == {1: 1.0, 2: 99.0, 3: 3.0}
    # current + one retained previous generation
    assert len(glob.glob(f"{path}/_MANIFEST-v*.json")) == 2


def test_upsert_concurrent_writers_occ(spark, tmp_path):
    # Two interleaved writers: writer A stages its merge, then writer B
    # runs a COMPLETE upsert (stealing A's version), then A attempts to
    # commit, loses the CAS, re-merges against B's table state, and
    # commits at the next version. BOTH commits must land and the final
    # table must equal sequential application (base, then B, then A) —
    # including B's rows in buckets A never touched.
    path = str(tmp_path / "kpi6")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        path,
        "id",
    )

    fired = []

    def interleave_writer_b():
        if fired:
            return
        fired.append(1)
        upsert_parquet(
            spark,
            spark.createDataFrame([(2, 50.0), (4, 4.0)], "id long, v double"),
            path,
            "id",
        )

    upsert_parquet(
        spark,
        spark.createDataFrame([(2, 99.0), (3, 3.0)], "id long, v double"),
        path,
        "id",
        _before_commit=interleave_writer_b,
    )
    assert fired, "interleaved writer never ran"
    got = {r.id: r.v for r in read_upsert_table(spark, path).collect()}
    # key 2: A committed after B, so A's value wins; key 4 (B-only
    # bucket) must survive A's re-merge.
    assert got == {1: 1.0, 2: 99.0, 3: 3.0, 4: 4.0}
    # three committed generations: base(v1), B(v2), A(v3); GC keeps 2.
    versions = sorted(glob.glob(f"{path}/_MANIFEST-v*.json"))
    assert len(versions) == 2 and versions[-1].endswith("v00000003.json")


def test_upsert_contention_gives_up_bounded(spark, tmp_path):
    # A writer that loses the CAS on EVERY attempt must raise after
    # max_attempts, not loop forever.
    path = str(tmp_path / "kpi7")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 1.0)], "id long, v double"),
        path,
        "id",
    )
    counter = [0]

    def always_steal():
        counter[0] += 1
        upsert_parquet(
            spark,
            spark.createDataFrame(
                [(1, float(counter[0]))], "id long, v double"
            ),
            path,
            "id",
        )

    with pytest.raises(RuntimeError, match="lost the commit race"):
        upsert_parquet(
            spark,
            spark.createDataFrame([(9, 9.0)], "id long, v double"),
            path,
            "id",
            max_attempts=2,
            _before_commit=always_steal,
        )
    assert counter[0] == 2


def test_upsert_time_travel_within_retention(spark, tmp_path):
    # version= reads the previous committed generation (guaranteed by the
    # one-generation GC retention); versions collected past retention
    # raise rather than silently reading partial state.
    path = str(tmp_path / "kpi8")
    upsert_parquet(spark, spark.createDataFrame([(1, 1.0)], "id long, v double"), path, "id")
    upsert_parquet(spark, spark.createDataFrame([(1, 2.0)], "id long, v double"), path, "id")
    upsert_parquet(spark, spark.createDataFrame([(1, 3.0)], "id long, v double"), path, "id")
    assert {r.v for r in read_upsert_table(spark, path).collect()} == {3.0}
    assert {
        r.v for r in read_upsert_table(spark, path, version=2).collect()
    } == {2.0}
    with pytest.raises(FileNotFoundError, match="garbage-collected|not available"):
        read_upsert_table(spark, path, version=1)


def test_upsert_schema_evolution(spark, tmp_path):
    # An upsert may ADD columns: pre-existing rows read back with null
    # for the new column; keyed merge still last-writer-wins; and a
    # later upsert missing the new column must not drop it for rows
    # that carry it.
    path = str(tmp_path / "kpi9")
    upsert_parquet(
        spark,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double"),
        path,
        "id",
    )
    upsert_parquet(
        spark,
        spark.createDataFrame(
            [(2, 20.0, "x"), (3, 30.0, "y")], "id long, v double, tag string"
        ),
        path,
        "id",
    )
    got = {
        r.id: (r.v, r.tag) for r in read_upsert_table(spark, path).collect()
    }
    assert got == {1: (1.0, None), 2: (20.0, "x"), 3: (30.0, "y")}
    # narrower writer after the widening: its rows get null tag, others keep theirs
    upsert_parquet(
        spark, spark.createDataFrame([(1, 9.0)], "id long, v double"), path, "id"
    )
    got = {
        r.id: (r.v, r.tag) for r in read_upsert_table(spark, path).collect()
    }
    assert got[1] == (9.0, None) and got[3] == (30.0, "y")


def test_silver_chunks_batch_id_replay_idempotent(spark, tmp_path):
    # Streaming replay of the same micro-batch must rewrite its own dir.
    silver_dir = str(tmp_path / "silver_replay")
    df = spark.range(0, 50).select(F.col("id").alias("item_id"))
    p1 = write_silver_chunks(df, silver_dir, batch_id=7)
    p2 = write_silver_chunks(df, silver_dir, batch_id=7)
    assert p1 == p2 == f"{silver_dir}/processed_data_batch_7"
    dirs = [d for d in glob.glob(f"{silver_dir}/*") if os.path.isdir(d)]
    assert dirs == [p1]
    total = sum(1 for f in glob.glob(f"{p1}/*.json") for _ in open(f))
    assert total == 50


def test_silver_chunking(spark, tmp_path):
    df = spark.range(0, 500).select(F.col("id").alias("item_id"))
    out = write_silver_chunks(df.coalesce(1), str(tmp_path / "silver"), max_records_per_file=100)
    files = [f for f in glob.glob(f"{out}/*.json")]
    assert len(files) >= 5  # 500 rows / 100 per file
    total = sum(1 for f in files for _ in open(f))
    assert total == 500


def test_review_pipeline_end_to_end(spark, tmp_path):
    bronze_dir = str(tmp_path / "bronze_new")
    silver_dir = str(tmp_path / "silver")
    archive_dir = str(tmp_path / "bronze_old")
    rows = _bronze_rows(137)
    df = spark.createDataFrame(rows)
    df.coalesce(1).write.mode("overwrite").json(bronze_dir)

    res = run_review_pipeline(spark, bronze_dir, silver_dir, archive_dir)
    assert res["rows"] == 137

    out = spark.read.schema(SILVER_REVIEWS).json(f"{silver_dir}/processed_data_*")
    assert out.count() == 137
    got = out.select("item_id", "classification", "review").collect()
    assert sorted(r.item_id for r in got) == list(range(1, 138))
    assert all(r.review for r in got)
    # consumed bronze files archived (S9)
    assert not glob.glob(f"{bronze_dir}/*.json")
    assert glob.glob(f"{archive_dir}/*.json")


def test_etl_pipeline_end_to_end(spark, tmp_path):
    bronze_dir = str(tmp_path / "b")
    silver_dir = str(tmp_path / "s")
    gold_dir = str(tmp_path / "g")
    kpi_dir = str(tmp_path / "k")
    spark.createDataFrame(_bronze_rows(150)).coalesce(1).write.mode(
        "overwrite"
    ).json(bronze_dir)
    run_review_pipeline(spark, bronze_dir, silver_dir)

    res = run_etl_pipeline(spark, f"{silver_dir}/processed_data_*", gold_dir, kpi_dir)
    assert res["rows"] == 150

    user = read_upsert_table(spark, f"{kpi_dir}/user_kpis")
    assert set(user.columns) == {
        "id", "average_spent", "positive_reviews", "negative_reviews",
        "likeness_score", "normalized_likeness_score",
    }
    assert user.count() > 0
    date = read_upsert_table(spark, f"{kpi_dir}/date_kpis")
    assert date.count() <= 28  # keyed by date string
    gold_files = glob.glob(f"{gold_dir}/final_data_*/*.json")
    assert gold_files

    # second run with overlapping keys UPDATES rows, doesn't append (S8)
    spark.createDataFrame(_bronze_rows(80)).coalesce(1).write.mode(
        "overwrite"
    ).json(bronze_dir)
    run_review_pipeline(spark, bronze_dir, str(tmp_path / "s2"))
    run_etl_pipeline(spark, f"{tmp_path}/s2/processed_data_*", gold_dir, kpi_dir)
    date2 = read_upsert_table(spark, f"{kpi_dir}/date_kpis")
    assert date2.count() == date2.select("date").distinct().count()


def test_etl_pipeline_empty_guard(spark, tmp_path):
    empty = str(tmp_path / "empty")
    os.makedirs(empty, exist_ok=True)
    res = run_etl_pipeline(spark, empty, str(tmp_path / "g"), str(tmp_path / "k"))
    assert res == {"rows": 0}


def _kpis_over_silver(silver_dir: str) -> dict[str, list[tuple]]:
    """The three KPI tables recomputed in DuckDB from silver's JSON files,
    with the stub client's sentiment rule."""
    import duckdb

    from ai_powered_e_commerce_analytics_spark.operators.enrich import (
        POSITIVE_TOKENS,
    )

    files = glob.glob(f"{silver_dir}/**/*.json", recursive=True)
    positive = " OR ".join(
        f"contains(lower(coalesce(review, '')), '{t}')" for t in POSITIVE_TOKENS
    )
    con = duckdb.connect()
    con.execute(
        f"""CREATE TABLE gold AS SELECT *, ({positive}) AS sentiment
        FROM read_json({files!r}, format='newline_delimited', columns={{
            price: 'DOUBLE', date: 'VARCHAR', id: 'VARCHAR',
            shop_id: 'VARCHAR', review: 'VARCHAR'}})"""
    )
    out = {}
    for name, key in (("user_kpis", "id"), ("shop_kpis", "shop_id")):
        out[name] = con.execute(
            f"""WITH agg AS (
                SELECT {key}, avg(price) AS a,
                  sum(CASE WHEN sentiment THEN 1 ELSE 0 END) AS p,
                  sum(CASE WHEN NOT sentiment THEN 1 ELSE 0 END) AS n
                FROM gold GROUP BY {key}),
            l AS (SELECT *, p / CASE WHEN n > 0 THEN n ELSE 1 END AS s FROM agg)
            SELECT {key}, a, p, n, s, CASE WHEN max(s) OVER () = min(s) OVER ()
              THEN 0.0 ELSE (s - min(s) OVER ()) / (max(s) OVER () - min(s) OVER ())
              END FROM l ORDER BY 1"""
        ).fetchall()
    out["date_kpis"] = con.execute(
        "SELECT date, avg(price) FROM gold GROUP BY date ORDER BY 1"
    ).fetchall()
    return out


def test_etl_over_two_review_runs_keeps_one_gold_row_per_silver_row(
    spark, tmp_path
):
    # Two review runs write into one silver dir. item_id restarts at 1 in
    # each run, so joining sentiments back on item_id would pair every
    # silver row with both runs' answers (400 gold rows from 200).
    silver_dir, gold_dir, kpi_dir = (str(tmp_path / d) for d in "sgk")
    for run, month in enumerate(("2026-07", "2026-08")):
        bronze = str(tmp_path / f"b{run}")
        spark.createDataFrame(_bronze_rows(100, month)).coalesce(1).write.json(
            bronze
        )
        assert run_review_pipeline(spark, bronze, silver_dir) == {"rows": 100}

    assert run_etl_pipeline(spark, silver_dir, gold_dir, kpi_dir) == {"rows": 200}
    gold = spark.read.schema(GOLD_FINAL).json(f"{gold_dir}/final_data_*")
    assert gold.count() == 200

    want = _kpis_over_silver(silver_dir)
    review_cols = ["positive_reviews", "negative_reviews", "likeness_score",
                   "normalized_likeness_score"]
    for name, cols in (
        ("user_kpis", ["id", "average_spent"] + review_cols),
        ("shop_kpis", ["shop_id", "average_profit"] + review_cols),
        ("date_kpis", ["date", "average_profit_per_day"]),
    ):
        got = sorted(
            tuple(r) for r in
            read_upsert_table(spark, f"{kpi_dir}/{name}").select(*cols).collect()
        )
        assert [g[0] for g in got] == [w[0] for w in want[name]], name
        for g, w in zip(got, want[name]):
            assert g[1:] == pytest.approx(w[1:]), (name, g, w)


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "raises"])
def test_pipelines_release_what_they_pin(spark, tmp_path, fail):
    # After a pipeline run the session's persisted RDDs are what they were
    # before it, whether the run succeeded or raised, and a caller's own
    # cache is left alone. Batch 0 of every task null-fills, so the ETL's
    # driver-level retry pins a second frame.
    from ai_powered_e_commerce_analytics_spark.operators.enrich import (
        StubLLMClient,
    )

    def persisted() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    held = spark.range(10).cache()
    held.count()
    try:
        before = persisted()
        assert before  # the caller's cache
        bronze, silver, kpi = (str(tmp_path / d) for d in ("b", "s", "k"))
        spark.createDataFrame(_bronze_rows(60)).coalesce(1).write.json(bronze)
        cfg = EngineConfig(max_attempts=1)
        null_first = lambda: StubLLMClient(fail_batches=frozenset({0}))  # noqa: E731

        if fail:
            def broken():
                raise RuntimeError("model server down")

            with pytest.raises(Exception, match="model server down"):
                run_review_pipeline(
                    spark, bronze, silver, config=cfg, client_factory=broken
                )
            assert persisted() == before
        assert run_review_pipeline(
            spark, bronze, silver, config=cfg, client_factory=null_first
        ) == {"rows": 60}
        assert persisted() == before

        etl = lambda: run_etl_pipeline(  # noqa: E731
            spark, silver, str(tmp_path / "g"), kpi,
            config=cfg, client_factory=null_first,
        )
        if fail:
            open(kpi, "w").close()  # a file where the KPI tables' dir goes
            with pytest.raises(Exception):
                etl()
        else:
            assert etl() == {"rows": 60}
        assert persisted() == before
    finally:
        held.unpersist()


def test_collector_run(spark, tmp_path):
    bronze_dir = str(tmp_path / "bronze")
    calls = iter(range(100))
    base = _bronze_rows(30)

    def fetch():
        i = next(calls)
        chunk = [dict(r) for r in base[i * 3 : i * 3 + 3]]
        for r in chunk:
            r.pop("id"), r.pop("shop_id")
        return chunk

    res = run_collector(spark, fetch, bronze_dir, pulls=10)
    assert res["rows"] == 30
    out = spark.read.json(f"{bronze_dir}/*")
    assert out.count() == 30
    rows = out.select("id", "shop_id").collect()
    assert all(r.id and r.shop_id.startswith("shop_") for r in rows)


def test_engine_config_defaults():
    cfg = EngineConfig()
    assert (cfg.batch_size, cfg.silver_chunk_rows) == (25, 50_000)
    assert (cfg.user_pool_size, cfg.shop_pool_size) == (5000, 10000)


def test_pretrain_pipeline_end_to_end(spark, tmp_path):
    # Composed curation run over the documents table: every stage is an
    # oracle-gated operator; the orchestrator chains them on doc_id and
    # reports data-loss accounting.
    from ai_powered_e_commerce_analytics_spark.pipeline import run_pretrain_pipeline

    out = str(tmp_path / "prep")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    stats = run_pretrain_pipeline(spark, "/root/testdata/sf0.001", out)
    # the run releases what it and the stages it composes shared
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == before
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    assert stats["total_docs"] == 500
    # each gate can only shrink the set; the composition is the smallest
    assert stats["selected_docs"] <= min(
        stats["quality_pass"], stats["decontaminated_pass"], stats["dedup_survivors"]
    )
    assert 0 < stats["selected_docs"] < stats["total_docs"]
    assert set(stats["splits"]) <= {"train", "val", "test"}
    assert sum(stats["splits"].values()) == stats["selected_docs"]

    sel = spark.read.parquet(f"{out}/selected_docs")
    chunks = spark.read.parquet(f"{out}/chunks")
    assert sel.count() == stats["selected_docs"]
    assert chunks.count() == stats["chunks_written"]
    # chunks come ONLY from selected docs and carry their split
    extra = chunks.join(sel.select("doc_id"), "doc_id", "left_anti")
    assert extra.count() == 0
    # dedup actually removed something relative to the raw corpus
    assert stats["dedup_survivors"] < stats["total_docs"]


def test_compact_parquet_dir(spark, tmp_path):
    from ai_powered_e_commerce_analytics_spark.sinks import compact_parquet_dir

    d = str(tmp_path / "corpus")
    # 6 tiny files across 3 batch_id partitions (streaming-sink layout)
    for b in range(3):
        spark.range(b * 100, b * 100 + 100).repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{d}/batch_id={b}")
    before = spark.read.parquet(d)
    expect = sorted(r.id for r in before.collect())
    n_files_before = len(
        [p for p in __import__("glob").glob(f"{d}/**/*.parquet", recursive=True)]
    )
    assert n_files_before == 6

    stats = compact_parquet_dir(spark, d, target_bytes_per_file=1 << 30)
    assert stats["compacted"] and stats["n_files_before"] == 6
    assert stats["n_files_target"] == 1
    after = spark.read.parquet(d)
    assert sorted(r.id for r in after.collect()) == expect
    assert "batch_id" in after.columns  # partition col preserved as data
    n_files_after = len(
        [p for p in __import__("glob").glob(f"{d}/*.parquet")]
    )
    assert n_files_after == 1

    # idempotent no-op on an already-compacted dir
    stats2 = compact_parquet_dir(spark, d, target_bytes_per_file=1 << 30)
    assert not stats2["compacted"]
