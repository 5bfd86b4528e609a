"""CLI surface (__main__.py): the medallion chain as subcommands."""

from __future__ import annotations

import argparse

from ai_powered_e_commerce_analytics_spark.__main__ import _run


def _ns(**kw):
    return argparse.Namespace(config=None, llm_base_url=None, **kw)


def test_cli_demo_runs_full_chain(spark, tmp_path):
    base = str(tmp_path / "med")
    out = _run(
        spark,
        _ns(cmd="demo", base=base, pulls=1, rows_per_pull=30),
    )
    assert out["collect"] == {"rows": 30}
    assert out["review"] == {"rows": 30}
    assert out["etl"] == {"rows": 30}
    assert out["date_kpis"] > 0 and out["user_kpis"] > 0


def test_cli_stage_commands_compose(spark, tmp_path):
    base = str(tmp_path / "med2")
    assert _run(
        spark, _ns(cmd="collect", base=base, pulls=1, rows_per_pull=10)
    ) == {"rows": 10}
    assert _run(spark, _ns(cmd="review", base=base)) == {"rows": 10}
    out = _run(spark, _ns(cmd="etl", base=base))
    assert out["rows"] == 10
    # a second review run sees an EMPTY bronze/new (archival moved the
    # consumed batch) — the P5 guard returns 0 instead of re-enriching
    assert _run(spark, _ns(cmd="review", base=base)) == {"rows": 0}


def test_cli_audit_reports_plan_shapes(spark):
    out = _run(
        spark,
        _ns(
            cmd="audit",
            sf_dir="/root/testdata/sf0.001",
            queries="tpch_q1_pricing_summary,part_name_er_pairs",
        ),
    )
    assert out["tpch_q1_pricing_summary"]["pushed_filters"] is True
    assert out["part_name_er_pairs"]["joins"].get("BroadcastHashJoin", 0) >= 1
    assert "error" not in out["tpch_q1_pricing_summary"]


def test_cli_ledger_refresh_keeps_unchanged_and_records_changed(
    spark, tmp_path
):
    """``refresh_ledger`` on two queries, one of them built on a
    build-time checkpoint (``events_active_users``): a row whose
    fingerprint matches keeps its round, a changed or missing row takes
    the newest CORRECTNESS round + 1, and every other row is kept."""
    import json

    from ai_powered_e_commerce_analytics_spark.plans import registry

    committed = registry.read_ledger()
    rows = committed["queries"]
    names = {"events_active_users", "tpch_q1_pricing_summary"}
    path = tmp_path / "PLAN_LEDGER.json"
    path.write_text(json.dumps(committed))
    assert registry.refresh_ledger(spark, names, path) == {}
    assert path.read_text() == registry.LEDGER_PATH.read_text()

    stale = dict(rows, events_active_users={
        "fingerprint": "0" * 16, "changed_round": 3,
    })
    del stale["tpch_q1_pricing_summary"]
    path.write_text(json.dumps({**committed, "queries": stale}))
    newest = max(rnd for rnd, _ in registry._round_files(registry._EVIDENCE_DIR))
    assert registry.refresh_ledger(spark, names, path) == dict.fromkeys(
        names, newest + 1
    )
    got = registry.read_ledger(path)["queries"]
    for n in names:
        assert got[n]["fingerprint"] == rows[n]["fingerprint"]
    assert {n: r for n, r in got.items() if n not in names} == {
        n: r for n, r in rows.items() if n not in names
    }


def test_registry_specs_declare_coverage():
    from ai_powered_e_commerce_analytics_spark.plans import QUERIES

    missing = [q.name for q in QUERIES if not q.covers]
    assert not missing, f"specs without covers tags: {missing}"


def test_cli_audit_flags_unpartitioned_windows(spark):
    """The Sort-parented SinglePartition detector: the parity ops'
    global-order windows flag; a global scalar agg (benign final stage
    over partial-agg rows) and a TakeOrderedAndProject top-N do not."""
    out = _run(
        spark,
        _ns(
            cmd="audit",
            sf_dir="/root/testdata/sf0.001",
            queries=(
                "item_id_assignment,pool_assignment,"
                "tokenizer_vocab_coverage,tpch_q6_forecast_revenue,"
                "item_id_assignment_ranged"
            ),
        ),
    )
    assert out["item_id_assignment"]["unpartitioned_window_sorts"] == 1
    assert out["pool_assignment"]["unpartitioned_window_sorts"] == 1
    # top-N via TakeOrderedAndProject — the r7 fix stays fixed
    assert out["tokenizer_vocab_coverage"]["unpartitioned_window_sorts"] == 0
    # global scalar agg: SinglePartition parent is HashAggregate, benign
    assert out["tpch_q6_forecast_revenue"]["unpartitioned_window_sorts"] == 0
    # the documented scale variant of the id assignment really avoids it
    assert out["item_id_assignment_ranged"]["unpartitioned_window_sorts"] == 0


def test_cli_compact_sketches_store(spark, tmp_path):
    # The maintenance playbook as one CLI call: drive the value-histogram
    # store through two committed micro-batches, compact via the
    # subcommand, and the merged read is unchanged while the partitions
    # are folded behind the tombstone watermark.
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        read_streamed_percentiles,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.sketch_store import (
        load_manifest,
    )
    from tests.test_sketch_compaction import _ORDERS, _drop_and_run, _STORES

    stream_fn, _, schema, _, _ = _STORES["histogram"]
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    for i, rows in enumerate(_ORDERS[:2]):
        _drop_and_run(spark, stream_fn, schema, rows, src, out, ckpt, i)
    before = read_streamed_percentiles(spark, out, qs=(0.5, 0.9))

    stats = _run(
        spark,
        _ns(cmd="compact-sketches", store="histogram", out=out,
            checkpoint=ckpt),
    )
    assert stats["folded"] >= 2 and stats["watermark"] >= 1
    assert load_manifest(out)["watermark"] == stats["watermark"]
    assert read_streamed_percentiles(spark, out, qs=(0.5, 0.9)) == before
    # idempotent: nothing new committed -> no-op
    again = _run(
        spark,
        _ns(cmd="compact-sketches", store="histogram", out=out,
            checkpoint=ckpt),
    )
    assert again["folded"] == 0


def test_cli_ann_index_lifecycle_and_drift(spark, tmp_path):
    """The ann-index subcommand's four actions compose: build ->
    drift (zero against own corpus) -> compact -> health (recall +
    retrain flag), plus the per-action arg validation at the parser."""
    import pytest

    from ai_powered_e_commerce_analytics_spark.__main__ import main
    from conftest import SF_DIR

    out = str(tmp_path / "idx")
    built = _run(
        spark,
        _ns(
            cmd="ann-index", action="build", out=out, sf_dir=SF_DIR,
            table="t_cli_ann", buckets=8, opq=False, recall_floor=0.5,
            max_queries=None,
        ),
    )
    assert built["table"] == "t_cli_ann" and built["generation"] == 0

    drift = _run(
        spark,
        _ns(
            cmd="ann-index", action="drift", out=out, sf_dir=SF_DIR,
            table=None, buckets=8, opq=False, recall_floor=0.5,
            max_queries=None,
        ),
    )
    assert drift["bands"] == {"stable": drift["n_dims"]}
    assert drift["max_shift_micro"] == 0 and drift["n_drifted"] == 0

    compacted = _run(
        spark,
        _ns(
            cmd="ann-index", action="compact", out=out, sf_dir=None,
            table=None, buckets=8, opq=False, recall_floor=0.5,
            max_queries=None,
        ),
    )
    assert compacted["generation"] == 1

    health = _run(
        spark,
        _ns(
            cmd="ann-index", action="health", out=out, sf_dir=SF_DIR,
            table=None, buckets=8, opq=False, recall_floor=0.0,
            max_queries=3,
        ),
    )
    assert health["n_queries"] == 3
    assert 0.0 <= health["recall"] <= 1.0
    assert health["retrain_needed"] is False

    # parser-level validation: missing per-action args exit with usage
    for argv in (
        ["ann-index", "--action", "build", "--out", out],
        ["ann-index", "--action", "health", "--out", out],
        ["ann-index", "--action", "drift", "--out", out],
    ):
        with pytest.raises(SystemExit) as e:
            main(argv)
        assert e.value.code == 2


def test_cli_corpus_index_lifecycle(spark, tmp_path):
    """The corpus-index subcommand's lifecycle composes end-to-end:
    init (seeded from the fixture corpus) -> ingest (a near-dup of a
    seeded doc is rejected, a fresh doc lands) -> stats -> compact ->
    sweep, plus parser-level arg validation for ingest."""
    import pytest

    from ai_powered_e_commerce_analytics_spark.__main__ import main
    from conftest import SF_DIR

    idx = str(tmp_path / "idx")

    def ns(action, **kw):
        base = dict(
            cmd="corpus-index", action=action, index=idx, seed_dir=None,
            buckets=None, src=None, corpus_out=None, checkpoint=None,
            watermark="2 hours", quality_gate=False, compact_every=None,
            no_static_prefilter=False,
        )
        base.update(kw)
        return _ns(**base)

    inited = _run(spark, ns("init", seed_dir=SF_DIR, buckets=32))
    assert inited["generation"] == 0 and inited["n_key_buckets"] == 32

    stats0 = _run(spark, ns("stats"))
    assert stats0["n_keys"] > 0 and stats0["max_bucket"] >= 1

    # ingest: doc 900000 reuses a seeded document's text (near-dup of
    # history -> rejected by the static pre-filter); doc 900001 is new
    seeded_text = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .where("doc_id = 1 and text is not null")
        .collect()[0]["text"]
    )
    src = str(tmp_path / "in")
    spark.createDataFrame(
        [
            (900000, seeded_text, "2024-01-01 00:00:00"),
            (900001,
             "an entirely novel document about manifest retention grace "
             "and bucket pruned key probes at ingest time",
             "2024-01-01 00:00:01"),
        ],
        "doc_id long, text string, ts string",
    ).coalesce(1).write.mode("overwrite").json(src)
    out = _run(
        spark,
        ns(
            "ingest", src=src, corpus_out=str(tmp_path / "corpus"),
            checkpoint=str(tmp_path / "ck"),
        ),
    )
    assert out["corpus_docs"] == 1
    got = spark.read.parquet(str(tmp_path / "corpus")).collect()
    assert [r.doc_id for r in got] == [900001]

    stats1 = _run(spark, ns("stats"))
    assert stats1["n_keys"] > stats0["n_keys"]

    compacted = _run(spark, ns("compact"))
    assert compacted["generation"] == 1 and compacted["tokens"] == ["base"]
    swept = _run(spark, ns("sweep"))
    assert swept["swept"]
    stats2 = _run(spark, ns("stats"))
    assert stats2["n_distinct_keys"] == stats2["n_keys"]

    with pytest.raises(SystemExit) as e:
        main(["corpus-index", "--action", "ingest", "--index", idx])
    assert e.value.code == 2
