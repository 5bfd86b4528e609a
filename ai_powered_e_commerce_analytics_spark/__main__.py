"""CLI entry point: ``python -m ai_powered_e_commerce_analytics_spark``.

The reference repo runs as applications (collector service, transformer
main.py, Go enricher); this module is the switch-over surface — the same
pipelines as one CLI over a base directory::

    python -m ai_powered_e_commerce_analytics_spark demo  --base /tmp/med
    python -m ai_powered_e_commerce_analytics_spark collect --base /tmp/med
    python -m ai_powered_e_commerce_analytics_spark review  --base /tmp/med
    python -m ai_powered_e_commerce_analytics_spark etl     --base /tmp/med
    python -m ai_powered_e_commerce_analytics_spark pretrain \
        --sf-dir /root/testdata/sf0.01 --out /tmp/corpus

Layout under ``--base``::

    bronze/new  bronze/processed  silver/new  silver/processed
    gold/       kpis/{user_kpis,shop_kpis,date_kpis}

No real product API or LLM endpoint is assumed: ``collect`` uses a
deterministic synthetic fetch and the enrichment stages default to the
StubLLMClient; point ``--llm-base-url`` at any OpenAI-compatible server
(the reference's llama.cpp docker service qualifies) for real calls.
"""

from __future__ import annotations

import argparse
import json
import sys


def _synthetic_fetch(n: int):
    """Deterministic stand-in for the reference's product API pull."""
    rows = [
        {
            "product_name": f"Product_{i % 40}",
            "price": round(1.0 + (i * 7.3) % 499, 2),
            "quantity": 1 + i % 20,
            "category": ["Electronics", "Food", "Clothing"][i % 3],
            "description": f"A useful item number {i}",
            "availability": i % 10 != 0,
            "discount_percentage": float(i % 50),
            "date": f"2026-07-{1 + i % 28:02d}",
        }
        for i in range(n)
    ]
    return lambda: rows


def _client_factory(args):
    if getattr(args, "llm_base_url", None):
        url = args.llm_base_url
        model = getattr(args, "llm_model", None) or "default"
        if getattr(args, "llm_protocol", "openai") == "ollama":
            from .operators.enrich import OllamaClient

            return lambda: OllamaClient(url, model)
        from .operators.enrich import OpenAICompatClient

        return lambda: OpenAICompatClient(url, model)
    from .operators.enrich import StubLLMClient

    return StubLLMClient


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="ai_powered_e_commerce_analytics_spark")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    def base_cmd(name, help_):
        c = sub.add_parser(name, help=help_)
        c.add_argument("--base", required=True, help="pipeline base dir")
        c.add_argument("--config", help="EngineConfig YAML")
        c.add_argument("--llm-base-url", help="LLM endpoint base URL")
        c.add_argument(
            "--llm-protocol", choices=("openai", "ollama"), default="openai",
            help="endpoint dialect: OpenAI-compatible or Ollama-native",
        )
        c.add_argument(
            "--llm-model", default="default",
            help="model name sent to the endpoint",
        )
        return c

    c = base_cmd("collect", "poll products API (or synthetic) -> bronze batch")
    c.add_argument("--pulls", type=int, default=2)
    c.add_argument("--rows-per-pull", type=int, default=50)
    c.add_argument("--url", help="product API endpoint (GET, JSON list)")
    c.add_argument("--api-key", help="X-API-Key header for --url")
    base_cmd("review", "bronze/new -> LLM reviews -> silver chunks")
    base_cmd("etl", "silver/new -> sentiments -> gold + KPI upserts")
    c = base_cmd("demo", "collect + review + etl end-to-end, print KPIs")
    c.add_argument("--pulls", type=int, default=2)
    c.add_argument("--rows-per-pull", type=int, default=50)
    c.add_argument("--url", help="product API endpoint (GET, JSON list)")
    c.add_argument("--api-key", help="X-API-Key header for --url")

    c = sub.add_parser("pretrain", help="corpus curation run over documents")
    c.add_argument("--sf-dir", required=True)
    c.add_argument("--out", required=True)

    c = sub.add_parser(
        "audit",
        help="physical-plan audit of registry queries (joins, exchanges, "
        "pushdown) — regenerates SCALE.md §1 evidence",
    )
    c.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    c.add_argument(
        "--queries", help="comma-separated names (default: whole registry)"
    )

    c = sub.add_parser(
        "compact-sketches",
        help="replay-safe compaction of a streamed-sketch store: fold "
        "committed batch_id partitions (frontier = highest committed "
        "id) into the base and advance the tombstone watermark — the "
        "maintenance step the store docstrings prescribe for "
        "long-lived streams. Superseded files are kept for one "
        "generation (concurrent readers finish against intact paths) "
        "and swept at the start of the next run",
    )
    c.add_argument(
        "--store", required=True,
        choices=("cms", "histogram", "wau", "wsample", "cov"),
    )
    c.add_argument("--out", required=True, help="store directory")
    c.add_argument(
        "--checkpoint", required=True, help="the stream's checkpoint dir"
    )
    c.add_argument(
        "--k", type=int, default=None,
        help="per-source reservoir size (wsample store only; defaults "
        "to the stream's WSAMPLE_STREAM_K)",
    )

    c = sub.add_parser(
        "ann-index",
        help="persisted IVF-PQ index lifecycle: build (train + "
        "materialize, optionally OPQ-rotated), compact (fold append "
        "residue into a fresh bucketed generation behind the "
        "retention-grace manifest swap), health (served recall@k vs "
        "exact L2 ground truth with the retrain-needed floor). COST "
        "NOTE: health's exact ground truth is one full corpus scan "
        "per invocation (corpus x Q broadcast nested loop) — size the "
        "query set with --max-queries and schedule it accordingly; "
        "the cheap per-append leading indicator is the embedding-drift "
        "monitor (embedding_drift_psi), not this check",
    )
    c.add_argument(
        "--action", required=True,
        choices=("build", "compact", "health", "drift"),
    )
    c.add_argument("--out", required=True, help="index artifact dir")
    c.add_argument("--sf-dir", help="corpus dir (build / health)")
    c.add_argument("--table", help="codes catalog table name (build)")
    c.add_argument("--buckets", type=int, default=8)
    c.add_argument(
        "--opq", action="store_true",
        help="train/encode PQ in the OPQ-rotated space (build)",
    )
    c.add_argument("--recall-floor", type=float, default=0.5)
    c.add_argument(
        "--max-queries", type=int, default=None,
        help="health: cap the query set at the first N standard query "
        "ids (deterministic sample) — bounds the exact-ground-truth "
        "cost, which is linear in Q on top of the corpus scan",
    )

    c = sub.add_parser(
        "corpus-index",
        help="persisted band-key corpus index lifecycle (full-history "
        "ingest near-dedup, operators/corpus_index.py): init (create, "
        "optionally seeding keys from an existing corpus), ingest "
        "(run the deployable documents_ingest_stream with the index "
        "wired in: static pre-filter + live per-batch check + "
        "idempotent key append), compact (fold append residue into "
        "one distinct generation behind the manifest swap), sweep "
        "(delete tombstoned generations once readers drained), stats "
        "(generation/tokens/key counts + the largest key bucket — "
        "the skew observability a re-bucketing decision reads)",
    )
    c.add_argument(
        "--action", required=True,
        choices=("init", "ingest", "compact", "sweep", "stats"),
    )
    c.add_argument("--index", required=True, help="index artifact dir")
    c.add_argument(
        "--seed-dir",
        help="init: seed the index with band keys of <dir>/documents"
        ".parquet (the already-accepted corpus)",
    )
    c.add_argument(
        "--buckets", type=int, default=None,
        help="init: key-bucket count for the partitioned layout "
        "(default N_KEY_BUCKETS; production guidance in the module "
        "docstring)",
    )
    c.add_argument("--src", help="ingest: incoming JSON docs dir")
    c.add_argument("--corpus-out", help="ingest: corpus parquet dir")
    c.add_argument("--checkpoint", help="ingest: stream checkpoint dir")
    c.add_argument("--watermark", default="2 hours")
    c.add_argument(
        "--quality-gate", action="store_true",
        help="ingest: apply the batch quality-rule battery before dedup",
    )
    c.add_argument(
        "--no-static-prefilter", action="store_true",
        help="ingest: skip the stream-start static index pre-filter "
        "(which re-reads O(index) per micro-batch and only buys "
        "leaner LSH state) and rely on the per-batch DPP-probed live "
        "check alone — the right trade once the index is very large",
    )
    c.add_argument(
        "--compact-every", type=int, default=None,
        help="ingest: fold the index's append residue into a fresh "
        "generation whenever this many token dirs have accumulated "
        "(bounds manifest size and file-listing cost on long streams; "
        "tombstoned generations still need a post-stream sweep)",
    )

    args = p.parse_args(argv)

    # per-action required args (ADVICE r12): fail at the parser with a
    # usage message instead of an opaque downstream error (build without
    # --table previously passed table=None into saveAsTable)
    if args.cmd == "corpus-index" and args.action == "ingest" and not (
        args.src and args.corpus_out and args.checkpoint
    ):
        p.error(
            "corpus-index --action ingest requires --src, --corpus-out "
            "and --checkpoint"
        )
    if args.cmd == "ann-index":
        if args.action == "build" and not (args.sf_dir and args.table):
            p.error("ann-index --action build requires --sf-dir and --table")
        if args.action in ("health", "drift") and not args.sf_dir:
            p.error(f"ann-index --action {args.action} requires --sf-dir")

    import os

    if args.cpus:
        os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    from .session import get_spark

    spark = get_spark(app_name=f"cli-{args.cmd}")
    try:
        out = _run(spark, args)
        print(json.dumps(out))
        return 0
    finally:
        spark.stop()


def _dirs(base: str) -> dict[str, str]:
    return {
        "bronze_new": f"{base}/bronze/new",
        "bronze_done": f"{base}/bronze/processed",
        "silver_new": f"{base}/silver/new",
        "silver_done": f"{base}/silver/processed",
        "gold": f"{base}/gold",
        "kpis": f"{base}/kpis",
    }


def _run(spark, args) -> dict:
    from .pipeline import (
        EngineConfig,
        run_collector,
        run_etl_pipeline,
        run_pretrain_pipeline,
        run_review_pipeline,
    )

    if args.cmd == "pretrain":
        return run_pretrain_pipeline(spark, args.sf_dir, args.out)
    if args.cmd == "audit":
        return _audit(spark, args)
    if args.cmd == "ann-index":
        return _ann_index(spark, args)
    if args.cmd == "corpus-index":
        return _corpus_index(spark, args)
    if args.cmd == "compact-sketches":
        from .streaming.jobs import WSAMPLE_STREAM_K
        from .streaming.sketch_store import (
            compact_cms_store,
            compact_covariance_store,
            compact_value_histogram_store,
            compact_wau_store,
            compact_weighted_sample_store,
        )

        if args.store == "wsample":
            return compact_weighted_sample_store(
                spark, args.out, args.checkpoint,
                k=args.k or WSAMPLE_STREAM_K,
            )
        fn = {
            "cms": compact_cms_store,
            "cov": compact_covariance_store,
            "histogram": compact_value_histogram_store,
            "wau": compact_wau_store,
        }[args.store]
        return fn(spark, args.out, args.checkpoint)

    d = _dirs(args.base)
    cfg = (
        EngineConfig.from_yaml(args.config)
        if getattr(args, "config", None)
        else None
    )
    factory = _client_factory(args)

    def collect():
        return run_collector(
            spark,
            args.url if getattr(args, "url", None)
            else _synthetic_fetch(args.rows_per_pull),
            d["bronze_new"],
            pulls=args.pulls,
            config=cfg,
            api_key=getattr(args, "api_key", None),
        )

    def review():
        return run_review_pipeline(
            spark,
            d["bronze_new"],
            d["silver_new"],
            archive_dir=d["bronze_done"],
            config=cfg,
            client_factory=factory,
        )

    def etl():
        return run_etl_pipeline(
            spark,
            d["silver_new"],
            d["gold"],
            d["kpis"],
            archive_dir=d["silver_done"],
            config=cfg,
            client_factory=factory,
        )

    if args.cmd == "collect":
        return collect()
    if args.cmd == "review":
        return review()
    if args.cmd == "etl":
        return etl()
    # demo: the full medallion chain + a KPI readback proof
    from .sinks import read_upsert_table

    stats = {"collect": collect(), "review": review(), "etl": etl()}
    for name in ("user_kpis", "shop_kpis", "date_kpis"):
        stats[name] = read_upsert_table(spark, f"{d['kpis']}/{name}").count()
    return stats


def _ann_index(spark, args) -> dict:
    """CLI surface of the operators/ann_index.py lifecycle. ``health``
    serves the standard query set (vec_id < KNN_QUERIES) from the
    persisted index and measures recall against exact squared-L2 over
    the raw corpus — the retrain-trigger an operator crons."""
    from pyspark.sql import functions as F

    from .operators.ann_index import (
        build_ivfpq_index,
        check_index_health,
        compact_index,
    )

    if args.action == "build":
        return build_ivfpq_index(
            spark, args.sf_dir, args.out,
            table=args.table, buckets=args.buckets, opq=args.opq,
        )
    if args.action == "compact":
        return compact_index(spark, args.out)
    if args.action == "drift":
        # the cheap per-ingest leading indicator: one contraction over
        # the corpus at --sf-dir vs the index's frozen training stats
        from .operators.ann_index import check_index_drift
        from .plans.simsearch import _emb as _emb_drift

        bands: dict[str, int] = {}
        max_shift = None
        dims_major: list[int] = []
        rows = check_index_drift(
            spark, args.out,
            _emb_drift(spark, args.sf_dir).select("vec_id", "emb"),
        ).collect()
        for r in rows:
            bands[r["drift_band"]] = bands.get(r["drift_band"], 0) + 1
            if r["drift_band"] == "major":
                dims_major.append(int(r["dim"]))
            sm = r["shift_micro"]
            if sm is not None and (max_shift is None or sm > max_shift):
                max_shift = int(sm)
        return {
            "bands": bands,
            "max_shift_micro": max_shift,
            "n_drifted": sum(
                v for b, v in bands.items() if b in ("moderate", "major")
            ),
            "dims_major": sorted(dims_major),
            "n_dims": len(rows),
        }
    from .plans.simsearch import KNN_QUERIES, _emb

    base = _emb(spark, args.sf_dir)
    n_q = KNN_QUERIES
    if args.max_queries is not None:
        n_q = min(n_q, args.max_queries)
    queries = base.where(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    return check_index_health(
        spark, args.out, queries, base.select("vec_id", "emb"),
        recall_floor=args.recall_floor,
    )


def _corpus_index(spark, args) -> dict:
    """CLI surface of the operators/corpus_index.py lifecycle plus the
    deployable index-backed ingest job (streaming/jobs.py
    documents_ingest_stream with corpus_index_dir wired)."""
    from pyspark.sql import functions as F

    from .operators.corpus_index import (
        N_KEY_BUCKETS,
        compact_corpus_index,
        init_corpus_index,
        load_corpus_index,
        sweep_corpus_index,
    )
    from .sources import load_table

    if args.action == "init":
        docs = None
        if args.seed_dir:
            docs = load_table(spark, args.seed_dir, "documents").select(
                "doc_id", "text"
            )
        return init_corpus_index(
            spark, args.index, docs,
            n_key_buckets=args.buckets or N_KEY_BUCKETS,
        )
    if args.action == "ingest":
        from .streaming.jobs import documents_ingest_stream

        q = documents_ingest_stream(
            spark, args.src, args.corpus_out, args.checkpoint,
            watermark=args.watermark,
            quality_gate=args.quality_gate,
            corpus_index_dir=args.index,
            index_compact_every=args.compact_every,
            static_prefilter=not args.no_static_prefilter,
        )
        q.awaitTermination()
        n_docs = spark.read.parquet(args.corpus_out).count()
        return {"corpus_docs": n_docs}
    if args.action == "compact":
        return compact_corpus_index(spark, args.index)
    if args.action == "sweep":
        return {"swept": sweep_corpus_index(args.index)}
    # stats
    from .sources.manifest import load_json_manifest

    manifest = load_json_manifest(args.index, "_corpus_index.json")
    if manifest is None:
        raise ValueError(f"no corpus index at {args.index}")
    idx = load_corpus_index(spark, args.index)
    out = dict(manifest)
    if idx is None:
        out.update(n_keys=0, n_distinct_keys=0, max_bucket=0)
        return out
    agg = idx.agg(
        F.count("*").alias("n"),
        F.count_distinct("band", "band_sig").alias("d"),
    ).collect()[0]
    top = (
        idx.groupBy("kb").count().orderBy(F.desc("count")).limit(1).collect()
    )
    out.update(
        n_keys=int(agg["n"]),
        n_distinct_keys=int(agg["d"]),
        max_bucket=int(top[0]["count"]) if top else 0,
    )
    return out


def _audit(spark, args) -> dict:
    """Executed-plan summary per registry query: join operators chosen,
    exchange count, Python (Arrow) islands, and whether any scan filter
    was pushed down — the machine-checkable form of SCALE.md §1.
    Iterative queries are audited through their PLAN_PROBES entry (one
    representative pre-checkpoint round, built from the same round-body
    code the loop executes) — the returned frame of those queries
    starts at a lineage-truncating localCheckpoint and would audit as
    an empty plan."""
    import re
    from collections import Counter

    from .plans import QUERIES
    from .plans.probes import PLAN_PROBES

    names = set(args.queries.split(",")) if args.queries else None
    out: dict[str, dict] = {}
    for spec in QUERIES:
        if names is not None and spec.name not in names:
            continue
        probe = PLAN_PROBES.get(spec.name)
        try:
            df = (probe or spec.spark)(spark, args.sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - audit must not die mid-list
            out[spec.name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        plan_lines = plan.splitlines()
        joins = Counter(
            re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
                r"|BroadcastNestedLoopJoin|CartesianProduct)",
                plan,
            )
        )
        out[spec.name] = {
            "joins": dict(joins),
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "python_islands": len(
                re.findall(r"MapInPandas|FlatMapGroupsInPandas", plan)
            ),
            # ANY scan pushed a filter (a join's unfiltered dimension
            # scan printing "PushedFilters: []" must not mask it)
            "pushed_filters": bool(
                re.search(r"PushedFilters: \[(?!\])", plan)
            ),
            # full-value-map exact percentile aggregates (memory-unsafe
            # at non-dimension grain; approx_percentile doesn't count)
            "exact_percentile_aggs": len(
                re.findall(r"(?<!approx_)\bpercentile\(", plan)
            ),
            # Sort-parented SinglePartition exchanges = an unpartitioned
            # window moving DATA-SIZED rows to one task (a physical
            # Window needs Sort directly above the exchange; a global
            # orderBy exchanges by rangepartitioning instead, and a
            # top-N limit becomes TakeOrderedAndProject with no exchange
            # at all). The far more common benign SinglePartition — a
            # global scalar aggregate's final stage, which carries only
            # per-partition PARTIAL-AGG rows — has HashAggregate as the
            # parent line and is deliberately NOT counted. Zero is the
            # target; the nonzero entries are the three reference-parity
            # ops (global contiguous ids / seeded shuffle — SURVEY §7,
            # `_ranged` is the scale variant) and the two time-series
            # queries whose window input is an ALREADY-CONTRACTED
            # O(months)/O(days) frame (trailing_zscore caller contract).
            "unpartitioned_window_sorts": sum(
                1
                for i, ln in enumerate(plan_lines)
                if "Exchange SinglePartition" in ln
                and i > 0
                and re.search(r"\bSort \[", plan_lines[i - 1])
            ),
        }
        if probe is not None:
            out[spec.name]["probe"] = True  # one pre-checkpoint round
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(False)
    return out


if __name__ == "__main__":
    sys.exit(main())
