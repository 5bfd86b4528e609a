#!/usr/bin/env python
"""Per-round bench harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Output contract (round-6 fix — BENCH_r05.json was lost to a single
~4 KB JSON line that the driver's tail capture truncated mid-stream):
the FINAL stdout line is a COMPACT summary — {"metric", "value",
"unit", "errors", "iters", "sf", "n_queries"} — guaranteed short
enough to survive any tail capture. The full per-query min/median maps
are printed on the PRECEDING stdout line AND written to
``BENCH_DETAIL.json`` next to this script for the judge.

Each query is executed to completion through the ``noop`` sink — unlike
``count()``, which lets Catalyst prune every projection column and would
measure map-only queries as a bare scan — and timed wall-clock.

Each query runs ``$SPARK_GRAFT_BENCH_ITERS`` times (default 3) after a
JVM/IO warmup pass; the headline per-query number is the MIN (the least
noise-contaminated measurement of the plan), with the median reported
alongside under "queries_median" for run-to-run noise visibility.
"""

from __future__ import annotations

import json
import os
import statistics
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ITERS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3")))

# Representative of every engine path: scan+agg (q1), shuffle join (q3/q5),
# KPI fold (user/shop/date), window (sessions, top3), temporal joins
# (as-of union+window, bucketed range join), funnel + session-revenue
# (chained user-keyed aggs), basket pair expansion (copurchase), cohort
# self-join (retention), salted skew aggregation, text map+LSH join
# (minhash), simhash dedup (16-bit demo + 60-bit banded), iterative
# connected components, hash dedup at doc and chunk grain, containment /
# edit-distance verification axes, ANN (knn brute force / map-side partial
# top-k / LSH bucket join / IVF), multimodal mapInPandas, and the
# bounded-shuffle per-source selections (top-k quota, token-budget
# curriculum, sequence packing).
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "user_kpis",
    "shop_kpis",
    "date_kpis",
    "events_hourly_rollup",
    "events_user_sessions",
    "events_funnel",
    "events_session_revenue",
    "asof_last_click_before_purchase",
    "range_join_clicks_before_purchase",
    "top3_orders_per_customer",
    "copurchase_pairs",
    "retention_cohorts",
    "salted_distinct_quantities",
    "text_quality",
    "tfidf_top_terms",
    "dedup_exact",
    "chunk_dedup_exact",
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_edit_distance_verify",
    "dedup_simhash",
    "dedup_simhash64",
    "dedup_components",
    "embedding_knn_bruteforce",
    "embedding_knn_partial_topk",
    "simsearch_lsh_bucket_join",
    "simsearch_ivf_topk",
    "multimodal_features",
    "decontaminate_ngram_overlap",
    "doc_chunk_tokens",
    "source_mix_rebalance",
    "per_source_topk_sample",
    "token_budget_curriculum",
    "pack_sequences_greedy",
    "bm25_rank_topk",
    "order_value_outliers_zscore",
    "order_value_winsorized_stats",
    "join_key_skew_profile",
    "bloom_pruned_part_revenue",
    "events_transition_matrix",
    "events_hourly_gapfill",
    "quality_filter_battery",
    "rfm_customer_segments",
    "embedding_quantize_error",
    "kmeans_lloyd_clusters",
    "source_temperature_mix",
    "session_path_topk",
    "term_cooccurrence_pmi",
    "doc_unigram_surprisal",
    "copurchase_pagerank",
    "embedding_dim_stats",
    "monthly_revenue_mom",
    "cms_heavy_hitters",
    "customer_segment_scd2",
    "referential_integrity_report",
    "source_kl_divergence",
    "events_active_users",
    "monthly_first_vs_repeat",
    "copurchase_triangles",
    "semantic_dedup_semdedup",
    "table_profile_orders",
    "table_profile_orders_hll",
    "incremental_daily_revenue",
    "daily_revenue_anomalies",
    "order_value_histogram",
    "events_dedup_within_window",
    "part_name_er_pairs",
    "tokenizer_vocab_coverage",
    "copurchase_item_similarity",
    "shipping_sla_percentiles",
    "dataset_card_documents",
    "customer_k_anonymity",
    "sliding_wau_hll_union",
    "copurchase_association_rules",
    "customer_revenue_pareto",
    "nation_revenue_hhi",
    # round-7 additions (75 -> 81; the r6-comparable subset is the
    # first 75 — compare per-query, the suite sum grew by design)
    "term_doc_frequency_curve",
    "doc_length_log2_histogram",
    "customer_clv_cohort",
    "ship_delay_ols_slope",
    "events_dwell_percentiles",
    "decontaminate_embedding_cosine",
    # round-9 additions (85 -> 89; r8-comparable subset = first 85)
    "customer_order_value_quartiles",
    "order_value_mad_outliers",
    "customer_l_diversity",
    "daily_revenue_ewma",
    # round-10 additions (89 -> 92; r9-comparable subset = first 89).
    # bpe_token_counts is registry-gated but not benched: it re-runs
    # bpe_merges_topn's training fixed point plus only a tiny
    # explode-agg — timing it would double-pay the loop for no new
    # plan information.
    "bpe_merges_topn",
    "join_size_estimate_events_orders",
    "doc_bigram_surprisal",
    # late round-10 additions (92 -> 95)
    "part_price_size_skyline",
    "order_value_quantile_bins",
    "weighted_sample_aes",
    # round-11 additions (95 -> 101; r10-comparable subset = first 95).
    # simsearch_ivfpq_recall and train_test_split_leakage_safe are
    # registry-gated but not benched: each re-runs an already-benched
    # expensive fixed point (PQ training / CC labeling) plus only a
    # tiny join or per-row gate — timing them would double-pay the
    # loop for no new plan information.
    "part_price_size_date_skyline",
    "weighted_sample_allocated",
    "embedding_pq_codebook",
    "simsearch_ivfpq_topk",
    "doc_novelty_profile",
    "embedding_kcenter_coreset",
    "embedding_covariance",
    # round-12 additions (102 -> 108; r11-comparable subset = first
    # 102). simsearch_ivfpq_rerank and embedding_pca_explained_variance
    # are registry-gated but not benched: the former re-runs
    # simsearch_ivfpq_topk's training fixed point with k widened plus
    # only a query-grain broadcast fetch + window, the latter re-runs
    # embedding_opq_rotation's covariance + Jacobi fixed point plus a
    # 64-row cumsum — the r11 recall-monitor exclusion rationale
    # applies verbatim to both.
    "embedding_opq_rotation",
    "customer_reorder_survival",
    "segment_reorder_survival",
    "copurchase_rule_significance",
    "doc_pii_scan",
    "source_length_psi",
    # round-13 additions (108 -> ...; r12-comparable subset = first 108)
    "embedding_drift_psi",
    "multimodal_dedup_phash",
    "sentiment_annotator_kappa",
    "unigram_lm_em_round",
    "hybrid_search_rrf",
    "dedup_repeated_ngram_spans",
    "doc_unigram_perplexity",
    "llm_judge_bradley_terry",
    "embedding_corr_drift",
    # round-14 additions
    "retrieval_ndcg_mrr",
    # round-15 registrations (implemented r14, queued for window budget)
    "retrieval_rank_overlap_rbo",
    # round-15 addition: full-history ingest dedup, batch twin
    "dedup_against_corpus_index",
    # llm_judge_calibration is registry-gated but not benched: it is a
    # driver-side bucket fold off the SAME single (winner, loser)-grain
    # contraction llm_judge_bradley_terry already times — zero new
    # corpus work (the contrastive_pair_mining exclusion rationale).
    # contrastive_pair_mining is registry-gated but not benched: it is
    # a labeled CASE/filter reading of the SAME _lsh_verified_pairs
    # compute dedup_minhash_lsh already times (the
    # neardup_threshold_sweep / lsh_candidate_efficiency exclusion
    # rationale verbatim).
]


def cpu_probe_s() -> float:
    """Fixed-work single-core CPU probe (VERDICT r10 #4): the SCALE.md
    §3a4 machine-state datum, now recorded IN every bench artifact so
    cross-round comparisons can be normalized arithmetically instead of
    reconstructing host state after the fact. Pure-Python integer loop
    (tracks CPU frequency, immune to SIMD/turbo asymmetries), fixed
    iteration count, min of 3 — on a healthy host this reads ~0.25-0.5 s;
    the adjudicated r7/r10 degraded episodes read ~2x that. Compare
    probe ratios before comparing suite sums (memory:
    bench-noise-discipline)."""
    best = float("inf")
    for _ in range(3):
        start = time.perf_counter()
        acc = 0
        for i in range(5_000_000):
            acc += i * i
        best = min(best, time.perf_counter() - start)
    return round(best, 4)


def jit_compile_ms(jvm) -> int:
    """Milliseconds the JVM's JIT compiler threads have spent compiling
    since it started (all tiers)."""
    return int(
        jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()
    )


def code_heap_mb(jvm) -> dict[str, float]:
    """Used MB of each code heap segment (non-nmethods, profiled = C1,
    non-profiled = C2) and their total: how full the code cache is."""
    used = {
        pool.getName().removeprefix("CodeHeap ").strip("'"): pool.getUsage().getUsed() / 2**20
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if pool.getName().startswith("CodeHeap ")
    }
    used["total"] = sum(used.values())
    return {k: round(v, 1) for k, v in used.items()}


def _isolate_one(name: str) -> None:
    """Subprocess body for ``--isolate``: ONE query in a FRESH JVM
    (warmup + ITERS timed runs), JSON on the last stdout line. This is
    the SCALE.md §3b 'isolated fresh sessions' protocol — the
    adjudication step for suite-level drift: a query whose isolated
    number holds its anchor while its in-suite number drifted is
    machine state, not a plan regression (memory:
    bench-noise-discipline)."""
    from ai_powered_e_commerce_analytics_spark.functions.core import released
    from ai_powered_e_commerce_analytics_spark.plans import query_map
    from ai_powered_e_commerce_analytics_spark.session import class_archive, get_spark

    start = time.perf_counter()
    spark = get_spark(app_name=f"bench-isolate-{name}")
    session_start_s = round(time.perf_counter() - start, 3)
    queries = query_map()

    def run(q: str) -> None:
        with released(spark):
            queries[q](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()

    try:
        run("tpch_q1_pricing_summary")  # JVM + parquet-footer warmup
    except Exception:
        pass
    times: list[float] = []
    err = None
    jvm = spark.sparkContext._jvm
    jit0 = jit_compile_ms(jvm)
    for _ in range(ITERS):
        start = time.perf_counter()
        try:
            run(name)
        except Exception as exc:  # noqa: BLE001 - report, don't crash
            err = f"{type(exc).__name__}: {exc}"[:500]
            break
        times.append(time.perf_counter() - start)
    print(json.dumps({
        "name": name, "times": times, "err": err,
        "jit_compile_ms": jit_compile_ms(jvm) - jit0,
        "code_heap_mb": code_heap_mb(jvm)["total"],
        "session_start_s": session_start_s,
        "class_archive": class_archive(spark),
    }))
    spark.stop()


def isolate_main(names: list[str]) -> None:
    """``bench.py --isolate q1,q2``: re-run each named query in its own
    fresh JVM and print ONE summary JSON line — the one-command drift
    adjudication SCALE.md §3b used to run by hand."""
    import subprocess
    import sys

    probe = cpu_probe_s()
    unknown = [n for n in names if n not in HEADLINE]
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    jit_ms: dict[str, int] = {}
    code_heap: dict[str, float] = {}
    session_start: dict[str, float] = {}
    archive: dict[str, str] = {}
    errors: dict[str, str] = dict.fromkeys(unknown, "not in HEADLINE")
    for name in names:
        if name in errors:
            continue
        try:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--_one", name],
                capture_output=True, text=True, timeout=1800,
            )
        except subprocess.TimeoutExpired:
            # One hung query must not crash the whole adjudication run
            # (ADVICE r10) — record it like any other failure and keep
            # measuring the rest.
            errors[name] = "timeout"
            continue
        try:
            res = json.loads(proc.stdout.strip().splitlines()[-1])
        except (IndexError, ValueError):
            errors[name] = f"subprocess failed: {proc.stderr[-300:]}"
            continue
        jit_ms[name] = res["jit_compile_ms"]
        code_heap[name] = res["code_heap_mb"]
        session_start[name] = res["session_start_s"]
        archive[name] = res["class_archive"]
        if res.get("err"):
            errors[name] = res["err"]
        elif res["times"]:
            timings[name] = round(min(res["times"]), 3)
            medians[name] = round(statistics.median(res["times"]), 3)
    print(json.dumps({
        "metric": "isolated-rerun wall time (fresh JVM per query)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "errors": errors,
        "iters": ITERS,
        "sf": SF_DIR,
        "n_queries": len(names),
        "probe_s": probe,
        "queries": timings,
        "queries_median": medians,
        "jit_compile_ms": jit_ms,
        "code_heap_mb": code_heap,
        "session_start_s": session_start,
        "class_archive": archive,
    }))


def main() -> None:
    from ai_powered_e_commerce_analytics_spark.functions.core import released
    from ai_powered_e_commerce_analytics_spark.plans import query_map
    from ai_powered_e_commerce_analytics_spark.session import class_archive, get_spark

    probe = cpu_probe_s()  # host-state datum, BEFORE the JVM spins up
    start = time.perf_counter()
    spark = get_spark(app_name="bench")
    session_start_s = round(time.perf_counter() - start, 3)
    queries = query_map()

    def run(name: str) -> None:
        # The scope frees what the query shared once its consumption is
        # complete. Leaked checkpoint blocks crowd the unified memory
        # region until broadcast builds fail (observed: a mid-suite OOM
        # slowed the whole tail by ~15%), and a surviving CacheManager
        # entry would swap an InMemoryRelation into a later query's equal
        # sub-plan, so that query would plan unlike it does in isolation.
        with released(spark):
            df = queries[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()

    # Generated-class compilations (Janino), counted per iteration into
    # BENCH_DETAIL.json, and per query from the second iteration on
    # (codegen_recompiles): a query that recompiles on a re-run shows
    # here. jit_compile_ms is the JIT's share of the same iterations.
    jvm = spark.sparkContext._jvm
    compile_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # Warm up the JVM, the session and the first parquet read once. This
    # does not warm the suite: the first iteration still compiles every
    # query's generated classes and infers each table's schema. Later
    # iterations reuse both (session.py sizes the class cache to the
    # suite; sources.readers memoizes schemas), so the per-query MIN is
    # a warm number, and codegen_compiles shows whether it was.
    compiled = compile_hist.getCount()
    try:
        run("tpch_q1_pricing_summary")
    except Exception:
        pass  # a broken warmup query must not kill the whole bench
    codegen_compiles = {"warmup": compile_hist.getCount() - compiled, "iterations": []}

    # One failing query records an error entry and the suite continues —
    # the round-3 bench was lost entirely to a single AnalysisException
    # (driver-regenerated events.ts type change); never again.
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    errors: dict[str, str] = {}
    jit_ms: list[int] = []
    recompiles: dict[str, list[int]] = {}
    for i in range(ITERS):
        compiled, jit0 = compile_hist.getCount(), jit_compile_ms(jvm)
        for name in HEADLINE:
            if name in errors:
                continue
            before = compile_hist.getCount()
            start = time.perf_counter()
            try:
                run(name)
            except Exception as exc:  # noqa: BLE001 - record and move on
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            samples[name].append(time.perf_counter() - start)
            if i:
                recompiles.setdefault(name, []).append(compile_hist.getCount() - before)
        codegen_compiles["iterations"].append(compile_hist.getCount() - compiled)
        jit_ms.append(jit_compile_ms(jvm) - jit0)

    # A query that succeeded in an early iteration but errored later
    # appears in both samples and errors; keep the two mutually
    # exclusive — an errored query contributes NOTHING to the headline.
    ok = {
        name: ts
        for name, ts in samples.items()
        if ts and name not in errors
    }
    timings = {name: round(min(ts), 3) for name, ts in ok.items()}
    medians = {name: round(statistics.median(ts), 3) for name, ts in ok.items()}

    try:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:  # dir not named sf<number> — never lose the run
        sf = SF_DIR
    summary = {
        "metric": "headline-suite wall time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "errors": errors,
        "iters": ITERS,
        "sf": sf,
        "n_queries": len(HEADLINE),
        "probe_s": probe,
    }
    detail = dict(
        summary,
        queries=timings,
        queries_median=medians,
        codegen_compiles=codegen_compiles,
        codegen_recompiles={n: d for n, d in recompiles.items() if any(d)},
        jit_compile_ms=jit_ms,
        code_heap_mb=code_heap_mb(jvm),
        # The JVM launch and session start, and whether the launch mapped
        # the driver's class-data-sharing archive (session.class_archive).
        session_start_s=session_start_s,
        class_archive=class_archive(spark),
    )
    try:  # per-query detail for the judge; never let IO kill the run
        detail_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        )
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass
    print(json.dumps(detail))
    # Per-query map AGAIN as chunked SHORT lines (VERDICT r15 #1): the
    # single detail line above is ~5 KB and the driver's tail capture
    # truncated it mid-dict in BOTH r14 and r15, leaving PERF with
    # n_common=0 and no per-query round-over-round comparison. Each
    # chunk line is self-identifying and holds 20 queries at 3
    # significant figures, so the 120-query map is 6 lines: few enough
    # that a tail window keeping the last handful of lines holds all of
    # them. Additions only — the compact final-line contract below is
    # unchanged.
    names_sorted = sorted(timings)
    per_line = 20
    n_chunks = max(1, -(-len(names_sorted) // per_line))
    for ci in range(n_chunks):
        chunk = names_sorted[ci * per_line : (ci + 1) * per_line]
        print(json.dumps({
            "bench_queries_part": f"{ci + 1}/{n_chunks}",
            "queries": {n: float(f"{timings[n]:.3g}") for n in chunk},
        }))
    # The compact summary MUST be the final line: the driver parses the
    # tail of stdout and long lines get truncated (lost BENCH_r05).
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    import sys

    if len(sys.argv) >= 3 and sys.argv[1] == "--_one":
        _isolate_one(sys.argv[2])
    elif len(sys.argv) >= 3 and sys.argv[1] == "--isolate":
        isolate_main([n for n in sys.argv[2].split(",") if n])
    else:
        main()
