"""BM25 retrieval ranking: plan shape + semantic sanity.

Value-level correctness is covered by the DuckDB oracle battery
(test_queries_oracle.py); here we pin the scale-relevant plan properties
and the ranking semantics.
"""

from __future__ import annotations

from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
    BM25_QUERY_TERMS,
    BM25_TOP_K,
    bm25_rank_topk,
)


def test_bm25_plan_shape(spark, sf_dir):
    df = bm25_rank_topk(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # global top-K must be the engine's bounded TakeOrderedAndProject,
    # never a window (single-task corpus sort) — and no Python islands.
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_bm25_one_tokenization_pass(spark, sf_dir):
    # stats agg and scoring probe must share ONE tokenization — the
    # cached toked frame (optimization r16: the old repartition
    # barrier's ReusedExchange never fired in the final adaptive plan;
    # the identity-dedup census showed 3 executing documents scans).
    # Intrinsic after the fix: the cached tokenization build + the
    # K-row source-recovery join's narrow scan.
    from ai_powered_e_commerce_analytics_spark.plans.probes import (
        executing_plan_census,
    )

    df = bm25_rank_topk(spark, sf_dir)
    df.collect()
    census = executing_plan_census(df)
    assert census["executing_scans"] == 2, census
    assert census["cached_relations"] == 1, census


def test_bm25_ranking_semantics(spark, sf_dir):
    rows = bm25_rank_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= BM25_TOP_K
    # emitted in no guaranteed order after the payload join — sort here
    ranked = sorted(rows, key=lambda r: (-r.score, r.doc_id))
    scores = [r.score for r in ranked]
    assert scores == sorted(scores, reverse=True)
    assert all(0 <= r.n_terms_matched <= len(BM25_QUERY_TERMS) for r in rows)
    # every positive score implies at least one matched term
    assert all(r.n_terms_matched > 0 for r in rows if r.score > 0)


def test_ndcg_mrr_fused_beats_each_leg(spark, sf_dir):
    """The planted-judgment property (VERDICT r13 next-round #4): under
    the AND-relevance contract (BM25 >= 1.40 AND cos >= 0.14, graded),
    the RRF fusion must score at least as well as EITHER leg on both
    nDCG@10 and MRR@10 — measured, not asserted by construction: each
    leg top-ranks its own signal with the other at chance, while RRF
    promotes documents moderately high in both lists."""
    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        retrieval_ndcg_mrr,
    )

    rows = {r["leg"]: r for r in retrieval_ndcg_mrr(spark, sf_dir).collect()}
    assert set(rows) == {"lex", "sem", "fused"}
    f, lx, sm = rows["fused"], rows["lex"], rows["sem"]
    assert f["ndcg"] >= max(lx["ndcg"], sm["ndcg"])
    assert f["mrr"] >= max(lx["mrr"], sm["mrr"])
    # fusion must strictly add value over at least one leg (else the
    # judgments degenerated into a single-signal reading)
    assert f["ndcg"] > min(lx["ndcg"], sm["ndcg"])
    # ideal is corpus-wide, shared by all legs
    assert len({r["idcg_micro"] for r in rows.values()}) == 1
    assert all(0 <= r["ndcg"] <= 1.0 for r in rows.values())


def test_ndcg_mrr_exact_micro_consistency(spark, sf_dir):
    """mrr_micro must be the literal reciprocal of first_rel_rank (and
    0 when no relevant doc lands in the top-10), and dcg_micro must
    never exceed idcg_micro — the exactness invariants of the shared
    literal tables."""
    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        _RECIP_MICRO,
        retrieval_ndcg_mrr,
    )

    for r in retrieval_ndcg_mrr(spark, sf_dir).collect():
        if r["first_rel_rank"] is None:
            assert r["mrr_micro"] == 0 and r["n_rel_top10"] == 0
        else:
            assert r["mrr_micro"] == _RECIP_MICRO[r["first_rel_rank"] - 1]
        assert 0 <= r["dcg_micro"] <= r["idcg_micro"]


def test_rbo_matches_duckdb_oracle(spark, sf_dir):
    """retrieval_rank_overlap_rbo vs its DuckDB oracle, bit-exact on
    every column — exercised in-suite because the QuerySpec registers
    in r15 (r14 window full; see the registration-queue comment)."""
    import duckdb
    import numpy as np

    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        RETRIEVAL_RANK_OVERLAP_RBO_SQL,
        retrieval_rank_overlap_rbo,
    )

    sdf = retrieval_rank_overlap_rbo(spark, sf_dir).toPandas()
    con = duckdb.connect()
    for tb in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {tb} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{tb}.parquet')"
        )
    odf = con.execute(RETRIEVAL_RANK_OVERLAP_RBO_SQL).df()
    cols = sorted(sdf.columns)
    a = sdf[cols].sort_values("depth").reset_index(drop=True)
    b = odf[cols].sort_values("depth").reset_index(drop=True)
    assert a.shape == b.shape == (50, 5)
    for c in cols:
        assert np.array_equal(a[c].to_numpy(), b[c].to_numpy()), c


def test_rbo_invariants(spark, sf_dir):
    """RBO semantics: n_common is a monotone cumulative count bounded
    by depth; rbo_cum is monotone and bounded by the truncated maximum
    1 - p^50; the nano weight table itself sums to that bound on the
    identical-lists reading (sum of d * w_d = (1-p) * sum p^(d-1))."""
    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        _RBO_W_NANO,
        RBO_P,
        retrieval_rank_overlap_rbo,
    )

    rows = sorted(
        retrieval_rank_overlap_rbo(spark, sf_dir).collect(),
        key=lambda r: r["depth"],
    )
    assert [r["depth"] for r in rows] == list(range(1, 51))
    prev_n, prev_rbo = 0, 0
    trunc_max = 1.0 - RBO_P ** 50
    for r in rows:
        assert prev_n <= r["n_common"] <= r["depth"]
        assert prev_rbo <= r["rbo_cum"] <= trunc_max + 1e-6
        prev_n, prev_rbo = r["n_common"], r["rbo_cum"]
    # identical-lists bound of the literal weight table (rounding-level)
    ident = sum(d * w for d, w in enumerate(_RBO_W_NANO, start=1))
    assert abs(ident / 1e9 - trunc_max) < 1e-6


def test_ndcg_mrr_independent_python_replay(spark, sf_dir):
    """Recompute nDCG@10 / MRR@10 in plain Python from the raw leg
    frames (scores, cosines, ranks collected independently) using
    textbook float math — the engine's exact-long-grid result must
    agree to ~1e-5, catching any error in the literal discount tables
    or the aggregation wiring that cross-engine parity alone cannot
    (both engines share the tables)."""
    import math

    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        REL_BM25_HI,
        REL_BM25_MIN,
        REL_COS_HI,
        REL_COS_MIN,
        _retrieval_leg_frames,
        retrieval_ndcg_mrr,
    )

    scored, semall, lex_r, sem_r = _retrieval_leg_frames(spark, sf_dir)
    score = {r["doc_id"]: r["score"] for r in scored.collect()}
    cos = {r["doc_id"]: r["cos"] for r in semall.collect()}

    def rel(d):
        s, c = score[d], cos.get(d, -1.0)
        if s >= REL_BM25_MIN and c >= REL_COS_MIN:
            return 1 + (s >= REL_BM25_HI) + (c >= REL_COS_HI)
        return 0

    lex = [r["doc_id"] for r in sorted(lex_r.collect(),
                                       key=lambda r: r["lex_rank"])]
    sem = [r["doc_id"] for r in sorted(sem_r.collect(),
                                       key=lambda r: r["sem_rank"])]
    lr = {d: i + 1 for i, d in enumerate(lex)}
    sr = {d: i + 1 for i, d in enumerate(sem)}
    rrf = {
        d: (1.0 / (60 + lr[d]) if d in lr else 0.0)
        + (1.0 / (60 + sr[d]) if d in sr else 0.0)
        for d in set(lex) | set(sem)
    }
    fused = [d for d, _ in sorted(rrf.items(), key=lambda kv: (-kv[1], kv[0]))]

    def dcg(docs):
        return sum(
            (2 ** rel(d) - 1) / math.log2(i + 2)
            for i, d in enumerate(docs[:10])
        )

    idcg = sum(
        (2 ** r - 1) / math.log2(i + 2)
        for i, r in enumerate(sorted((rel(d) for d in score), reverse=True)[:10])
    )

    def mrr(docs):
        for i, d in enumerate(docs[:10]):
            if rel(d) >= 1:
                return 1.0 / (i + 1)
        return 0.0

    expect = {
        "lex": (dcg(lex) / idcg, mrr(lex)),
        "sem": (dcg(sem) / idcg, mrr(sem)),
        "fused": (dcg(fused) / idcg, mrr(fused)),
    }
    got = {r["leg"]: r for r in retrieval_ndcg_mrr(spark, sf_dir).collect()}
    for leg, (nd, mr) in expect.items():
        assert abs(got[leg]["ndcg"] - nd) < 1e-5, (leg, got[leg]["ndcg"], nd)
        assert abs(got[leg]["mrr"] - mr) < 1e-5, (leg, got[leg]["mrr"], mr)


def test_ndcg_executes_three_scans(spark, sf_dir):
    """VERDICT r15 carried item: pin retrieval_ndcg_mrr's TRUE
    executing-scan count so a divergence that defeats the shared
    corpus passes fails loudly here instead of only in the bench tail.

    The r14 predecessor of this test text-counted FileScan lines in
    the final section of ``executedPlan().toString()`` and asserted
    ReusedExchange fired — and was FOOLED: nested AdaptiveSparkPlan
    sections truncate that split, and the executing-node census
    (probes.executing_plan_census) showed the barrier form actually
    executed 16 corpus scans (8 documents + 8 embeddings) with ZERO
    runtime reuse. The leg frames are now cached (optimization r16);
    the true executing count is 3: the cached tokenization build (1
    documents scan) + the cached cosine build (1 embeddings corpus
    scan + the 1-row query-vector probe's pushed-filter scan)."""
    from ai_powered_e_commerce_analytics_spark.plans.probes import (
        executing_plan_census,
    )
    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        retrieval_ndcg_mrr,
    )

    df = retrieval_ndcg_mrr(spark, sf_dir)
    df.collect()
    census = executing_plan_census(df)
    assert census["executing_scans"] == 3, census
    assert census["scan_sources"].get("documents.parquet") == 1, census
    assert census["scan_sources"].get("embeddings.parquet") == 2, census


def test_ndcg_empty_judgments_fails_loudly(spark, tmp_path):
    """ADVICE r14 #2: when NO document clears the AND-relevance
    thresholds (a new corpus where the fixture-tuned REL_* constants
    match nothing), idcg_micro is 0 and the query must fail LOUDLY —
    this session runs Spark 4's default ANSI mode, under which the
    ndcg division raises DIVIDE_BY_ZERO instead of emitting NaN/NULL
    rows that could silently disagree with the DuckDB oracle.
    Engineered corpus: documents without any BM25 query term (all
    scores 0 < REL_BM25_MIN -> rel 0 everywhere)."""
    import pytest
    from pyspark.errors.exceptions.captured import ArithmeticException

    from ai_powered_e_commerce_analytics_spark.plans.retrieval import (
        retrieval_ndcg_mrr,
    )

    docs = spark.createDataFrame(
        [(i, "plain words only nothing relevant here", "en", "web", 37)
         for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    embs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) + 1.0 for j in range(8)], 0)
         for i in range(40)],
        "vec_id long, embedding array<float>, label int",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    embs.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        retrieval_ndcg_mrr(spark, str(tmp_path)).collect()
