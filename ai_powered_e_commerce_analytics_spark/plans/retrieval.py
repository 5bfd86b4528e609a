"""Full-text relevance ranking over ``documents`` (retrieval family).

The retrieval step a RAG / search pipeline runs against a curated
corpus: score every document for a query with BM25 and return the top-K.
Complements the embedding-side ANN family (plans/simsearch.py) with the
lexical axis — production retrieval stacks run BOTH and fuse.

Reference parity note: the reference has no retrieval surface; this is a
north-star family addition (SURVEY.md) on the shared ``documents``
table, built from the same tokenizer contract as plans/textops.py.

Determinism contract (cross-engine hash gate): tf / df / dl / N are
exact integers; the score expression is written with the IDENTICAL
operation order in Spark and DuckDB so both run the same IEEE double
chain, and the emitted score is rounded to 6 dp with doc_id tiebreak —
same policy as the cosine scores in plans/simsearch.py.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import tokens
from ..functions.core import share
from .spec import QuerySpec, t
from .textops import _TOKS_SQL

# Fixed query: mid/high-frequency corpus terms — differentiation comes
# from tf saturation and length normalization, which is exactly what the
# oracle must agree on.
BM25_QUERY_TERMS = ["vector", "stream", "merge", "filter"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 50


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide BM25 scores for the fixed query — (doc_id,
    n_terms_matched, score) for EVERY document. The shared scoring
    pass of :func:`bm25_rank_topk` (which appends the top-K
    contraction + payload join) and :func:`retrieval_ndcg_mrr` (whose
    judgment contract thresholds raw corpus-wide scores, so it cannot
    start from the top-K frame). Extracted r14 expression-for-
    expression: the two prior consumers' AUDIT rows are unchanged.

    ``score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
                  · tf_td·(k1+1) / (tf_td + k1·(1 − b + b·dl_d/avgdl))``

    Plan shape (the 100 TB path):

    - **per-row map**: ``tf_t`` per query term via ``size(filter(toks))``
      (no explode — the query is fixed and small), plus ``dl``. One
      tokenization per doc.
    - **corpus stats**: N, avgdl, and every ``df_t`` come from ONE
      1-row aggregate (sums of narrow per-row flags with map-side
      combine), broadcast back onto the corpus as a literal-free
      cross join — the corpus itself is never shuffled.
    - **downstream contraction** (in the consumers): ``orderBy(...)
      .limit(K)`` compiles to ``TakeOrderedAndProject`` — Spark's
      built-in map-side partial top-K + single bounded merge; no
      window, no corpus sort. (Same contraction shape as
      ``per_source_topk_sample``, provided by the engine because the
      K is global.)
    """
    def _tf(term: str):
        # one-arg lambda: a two-arg HOF lambda would bind (element, index)
        return F.size(
            F.filter(F.col("toks"), lambda x: x == F.lit(term))
        ).cast("long")

    docs = t(spark, sf_dir, "documents")
    # ``toked`` feeds BOTH the 1-row stats aggregate and the scoring
    # probe; without a shared materialization each consumer replans
    # scan+tokenize (two reads of the wide text column). The old
    # repartition barrier relied on ReuseExchange and tried to keep the
    # two subtrees structurally identical — but the runtime census
    # (optimization r16) showed the reuse never fired in the FINAL
    # adaptive plan (pruning/ordering specialized the subtrees; every
    # _bm25_scored reference executed two tokenization scans, and the
    # ndcg eval compounded that to 8 documents scans). The frame is now
    # CACHED: substitution happens on the analyzed plan before pruning,
    # so one tokenization serves every consumer, the cached rows are the
    # same narrow integers the barrier's exchange already wrote, and the
    # hash(doc_id) partitioning stays visible to the planner. The bench
    # unpersists all blocks between runs — no cross-run reuse.
    # The payload column ``source`` is recovered AFTER the top-K
    # contraction by a K-row broadcast join — payload never rides the
    # corpus pass.
    toked = (
        docs.where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            tokens("text").alias("toks"),
        )
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            *[
                _tf(term).alias(f"tf_{i}")
                for i, term in enumerate(BM25_QUERY_TERMS)
            ],
        )
        .repartition("doc_id")
        .transform(share, "persist")
    )
    stats = toked.agg(
        F.count("doc_id").cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count("doc_id")).alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("int"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    scored = toked.crossJoin(F.broadcast(stats))
    # One addend per term, written in the same op order as the SQL twin.
    addends = [
        F.log(
            1.0
            + (F.col("n") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        * (F.col(f"tf_{i}").cast("double") * (BM25_K1 + 1.0))
        / (
            F.col(f"tf_{i}").cast("double")
            + BM25_K1
            * (
                1.0
                - BM25_B
                + BM25_B * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
        for i in range(len(BM25_QUERY_TERMS))
    ]
    score = addends[0]
    for a in addends[1:]:
        score = score + a
    matched = sum(
        (F.col(f"tf_{i}") > 0).cast("long")
        for i in range(len(BM25_QUERY_TERMS))
    )
    # No matched>0 pre-filter: Catalyst would push it below the barrier
    # into the probe branch only (re-running the tf HOFs on raw text and
    # breaking the exchange reuse). Zero-score docs sort last under the
    # total order and only surface if fewer than K docs match at all.
    return scored.select(
        "doc_id",
        matched.alias("n_terms_matched"),
        F.round(score, 6).alias("score"),
    )


def bm25_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-K for the fixed query: the :func:`_bm25_scored` corpus
    pass (plan details there), contracted by ``orderBy(...).limit(K)``
    → ``TakeOrderedAndProject``, then the ``source`` payload recovered
    by a K-row broadcast join so payload never rides the corpus
    pass."""
    docs = t(spark, sf_dir, "documents")
    topk = (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(BM25_TOP_K)
    )
    return docs.select("doc_id", "source").join(
        F.broadcast(topk), "doc_id"
    ).select("doc_id", "source", "n_terms_matched", "score")


def _tf_sql(i: int) -> str:
    return f"len(list_filter(toks, x -> x = '{BM25_QUERY_TERMS[i]}'))::BIGINT"


_BM25_ADDEND_SQL = " + ".join(
    f"(ln(1.0 + (n - df_{i} + 0.5) / (df_{i} + 0.5))"
    f" * (tf_{i}::DOUBLE * {BM25_K1 + 1.0})"
    f" / (tf_{i}::DOUBLE + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B}"
    f" * dl::DOUBLE / avgdl)))"
    for i in range(len(BM25_QUERY_TERMS))
)

_BM25_MATCHED_SQL = " + ".join(
    f"(tf_{i} > 0)::BIGINT" for i in range(len(BM25_QUERY_TERMS))
)

BM25_RANK_SQL = f"""
WITH toked AS (
    SELECT doc_id, len(toks)::BIGINT AS dl,
           {", ".join(f"{_tf_sql(i)} AS tf_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
          WHERE doc_id IS NOT NULL)
),
stats AS (
    SELECT count(doc_id)::DOUBLE AS n,
           sum(dl)::DOUBLE / count(doc_id) AS avgdl,
           {", ".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM toked
),
topk AS (
    SELECT doc_id,
           ({_BM25_MATCHED_SQL}) AS n_terms_matched,
           round({_BM25_ADDEND_SQL}, 6) AS score
    FROM toked CROSS JOIN stats
    ORDER BY round({_BM25_ADDEND_SQL}, 6) DESC, doc_id
    LIMIT {BM25_TOP_K}
)
SELECT d.doc_id, d.source, k.n_terms_matched, k.score
FROM documents d JOIN topk k ON d.doc_id = k.doc_id
"""


RRF_K = 60          # the standard reciprocal-rank-fusion constant
HYBRID_TOP_K = 20   # fused results returned
SEM_QUERY_VEC = 0   # fixture query: the embedding of doc 0


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical + semantic retrieval fused by Reciprocal Rank
    Fusion (Cormack/Clarke/Buettcher 2009) — THE production pattern for
    RAG-style search: BM25 finds exact-term matches embeddings blur,
    dense similarity finds paraphrases BM25 misses, and RRF combines
    them using ONLY ranks (no score normalization across incomparable
    scales): ``rrf(d) = Σ_legs 1/(K + rank_leg(d))`` with K = 60.

    Legs: the existing ``bm25_rank_topk`` top-50 (fixed query terms)
    and a dense leg ranking documents by rounded cosine between their
    embedding and doc {SEM_QUERY_VEC}'s (the fixture contract: the
    embeddings table's ``vec_id`` keys the same 0..N-1 corpus as
    ``documents.doc_id``; a production deployment swaps in the ANN
    index's ``ivfpq_search_rerank`` for this leg — same (id, rank)
    contract, which is the point of fusing on ranks).

    Determinism: ranks are row_numbers under total orders on exact or
    micro-rounded values; each RRF term is ONE exactly-rounded division
    ``1.0/(60.0 + rank)`` and the two terms add in a fixed order, so
    the fused doubles are bit-identical across engines; fused ties
    break by doc_id.

    Plan: the BM25 corpus pass (its own docstring) + one embeddings
    scan against a 1-row broadcast query + TakeOrderedAndProject to
    K = 50 per leg; every window here orders a BOUNDED frame (≤ 50 or
    ≤ 100 rows — the allocation-rank precedent), never the corpus. The
    fuse join is K-row sized."""
    from .simsearch import _dot

    lex = bm25_rank_topk(spark, sf_dir)
    wl = Window.orderBy(F.desc("score"), "doc_id")
    lex_r = lex.select(
        "doc_id", F.row_number().over(wl).cast("long").alias("lex_rank")
    )
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    q = e.where(F.col("vec_id") == SEM_QUERY_VEC).select(
        F.col("emb").alias("qe"), F.col("norm").alias("qn")
    )
    cos = F.round(
        _dot(F.col("emb"), F.col("qe")) / (F.col("norm") * F.col("qn")), 6
    )
    sem_top = (
        e.where(F.col("vec_id") != SEM_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .orderBy(F.desc("cos"), "doc_id")
        .limit(BM25_TOP_K)
    )
    ws = Window.orderBy(F.desc("cos"), "doc_id")
    sem_r = sem_top.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("sem_rank")
    )
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(c).cast("double")),
        F.lit(0.0),
    )
    fused = (
        lex_r.join(sem_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            (term("lex_rank") + term("sem_rank")).alias("rrf_score"),
        )
        .withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_score"), "doc_id"))
            .cast("long"),
        )
        .where(F.col("fused_rank") <= HYBRID_TOP_K)
    )
    return fused


HYBRID_SEARCH_RRF_SQL = f"""
WITH toked AS (
    SELECT doc_id, len(toks)::BIGINT AS dl,
           {", ".join(f"{_tf_sql(i)} AS tf_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
          WHERE doc_id IS NOT NULL)
),
stats AS (
    SELECT count(doc_id)::DOUBLE AS n,
           sum(dl)::DOUBLE / count(doc_id) AS avgdl,
           {", ".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM toked
),
topk AS (
    SELECT doc_id,
           round({_BM25_ADDEND_SQL}, 6) AS score
    FROM toked CROSS JOIN stats
    ORDER BY round({_BM25_ADDEND_SQL}, 6) DESC, doc_id
    LIMIT {BM25_TOP_K}
),
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT
               AS lex_rank
    FROM topk
),
emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
q AS (
    SELECT emb AS qe, norm AS qn FROM emb WHERE vec_id = {SEM_QUERY_VEC}
),
sem AS (
    SELECT doc_id, sem_rank FROM (
        SELECT vec_id AS doc_id,
               row_number() OVER (
                   ORDER BY round(list_dot_product(emb, qe)
                                  / (norm * qn), 6) DESC,
                            vec_id)::BIGINT AS sem_rank
        FROM emb CROSS JOIN q
        WHERE vec_id <> {SEM_QUERY_VEC}
    ) WHERE sem_rank <= {BM25_TOP_K}
),
fused AS (
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           l.lex_rank, s.sem_rank,
           coalesce(1.0 / ({float(RRF_K)} + l.lex_rank::DOUBLE), 0.0)
           + coalesce(1.0 / ({float(RRF_K)} + s.sem_rank::DOUBLE), 0.0)
               AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf_score, fused_rank FROM (
    SELECT *, row_number() OVER (
        ORDER BY rrf_score DESC, doc_id)::BIGINT AS fused_rank
    FROM fused
) WHERE fused_rank <= {HYBRID_TOP_K}
"""


# ---------------------------------------------------------------------------
# Retrieval-quality eval: nDCG@10 / MRR@10 per leg and fused
# (VERDICT r13 next-round #4 — the monitor a production RAG pipeline
# actually reads; "RRF beats either leg" becomes a measured number).
#
# Judgment contract (planted, deterministic, DuckDB-replayable): a
# document is RELEVANT iff it clears BOTH raw-signal thresholds —
# BM25 score ≥ 1.40 AND cosine-to-query ≥ 0.14 (6-dp-rounded values,
# exact comparisons both engines share) — graded +1 for the stronger
# lexical tier (score ≥ 1.44) and +1 for the stronger semantic tier
# (cos ≥ 0.20), rel ∈ {0..3}. AND-relevance is the honest hybrid
# test: each leg alone top-ranks documents strong in ITS signal with
# the other signal at chance, while RRF promotes documents moderately
# high in BOTH lists (two 1/(60+r) terms beat one), so fusion wins on
# the measured metric rather than by construction. Thresholds sit at
# the ~rank-65 boundary of each signal on the shared 500-doc fixture
# (measured: 6 relevant docs at sf0.001, 14 at sf0.01; fused nDCG@10
# ≈ 0.71-0.73 vs lex ≤ 0.10, sem ≤ 0.22 — the planted-judgment test
# pins fused ≥ each leg).
REL_BM25_MIN = 1.40
REL_BM25_HI = 1.44
REL_COS_MIN = 0.14
REL_COS_HI = 0.20
RETRIEVAL_EVAL_K = 10

# Shared exact-integer tables (the "rank-indexed literal gain table"
# discipline): DCG discounts and MRR reciprocals on the micro grid,
# computed ONCE driver-side and embedded as identical literals in both
# engines — no runtime log2/division disagreement is possible. Gains
# are 2^rel − 1 via a 4-entry literal lookup.
_DISC_MICRO = tuple(
    int(1_000_000 / math.log2(r + 1) + 0.5)
    for r in range(1, RETRIEVAL_EVAL_K + 1)
)
_RECIP_MICRO = tuple(
    int(1_000_000 / r + 0.5) for r in range(1, RETRIEVAL_EVAL_K + 1)
)
_GAINS = (0, 1, 3, 7)  # 2^rel - 1 for rel 0..3


def _retrieval_leg_frames(spark: SparkSession, sf_dir: str):
    """(scored, semall, lex_r, sem_r): the corpus-wide BM25 score and
    cosine frames plus the two top-50 rank lists — rankings identical
    to ``hybrid_search_rrf``'s legs. Shared by the quality eval
    (``retrieval_ndcg_mrr``) and the rank-agreement monitor
    (``retrieval_rank_overlap_rbo``). Every frame was a doc_id
    repartition barrier meant to be deduped by ReuseExchange across its
    consumers — the runtime census (optimization r16) showed NONE of
    those reuses fired in the final adaptive plan (window/limit
    consumers specialize ordering and column sets; the eval executed
    16 corpus scans — 8 documents + 8 embeddings — at any scale). Each
    frame is now CACHED at its barrier: analysis-time substitution
    serves every reference from one materialization, the doc_id hash
    partitioning stays visible for the downstream joins, and the bench
    unpersists all blocks between runs."""
    from .simsearch import _dot

    scored = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .repartition("doc_id")
        .transform(share, "persist")
    )
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    ).withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    q = e.where(F.col("vec_id") == SEM_QUERY_VEC).select(
        F.col("emb").alias("qe"), F.col("norm").alias("qn")
    )
    cos = F.round(
        _dot(F.col("emb"), F.col("qe")) / (F.col("norm") * F.col("qn")), 6
    )
    semall = (
        e.where(F.col("vec_id") != SEM_QUERY_VEC)
        .crossJoin(F.broadcast(q))
        .select(F.col("vec_id").alias("doc_id"), cos.alias("cos"))
        .repartition("doc_id")
        .transform(share, "persist")
    )
    lex50 = scored.orderBy(F.desc("score"), "doc_id").limit(BM25_TOP_K)
    lex_r = lex50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("score"), "doc_id"))
        .cast("long")
        .alias("lex_rank"),
    ).repartition("doc_id").transform(share, "persist")
    sem50 = semall.orderBy(F.desc("cos"), "doc_id").limit(BM25_TOP_K)
    sem_r = sem50.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cos"), "doc_id"))
        .cast("long")
        .alias("sem_rank"),
    ).repartition("doc_id").transform(share, "persist")
    return scored, semall, lex_r, sem_r


def retrieval_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 and MRR@10 for the lexical leg, the dense leg, and the
    RRF fusion of :func:`hybrid_search_rrf`, against the planted
    AND-relevance judgments above — one row per leg. This is the
    closed-loop complement of the recall monitors in plans/simsearch:
    recall checks the ANN index retrieves the true neighbors; this
    checks the RANKING retrieves the relevant documents, and is the
    number that justifies running two legs at all.

    Determinism: rel is an exact int from two threshold comparisons on
    6-dp-rounded doubles; gains/discounts/reciprocals are shared
    integer literals; DCG/IDCG are order-free long sums; nDCG and MRR
    are ONE exactly-rounded division each on identical operands.

    Plan: ONE cached BM25 corpus pass (toked) and ONE cached embeddings
    pass (plus the 1-row query's pushed-filter scan) serve every leg —
    3 executing corpus scans total, pinned by
    tests/test_retrieval.py::test_ndcg_executes_three_scans (the old
    barrier form re-executed 16 scans at any scale; optimization r16).
    TakeOrderedAndProject per leg, then every window and join
    downstream runs on bounded frames (≤ 50-row legs, ≤ 30 judged leg
    rows, 10-row ideal) — nothing after the two corpus passes is
    data-sized. IDCG's ideal top-10 is its own TakeOrderedAndProject
    over the cached judged frame.

    Empty-judgment guard (ADVICE r14 #2): if NO document clears the
    AND-relevance thresholds (possible on a new corpus — REL_* are
    fixture-tuned), idcg_micro is 0 and the ndcg division FAILS LOUDLY
    with Spark's ANSI ``DIVIDE_BY_ZERO`` ArithmeticException — this
    session runs ANSI mode (the Spark 4 default; nothing in the engine
    disables it), under which ``x / 0`` raises instead of emitting
    NULL/NaN rows. Verified behavior, pinned by
    tests/test_retrieval.py::test_ndcg_empty_judgments_fails_loudly on
    an engineered zero-relevance corpus. The remedy on a new corpus is
    retuning REL_BM25_* / REL_COS_* — a silent NaN diagonal was the
    failure mode this note rules out. (Documented rather than wrapped
    in F.when: a when-guard would alter the executed plan of a
    driver-verified query for an error path ANSI already covers.)"""
    # Cached frames (see _retrieval_leg_frames): scored feeds the
    # judgment join AND the lexical top-K, semall the judgment join AND
    # the dense top-K, each rank frame the legrows union AND the fuse.
    # The caches double as the join partitioning (doc_id), so the
    # judgment SMJ adds no exchange.
    scored, semall, lex_r, sem_r = _retrieval_leg_frames(spark, sf_dir)
    # Judgments: corpus-wide, LEFT join so the query doc itself (no
    # dense candidate by the leg contract) judges rel=0 — both engines.
    cc = F.coalesce(F.col("cos"), F.lit(-1.0))
    rel = (
        F.when(
            (F.col("score") >= REL_BM25_MIN) & (cc >= REL_COS_MIN),
            F.lit(1)
            + (F.col("score") >= REL_BM25_HI).cast("int")
            + (cc >= REL_COS_HI).cast("int"),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    # judged is consumed twice (the per-leg DCG fold and the IDCG
    # ideal top-10); cached so the corpus-grain judgment join runs
    # once — narrow (doc_id, rel) rows
    judged = scored.join(semall, "doc_id", "left").select(
        "doc_id", rel.alias("rel")
    ).transform(share, "persist")
    term = lambda c: F.coalesce(  # noqa: E731
        F.lit(1.0) / (F.lit(float(RRF_K)) + F.col(c).cast("double")),
        F.lit(0.0),
    )
    fused_r = (
        lex_r.join(sem_r, "doc_id", "full_outer")
        .select(
            "doc_id",
            (term("lex_rank") + term("sem_rank")).alias("rrf_score"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_score"), "doc_id"))
            .cast("long")
            .alias("fused_rank"),
        )
    )
    k = RETRIEVAL_EVAL_K
    legrows = (
        lex_r.where(F.col("lex_rank") <= k).select(
            F.lit("lex").alias("leg"),
            "doc_id",
            F.col("lex_rank").alias("rank"),
        )
        .unionByName(
            sem_r.where(F.col("sem_rank") <= k).select(
                F.lit("sem").alias("leg"),
                "doc_id",
                F.col("sem_rank").alias("rank"),
            )
        )
        .unionByName(
            fused_r.where(F.col("fused_rank") <= k).select(
                F.lit("fused").alias("leg"),
                "doc_id",
                F.col("fused_rank").alias("rank"),
            )
        )
    )
    disc_arr = F.array(*[F.lit(d).cast("long") for d in _DISC_MICRO])
    recip_arr = F.array(*[F.lit(d).cast("long") for d in _RECIP_MICRO])
    gain_arr = F.array(*[F.lit(g).cast("long") for g in _GAINS])
    gain = F.element_at(gain_arr, F.col("rel") + 1)
    disc = F.element_at(disc_arr, F.col("rank").cast("int"))
    per_leg = (
        judged.join(F.broadcast(legrows), "doc_id")
        .groupBy("leg")
        .agg(
            F.sum(gain * disc).alias("dcg_micro"),
            F.sum((F.col("rel") >= 1).cast("long")).alias("n_rel_top10"),
            F.min(F.when(F.col("rel") >= 1, F.col("rank"))).alias(
                "first_rel_rank"
            ),
        )
    )
    ideal = (
        judged.orderBy(F.desc("rel"), "doc_id")
        .limit(k)
        .select(
            "rel",
            F.row_number()
            .over(Window.orderBy(F.desc("rel"), "doc_id"))
            .alias("rank"),
        )
    )
    idcg = ideal.agg(F.sum(gain * disc).alias("idcg_micro"))
    # Explicit isNotNull guard, NOT coalesce(element_at(...), 0):
    # element_at with a NULL index resolves like index -1 (the LAST
    # element) on this Spark build, so a leg with no relevant doc in
    # its top-10 would silently read recip[10] instead of 0.
    mrr_micro = F.when(
        F.col("first_rel_rank").isNotNull(),
        F.element_at(recip_arr, F.col("first_rel_rank").cast("int")),
    ).otherwise(F.lit(0).cast("long"))
    return (
        per_leg.crossJoin(F.broadcast(idcg))
        .select(
            "leg",
            "n_rel_top10",
            "dcg_micro",
            "idcg_micro",
            F.round(
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro").cast("double"),
                6,
            ).alias("ndcg"),
            "first_rel_rank",
            mrr_micro.alias("mrr_micro"),
        )
        .withColumn(
            "mrr", F.col("mrr_micro").cast("double") / F.lit(1_000_000.0)
        )
        .orderBy("leg")
    )


# ---------------------------------------------------------------------------
# Rank-agreement monitor: overlap@d + truncated RBO between two
# serving lists (r14, registers r15 with llm_judge_calibration).
#
# Rank-Biased Overlap (Webber/Moffat/Zobel 2010): a top-weighted,
# ground-truth-FREE agreement measure between two rankings —
# rbo_p = (1 − p) · Σ_d p^(d−1) · overlap@d / d, truncated at the
# serving depth (50; the untruncated residual is bounded by p^50 ≈
# 0.5%, documented rather than extrapolated). Production reading: the
# drift monitor between two index GENERATIONS' serving lists (or a
# canary vs prod ranker) when no judged relevance exists —
# check_index_health's recall needs ground truth, RBO doesn't; p=0.9
# concentrates ~86% of the weight in the top 20, so tail-only shuffles
# don't page anyone. The fixture contract compares the two hybrid
# legs (lex vs sem — the same deterministic stand-in role the stub
# judge plays for the LLM call), whose agreement is exactly what
# hybrid_search_rrf's value proposition depends on.
RBO_P = 0.9
_RBO_W_NANO = tuple(
    int(1_000_000_000.0 * (1.0 - RBO_P) * RBO_P ** (d - 1) / d + 0.5)
    for d in range(1, BM25_TOP_K + 1)
)


def retrieval_rank_overlap_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-depth overlap and cumulative truncated RBO between the
    lexical and dense top-50 lists — one row per depth d ∈ [1, 50]:
    how many documents the two rankings share in their top-d
    (``n_common``), the overlap fraction, and the running
    rank-biased-overlap sum.

    Determinism: a common document first counts at depth
    m = max(lex_rank, sem_rank) — exact longs; n_common@d is a
    cumulative long sum over the 50-row depth frame; the RBO weights
    (1−p)·p^(d−1)/d are driver-computed NANO-grid integer literals
    shared verbatim with the oracle (the nDCG discount-table
    discipline), so every rbo_cum_nano is an exact long and the
    emitted fractions are one IEEE division each on identical
    operands.

    Plan: the two leg rank frames (shared ``_retrieval_leg_frames``
    barriers — corpus passes run once), a ≤50-row inner join, a ≤50-row
    count contraction, then windows over the literal 50-row depth
    frame. Nothing downstream of the leg TakeOrderedAndProjects is
    data-sized."""
    _, _, lex_r, sem_r = _retrieval_leg_frames(spark, sf_dir)
    m = lex_r.join(sem_r, "doc_id").select(
        F.greatest("lex_rank", "sem_rank").alias("m")
    )
    counts = m.groupBy("m").agg(F.count(F.lit(1)).alias("c"))
    depths = spark.range(1, BM25_TOP_K + 1).select(
        F.col("id").alias("depth")
    )
    w_arr = F.array(*[F.lit(w).cast("long") for w in _RBO_W_NANO])
    wd = Window.orderBy("depth").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    per = (
        depths.join(counts, depths.depth == counts.m, "left")
        .select(
            "depth", F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c_at")
        )
        .withColumn("n_common", F.sum("c_at").over(wd))
        .withColumn(
            "contrib_nano",
            F.col("n_common")
            * F.element_at(w_arr, F.col("depth").cast("int")),
        )
        .withColumn("rbo_cum_nano", F.sum("contrib_nano").over(wd))
    )
    return per.select(
        "depth",
        "n_common",
        (F.col("n_common").cast("double") / F.col("depth").cast("double"))
        .alias("overlap_frac"),
        "rbo_cum_nano",
        (F.col("rbo_cum_nano").cast("double") / F.lit(1_000_000_000.0))
        .alias("rbo_cum"),
    ).orderBy("depth")


_RBO_W_VALUES_SQL = ", ".join(
    f"({d + 1}, {w})" for d, w in enumerate(_RBO_W_NANO)
)

RETRIEVAL_RANK_OVERLAP_RBO_SQL = f"""
WITH toked AS (
    SELECT doc_id, len(toks)::BIGINT AS dl,
           {", ".join(f"{_tf_sql(i)} AS tf_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
          WHERE doc_id IS NOT NULL)
),
stats AS (
    SELECT count(doc_id)::DOUBLE AS n,
           sum(dl)::DOUBLE / count(doc_id) AS avgdl,
           {", ".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM toked
),
lexall AS MATERIALIZED (
    SELECT doc_id, round({_BM25_ADDEND_SQL}, 6) AS score
    FROM toked CROSS JOIN stats
),
emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
q AS (
    SELECT emb AS qe, norm AS qn FROM emb WHERE vec_id = {SEM_QUERY_VEC}
),
semall AS MATERIALIZED (
    SELECT vec_id AS doc_id,
           round(list_dot_product(emb, qe) / (norm * qn), 6) AS cos
    FROM emb CROSS JOIN q WHERE vec_id <> {SEM_QUERY_VEC}
),
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT
               AS lex_rank
    FROM lexall
    ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
),
sem AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT
               AS sem_rank
    FROM semall
    ORDER BY cos DESC, doc_id LIMIT {BM25_TOP_K}
),
m AS (
    SELECT greatest(l.lex_rank, s.sem_rank) AS m
    FROM lex l JOIN sem s USING (doc_id)
),
counts AS (SELECT m, count(*)::BIGINT AS c FROM m GROUP BY m),
w(depth, w_nano) AS (VALUES {_RBO_W_VALUES_SQL}),
per AS (
    SELECT d.range + 1 AS depth, coalesce(c.c, 0)::BIGINT AS c_at
    FROM range(0, {BM25_TOP_K}) d
    LEFT JOIN counts c ON c.m = d.range + 1
),
cum AS (
    SELECT depth,
           sum(c_at) OVER (ORDER BY depth)::BIGINT AS n_common
    FROM per
)
SELECT c.depth::BIGINT AS depth, c.n_common,
       c.n_common::DOUBLE / c.depth::DOUBLE AS overlap_frac,
       sum(c.n_common * w.w_nano) OVER (ORDER BY c.depth)::BIGINT
           AS rbo_cum_nano,
       (sum(c.n_common * w.w_nano) OVER (ORDER BY c.depth))::DOUBLE
           / 1000000000.0 AS rbo_cum
FROM cum c JOIN w ON w.depth = c.depth
ORDER BY depth
"""



_DISC_VALUES_SQL = ", ".join(
    f"({r + 1}, {d})" for r, d in enumerate(_DISC_MICRO)
)
_RECIP_VALUES_SQL = ", ".join(
    f"({r + 1}, {d})" for r, d in enumerate(_RECIP_MICRO)
)
_GAIN_SQL = "([" + ", ".join(str(g) for g in _GAINS) + "][rel + 1])::BIGINT"

RETRIEVAL_NDCG_MRR_SQL = f"""
WITH toked AS (
    SELECT doc_id, len(toks)::BIGINT AS dl,
           {", ".join(f"{_tf_sql(i)} AS tf_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
          WHERE doc_id IS NOT NULL)
),
stats AS (
    SELECT count(doc_id)::DOUBLE AS n,
           sum(dl)::DOUBLE / count(doc_id) AS avgdl,
           {", ".join(f"sum((tf_{i} > 0)::INT)::DOUBLE AS df_{i}" for i in range(len(BM25_QUERY_TERMS)))}
    FROM toked
),
lexall AS MATERIALIZED (
    SELECT doc_id, round({_BM25_ADDEND_SQL}, 6) AS score
    FROM toked CROSS JOIN stats
),
emb AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS norm
    FROM embeddings
),
q AS (
    SELECT emb AS qe, norm AS qn FROM emb WHERE vec_id = {SEM_QUERY_VEC}
),
semall AS MATERIALIZED (
    SELECT vec_id AS doc_id,
           round(list_dot_product(emb, qe) / (norm * qn), 6) AS cos
    FROM emb CROSS JOIN q WHERE vec_id <> {SEM_QUERY_VEC}
),
judged AS MATERIALIZED (
    SELECT l.doc_id,
           CASE WHEN l.score >= {REL_BM25_MIN}
                 AND coalesce(s.cos, -1.0) >= {REL_COS_MIN}
                THEN 1 + (l.score >= {REL_BM25_HI})::INT
                       + (coalesce(s.cos, -1.0) >= {REL_COS_HI})::INT
                ELSE 0 END AS rel
    FROM lexall l LEFT JOIN semall s USING (doc_id)
),
lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id)::BIGINT
               AS lex_rank
    FROM lexall
    ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
),
sem AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY cos DESC, doc_id)::BIGINT
               AS sem_rank
    FROM semall
    ORDER BY cos DESC, doc_id LIMIT {BM25_TOP_K}
),
fused AS (
    SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
           coalesce(1.0 / ({float(RRF_K)} + l.lex_rank::DOUBLE), 0.0)
           + coalesce(1.0 / ({float(RRF_K)} + s.sem_rank::DOUBLE), 0.0)
               AS rrf_score
    FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
),
fusedr AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY rrf_score DESC, doc_id)::BIGINT
               AS fused_rank
    FROM fused
),
legrows AS (
    SELECT 'lex' AS leg, doc_id, lex_rank AS rank FROM lex
    WHERE lex_rank <= {RETRIEVAL_EVAL_K}
    UNION ALL
    SELECT 'sem', doc_id, sem_rank FROM sem
    WHERE sem_rank <= {RETRIEVAL_EVAL_K}
    UNION ALL
    SELECT 'fused', doc_id, fused_rank FROM fusedr
    WHERE fused_rank <= {RETRIEVAL_EVAL_K}
),
disc(rank, disc_micro) AS (VALUES {_DISC_VALUES_SQL}),
recip(rrank, recip_micro) AS (VALUES {_RECIP_VALUES_SQL}),
per_leg AS (
    SELECT leg,
           sum({_GAIN_SQL} * disc_micro)::BIGINT AS dcg_micro,
           sum((rel >= 1)::INT)::BIGINT AS n_rel_top10,
           min(CASE WHEN rel >= 1 THEN rank END)::BIGINT AS first_rel_rank
    FROM legrows JOIN judged USING (doc_id) JOIN disc USING (rank)
    GROUP BY leg
),
ideal AS (
    SELECT rel,
           row_number() OVER (ORDER BY rel DESC, doc_id)::INT AS rank
    FROM judged ORDER BY rel DESC, doc_id LIMIT {RETRIEVAL_EVAL_K}
),
idcg AS (
    SELECT sum({_GAIN_SQL} * disc_micro)::BIGINT AS idcg_micro
    FROM ideal JOIN disc USING (rank)
)
SELECT leg, n_rel_top10, dcg_micro, idcg_micro,
       round(dcg_micro::DOUBLE / idcg_micro::DOUBLE, 6) AS ndcg,
       first_rel_rank,
       coalesce(r.recip_micro, 0)::BIGINT AS mrr_micro,
       coalesce(r.recip_micro, 0)::DOUBLE / 1000000.0 AS mrr
FROM per_leg CROSS JOIN idcg
LEFT JOIN recip r ON r.rrank = per_leg.first_rel_rank
ORDER BY leg
"""


RETRIEVAL_SPECS = [
    QuerySpec(
        "bm25_rank_topk",
        bm25_rank_topk,
        BM25_RANK_SQL,
        ("retrieval-bm25",),
    ),
    QuerySpec(
        "hybrid_search_rrf",
        hybrid_search_rrf,
        HYBRID_SEARCH_RRF_SQL,
        ("retrieval-hybrid-rrf",),
    ),
    QuerySpec(
        "retrieval_ndcg_mrr",
        retrieval_ndcg_mrr,
        RETRIEVAL_NDCG_MRR_SQL,
        ("retrieval-quality-eval",),
    ),
    QuerySpec(
        "retrieval_rank_overlap_rbo",
        retrieval_rank_overlap_rbo,
        RETRIEVAL_RANK_OVERLAP_RBO_SQL,
        ("retrieval-rank-agreement",),
        # Implemented + cross-engine-tested r14
        # (tests/test_retrieval.py); registered r15 per VERDICT r14
        # next-round #2 after being queued for window-budget reasons.
    ),
]
