"""Deterministic sampling & split operators over the ``documents`` table.

The sampling machinery a training-data pipeline actually ships:
reproducible subsetting and train/val/test assignment that is stable
across runs, engines, partitionings, AND dataset growth — which is why
everything here derives from a content hash (``portable_hash64``), never
from ``rand()`` / ``TABLESAMPLE``:

- rand()-based sampling differs per partition layout and retry (a
  recomputed task resamples — rows can appear twice or vanish);
- hash-gate sampling is a pure per-row map: no shuffle, no state, the
  same row lands in the same split on every engine and every scale;
- membership is decided row-locally, so a 100 TB corpus samples in one
  scan with full predicate pushdown of everything else.

All three queries are DuckDB-oracle hash-gated (the hash IS portable).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import portable_hash64
from ..functions.core import portable_hash64_sql, share
from .spec import QuerySpec, t

SAMPLE_PCT = 10          # stratified sample keeps ~10% per source
SPLIT_SEED = 7           # salt: decouples split from sample membership
TRAIN_PCT, VAL_PCT = 80, 10   # remainder is test
PER_SOURCE_K = 25        # exact-k deterministic sample per source


def _gate(col, seed: int = 0):
    """Uniform [0, 10000) gate value from the row's content hash."""
    return F.pmod(portable_hash64(col, seed=seed), F.lit(10_000))


def _gate_sql(expr: str, seed: int = 0) -> str:
    # portable_hash64 is non-negative (60-bit), so % == pmod here.
    return f"({portable_hash64_sql(expr, seed=seed)} % 10000)"


def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~SAMPLE_PCT% per-row deterministic sample: keep rows whose hash
    gate falls under the threshold. Per-source proportions follow from
    hash uniformity; membership is content-addressed (adding new rows
    never flips existing members in or out)."""
    docs = t(spark, sf_dir, "documents")
    return (
        docs.withColumn("__g", _gate(F.col("doc_id").cast("string")))
        .where(F.col("__g") < SAMPLE_PCT * 100)
        .select("doc_id", "source", "lang", "n_chars")
    )


STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, n_chars FROM documents
WHERE {_gate_sql("doc_id::VARCHAR")} < {SAMPLE_PCT * 100}
"""


def train_test_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from a SALTED hash gate (the
    salt decouples split assignment from any sampling gate so the two
    decisions are independent). Emits the per-doc assignment — the
    thing a pipeline joins against — plus the gate for auditability."""
    docs = t(spark, sf_dir, "documents")
    g = _gate(F.col("doc_id").cast("string"), seed=SPLIT_SEED)
    split = (
        F.when(g < TRAIN_PCT * 100, F.lit("train"))
        .when(g < (TRAIN_PCT + VAL_PCT) * 100, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id",
        "source",
        g.alias("gate"),
        split.alias("split"),
    )


TRAIN_TEST_SPLIT_SQL = f"""
SELECT doc_id, source,
       {_gate_sql("doc_id::VARCHAR", SPLIT_SEED)} AS gate,
       CASE WHEN {_gate_sql("doc_id::VARCHAR", SPLIT_SEED)} < {TRAIN_PCT * 100}
                 THEN 'train'
            WHEN {_gate_sql("doc_id::VARCHAR", SPLIT_SEED)} < {(TRAIN_PCT + VAL_PCT) * 100}
                 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


LEAKSAFE_SEED = 29   # salt: independent of the doc-level split gate


def train_test_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-integral 80/10/10 split: the hash gate keys on the
    NEAR-DUP COMPONENT representative (transitive MinHash-LSH clusters,
    :func:`..textops.dedup_components`), not the document — so a near
    duplicate of a test document can never land in train. This is the
    eval-contamination bug the plain per-doc split
    (:func:`train_test_split_assignment`) cannot prevent: two 95%%-
    identical crawls of one page hash to different gates and straddle
    the split, leaking test content into training. Gating the
    representative makes every cluster atomic by construction
    (asserted in tests: one split value per component).

    Plan: the components labeling (iterative CC over the banded-LSH
    verified pairs — O(log diameter) rounds over O(dup-docs) rows) plus
    ONE pure per-row gate map; no new shuffle beyond the labeling's
    doc_id join. Salted independently of the doc-level split so the two
    assignments are uncorrelated.
    """
    from .textops import dedup_components

    comp = dedup_components(spark, sf_dir)
    g = _gate(F.col("component").cast("string"), seed=LEAKSAFE_SEED)
    split = (
        F.when(g < TRAIN_PCT * 100, F.lit("train"))
        .when(g < (TRAIN_PCT + VAL_PCT) * 100, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return comp.select(
        "doc_id",
        "component",
        g.alias("gate"),
        split.alias("split"),
    )


def _leakage_safe_sql() -> str:
    from .textops import DEDUP_COMPONENTS_SQL

    gate = _gate_sql("component::VARCHAR", LEAKSAFE_SEED)
    return f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL})
SELECT doc_id, component, {gate} AS gate,
       CASE WHEN {gate} < {TRAIN_PCT * 100} THEN 'train'
            WHEN {gate} < {(TRAIN_PCT + VAL_PCT) * 100} THEN 'val'
            ELSE 'test' END AS split
FROM comp
"""


def per_source_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-K deterministic sample per source: rank rows inside each
    source by (hash gate, doc_id) and keep the first K — a fixed-size
    quota sample with reservoir-sampling statistics but zero state and
    full reproducibility.

    Scale shape (two-pass contraction — NO per-source window): source
    cardinality is LOW (tens), so ``Window.partitionBy("source")`` would
    route ~corpus/|sources| rows through single tasks at 100 TB. Instead:

    1. **Local top-K** (zero shuffle): an Arrow-batched ``mapInPandas``
       keeps each batch's K best rows per source. The global top-K under
       the total order (gate, doc_id) is contained in the union of
       per-batch top-Ks for ANY partitioning of the rows, so no answer
       row is lost. Survivors: ≤ K × |sources| per batch.
    2. **Bounded merge** (one narrow shuffle): ``groupBy(source)`` +
       ``array_sort(collect_list(struct))`` + ``slice`` picks the true
       top-K and ``posexplode`` yields the rank. ``collect_list`` is
       safe HERE — unlike the uncontracted sketch rejected in
       ``embedding_knn_partial_topk``'s docstring, its input is already
       ≤ K rows per (source, batch), so buffers are bounded by
       K × #batches, not corpus size.

    Same oracle as the window form (the contraction is exact under the
    total order); the executed plan has no Window node at all —
    regression-tested in tests/test_sampling_plan.py."""
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    docs = t(spark, sf_dir, "documents")
    g = _gate(F.col("doc_id").cast("string"))
    narrow = docs.select("doc_id", "source", "n_chars", g.alias("gate"))

    def _local_topk(batches):
        for pdf in batches:
            pdf = pdf.sort_values(["gate", "doc_id"], kind="mergesort")
            yield pdf.groupby("source", sort=False, dropna=False).head(
                PER_SOURCE_K
            )

    survivors = narrow.mapInPandas(_local_topk, schema=narrow.schema)
    return (
        survivors.groupBy("source")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("gate", "doc_id", "n_chars"))
                ),
                1,
                PER_SOURCE_K,
            ).alias("top")
        )
        .select("source", F.posexplode("top").alias("pos", "r"))
        .select(
            F.col("r.doc_id").alias("doc_id"),
            "source",
            F.col("r.n_chars").alias("n_chars"),
            F.col("r.gate").alias("gate"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )


PER_SOURCE_TOPK_SQL = f"""
SELECT doc_id, source, n_chars, gate, rk FROM (
    SELECT doc_id, source, n_chars,
           {_gate_sql("doc_id::VARCHAR")} AS gate,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_gate_sql("doc_id::VARCHAR")}, doc_id
           ) AS rk
    FROM documents
) WHERE rk <= {PER_SOURCE_K}
"""


AES_K = 25               # weighted sample size per source
AES_SEED = 13            # salt: independent of sample/split gates
_U_DEN = 1 << 60         # portable_hash64's md5-mode range


def _aes_key_micro() -> Column:
    """Efraimidis–Spirakis exponential clock, quantized to exact
    micro-nat longs: ``round(-ln(u) / w * 1e6)`` with ``u ∈ (0, 1]``
    from the content hash and ``w = n_chars``. Keeping the K SMALLEST
    clocks per source is a weighted-without-replacement sample —
    selection probability proportional to weight (the classic A-ES /
    exponential-race construction). Quantization follows the
    doc_unigram_surprisal float policy: ln differs across engines only
    in the last ulp, which the 1e-6-nat grid absorbs (a flip needs the
    true value within ~1e-10 of a rounding boundary — measure-zero),
    and every comparison downstream is on exact longs with a doc_id
    tiebreak, so the order is total and cross-engine stable."""
    h = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), seed=AES_SEED),
        F.lit(_U_DEN),
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float(_U_DEN))
    return (
        F.round(-F.log(u) / F.col("n_chars").cast("double") * F.lit(1e6))
        .cast("long")
    )


def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, K docs per source, with
    inclusion probability proportional to document length — the
    quality/size-weighted subcorpus selection step of pretraining data
    curation (Efraimidis–Spirakis exponential clocks; same family as
    reservoir sampling but deterministic and distributable: every row's
    clock is a pure function of its content hash and weight).

    Scale shape: identical two-pass contraction as
    :func:`per_source_topk_sample` (local per-batch top-K in an
    Arrow-batched ``mapInPandas`` — the K smallest clocks globally are
    contained in the union of per-batch K-smallest under ANY row
    partitioning — then one bounded groupBy merge); NO per-source
    window, no corpus-wide sort. The oracle ranks the same clock
    expression with a window — fine at oracle scale, and provably the
    same selection because the (e_micro, doc_id) order is total.
    """
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    docs = t(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("n_chars") > 0)
    )
    narrow = docs.select(
        "doc_id", "source", "n_chars", _aes_key_micro().alias("e_micro")
    )

    def _local_topk(batches):
        for pdf in batches:
            pdf = pdf.sort_values(["e_micro", "doc_id"], kind="mergesort")
            yield pdf.groupby("source", sort=False, dropna=False).head(AES_K)

    survivors = narrow.mapInPandas(_local_topk, schema=narrow.schema)
    return (
        survivors.groupBy("source")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("e_micro", "doc_id", "n_chars"))
                ),
                1,
                AES_K,
            ).alias("top")
        )
        .select("source", F.posexplode("top").alias("pos", "r"))
        .select(
            F.col("r.doc_id").alias("doc_id"),
            "source",
            F.col("r.n_chars").alias("n_chars"),
            F.col("r.e_micro").alias("e_micro"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )


# (the BIGINT denominator converts to double exactly — 2^60 < 2^63 —
# so both engines divide the identical pair of doubles)
_AES_KEY_SQL = (
    f"round((-ln((({portable_hash64_sql('doc_id::VARCHAR', AES_SEED)}"
    f" % {_U_DEN}) + 1)::DOUBLE / {_U_DEN}))"
    f" / n_chars::DOUBLE * 1000000.0)::BIGINT"
)

WEIGHTED_SAMPLE_AES_SQL = f"""
SELECT doc_id, source, n_chars, e_micro, rk FROM (
    SELECT doc_id, source, n_chars, {_AES_KEY_SQL} AS e_micro,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_AES_KEY_SQL}, doc_id
           ) AS rk
    FROM documents WHERE doc_id IS NOT NULL AND n_chars > 0
) WHERE rk <= {AES_K}
"""


ALLOC_BUDGET = 120       # global sample budget across all sources


def weighted_sample_allocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified weighted sampling with NEYMAN ALLOCATION of a global
    budget (VERDICT r10 #6) — the actual shape of pretraining-mix
    subsampling: a fixed total budget ``ALLOC_BUDGET`` is split across
    sources proportional to ``N_s * sd_s`` (stratum size × in-stratum
    spread — Neyman's variance-minimizing allocation; proportional
    allocation is the ``sd_s = const`` special case), then each source
    contributes its allocation's worth of length-weighted A-ES picks
    (the :func:`weighted_sample_aes` clocks).

    Exactness discipline — the allocation must be BIT-IDENTICAL across
    engines, so it never touches accumulated floats:

    - per-source (count n, Σx, Σx²) are exact long sums;
      ``n·Σx² − (Σx)²  =  n²·σ²_pop`` is an exact long, so the Neyman
      weight ``w_s = round(sqrt(n·Σx² − (Σx)²))`` = round(n·sd_s) comes
      from ONE correctly-rounded IEEE sqrt on identical operands (the
      established float policy: a cross-engine flip needs the true root
      within ~ulp of a rounding boundary — measure-zero; magnitudes
      here stay < 2^60, far under sqrt's exact-integer range loss);
    - quotas use INTEGER division: ``base_s = (B·w_s) DIV W``,
      remainder ``(B·w_s) % W`` — exact in both engines;
    - the leftover ``B − Σ base_s`` (< #sources when W > 0) goes to the
      largest remainders, tiebroken by source name (largest-remainder /
      Hamilton apportionment) — a total order, no float anywhere.

    Scale shape: the stats and allocation frames are SOURCE-GRAIN (a
    bounded domain dimension — the one unpartitioned window ranks
    O(|sources|) rows, same bounded class as the O(days) series folds);
    the corpus sees exactly the :func:`weighted_sample_aes` two-pass
    contraction, with the local cap at ``max_s k_s`` (one driver
    scalar): the union of per-batch top-max_k per source contains every
    source's true top-k_s under any partitioning. A source smaller than
    its allocation contributes all its rows (allocation is not
    rebalanced — same rule both engines). At extreme corpus scale the
    long products ``n·Σx²`` approach 2^63; production would widen the
    stats to DECIMAL(38) or compute the few-row allocation driver-side
    in Python ints — the apportionment itself is unchanged.
    """
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    docs = t(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("n_chars") > 0)
    )
    # cached (optimization r16): the source-grain stats contraction
    # feeds the Neyman weights, whose frame is referenced again by the
    # total / leftover folds and the allocation — as bare references
    # each downstream re-ran the corpus aggregation (census: 5
    # executing documents scans). The allocation itself is cached too:
    # it is consumed by the max_k driver collect AND the final join.
    st = docs.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("n_chars").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss"),
    ).transform(share, "persist")
    wt = st.select(
        "source",
        F.round(
            F.sqrt((F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
                   .cast("double"))
        ).cast("long").alias("w"),
    )
    tot = wt.agg(F.sum("w").alias("tw"))
    qa = wt.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "w",
        f"({ALLOC_BUDGET} * w) DIV greatest(tw, 1) AS base",
        f"({ALLOC_BUDGET} * w) % greatest(tw, 1) AS rem",
    )
    lo = qa.agg((F.lit(ALLOC_BUDGET) - F.sum("base")).alias("leftover"))
    w_rem = Window.orderBy(F.desc("rem"), "source")  # O(|sources|) rows
    alloc = (
        qa.crossJoin(F.broadcast(lo))
        .withColumn(
            "k_alloc",
            (
                F.col("base")
                + F.when(
                    F.row_number().over(w_rem) <= F.col("leftover"), 1
                ).otherwise(0)
            ).cast("long"),
        )
        .select("source", "k_alloc")
        .transform(share, "persist")
    )
    max_k = int(alloc.agg(F.max("k_alloc")).collect()[0][0] or 0)

    narrow = docs.select(
        "doc_id", "source", "n_chars", _aes_key_micro().alias("e_micro")
    )

    def _local_topk(batches):
        for pdf in batches:
            pdf = pdf.sort_values(["e_micro", "doc_id"], kind="mergesort")
            yield pdf.groupby("source", sort=False, dropna=False).head(max_k)

    survivors = narrow.mapInPandas(_local_topk, schema=narrow.schema)
    ranked = (
        survivors.groupBy("source")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("e_micro", "doc_id", "n_chars"))
                ),
                1,
                max(max_k, 1),
            ).alias("top")
        )
        .select("source", F.posexplode("top").alias("pos", "r"))
        .select(
            F.col("r.doc_id").alias("doc_id"),
            "source",
            F.col("r.n_chars").alias("n_chars"),
            F.col("r.e_micro").alias("e_micro"),
            (F.col("pos") + 1).cast("long").alias("rk"),
        )
    )
    return (
        ranked.join(F.broadcast(alloc), "source")
        .where(F.col("rk") <= F.col("k_alloc"))
        .select("doc_id", "source", "n_chars", "e_micro", "rk", "k_alloc")
    )


WEIGHTED_SAMPLE_ALLOCATED_SQL = f"""
WITH d AS (
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id IS NOT NULL AND n_chars > 0
),
st AS (
    SELECT source, count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS s,
           sum(n_chars * n_chars)::BIGINT AS ss
    FROM d GROUP BY 1
),
wt AS (
    SELECT source, round(sqrt((n * ss - s * s)::DOUBLE))::BIGINT AS w
    FROM st
),
tot AS (SELECT sum(w)::BIGINT AS tw FROM wt),
qa AS (
    SELECT source, w,
           ({ALLOC_BUDGET} * w) // greatest(tw, 1) AS base,
           ({ALLOC_BUDGET} * w) % greatest(tw, 1) AS rem
    FROM wt CROSS JOIN tot
),
lo AS (SELECT ({ALLOC_BUDGET} - sum(base))::BIGINT AS leftover FROM qa),
alloc AS (
    SELECT source,
           (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                             <= (SELECT leftover FROM lo)
                        THEN 1 ELSE 0 END)::BIGINT AS k_alloc
    FROM qa
),
ranked AS (
    SELECT doc_id, source, n_chars, {_AES_KEY_SQL} AS e_micro,
           row_number() OVER (
               PARTITION BY source
               ORDER BY {_AES_KEY_SQL}, doc_id
           ) AS rk
    FROM d
)
SELECT r.doc_id, r.source, r.n_chars, r.e_micro, r.rk, a.k_alloc
FROM ranked r JOIN alloc a USING (source)
WHERE r.rk <= a.k_alloc
"""


TOKEN_BUDGET = 500       # per-source curriculum token budget (selective
                         # even at sf0.01: ~25 docs x ~50 tokens per source)


def token_budget_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ordered token-budget selection: per source, take documents
    in descending quality (text_quality's score; doc_id tiebreak) until
    the cumulative token count reaches the budget — the "fill each
    source's token quota with its best documents" step of pretraining
    curriculum construction.

    A doc is selected iff the budget was not yet exhausted when it
    starts (``cum − own < budget``), so the last selected doc may
    straddle the boundary — deterministic, and the downstream chunker
    (pretrain.doc_chunk_tokens) handles trimming.

    Scale shape (two-pass contraction — NO per-source window): source
    cardinality is LOW (tens), so a window keyed on it would funnel
    ~corpus/|sources| rows through one task at 100 TB. Instead:

    1. **Local budget prefix** (zero shuffle): an Arrow-batched
       ``mapInPandas`` sorts each batch by (quality DESC, doc_id) and
       keeps, per source, only rows whose LOCAL running token total
       starts under the budget. Sound because a prefix-sum selection is
       monotone: for any globally selected row, its within-batch
       predecessors are a subset of its global predecessors, so its
       local prefix sum ≤ its global prefix sum < budget — every answer
       row survives. Survivors per (source, batch) are ~budget tokens'
       worth of docs, so the shuffle carries O(#batches × budget) narrow
       rows per source instead of the corpus.
    2. **Exact pass over candidates** (one bounded shuffle):
       ``groupBy(source).applyInPandas`` re-sorts the contracted
       candidate set and computes the exact cumulative sum. The
       candidate-set prefix sums EQUAL the global ones at every emitted
       row: all global predecessors of a selected row are themselves
       selected (prefix property), hence candidates; and the first
       non-selected row's candidate prefix already meets the budget, so
       nothing extra is emitted.

    Ordering is deterministic cross-engine: the score is an
    exact-integer-derived double (bit-identical in both engines), ties
    broken by doc_id; null scores sort last in Spark DESC, DuckDB DESC,
    and pandas ``na_position="last"`` alike. Same oracle as the window
    form; the executed plan has no Window node — regression-tested in
    tests/test_sampling_plan.py.
    """
    import pandas as pd  # noqa: F401 (mapInPandas/applyInPandas contract)

    from .textops import STOPWORDS

    from ..functions import tokens

    docs = t(spark, sf_dir, "documents")
    toks = tokens("text")
    n = F.size(toks).cast("long")
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0)) * (1 - stop_ratio)
    scored = docs.select(
        "doc_id",
        "source",
        n.alias("n_tokens"),
        quality.alias("quality_score"),
    )

    def _order(pdf):
        return pdf.sort_values(
            ["quality_score", "doc_id"],
            ascending=[False, True],
            na_position="last",
            kind="mergesort",
        )

    def _budget_prefix(pdf):
        pdf = _order(pdf)
        cum = pdf.groupby("source", sort=False, dropna=False)[
            "n_tokens"
        ].cumsum()
        return pdf.assign(cum_tokens=cum)[
            cum - pdf["n_tokens"] < TOKEN_BUDGET
        ]

    def _local_prefix(batches):
        for pdf in batches:
            yield _budget_prefix(pdf).drop(columns=["cum_tokens"])

    candidates = scored.mapInPandas(_local_prefix, schema=scored.schema)
    return candidates.groupBy("source").applyInPandas(
        _budget_prefix,
        schema=(
            "doc_id long, source string, n_tokens long, "
            "quality_score double, cum_tokens long"
        ),
    )


# Shared with textops: same tokenization + quality formula (oracle twins).
from .textops import _STOP_SQL as _CURR_STOP_SQL  # noqa: E402
from .textops import _TOKS_SQL as _CURR_TOKS_SQL  # noqa: E402

TOKEN_BUDGET_CURRICULUM_SQL = f"""
WITH s AS (
    SELECT doc_id, source, len(toks)::BIGINT AS n_tokens,
           least(1.0, len(toks) / 100.0)
             * (1 - len(list_filter(toks, x -> x IN {_CURR_STOP_SQL}))::DOUBLE
                    / len(toks)) AS quality_score
    FROM (SELECT doc_id, source, {_CURR_TOKS_SQL} AS toks FROM documents)
), c AS (
    SELECT *, sum(n_tokens) OVER (
        PARTITION BY source ORDER BY quality_score DESC, doc_id
        ROWS UNBOUNDED PRECEDING
    )::BIGINT AS cum_tokens FROM s
)
SELECT doc_id, source, n_tokens, quality_score, cum_tokens
FROM c WHERE cum_tokens - n_tokens < {TOKEN_BUDGET}
"""


SAMPLING_SPECS = [
    QuerySpec(
        "stratified_sample_documents",
        stratified_sample_documents,
        STRATIFIED_SAMPLE_SQL,
        ("sample-hash-gate",),
    ),
    QuerySpec(
        "train_test_split_assignment",
        train_test_split_assignment,
        TRAIN_TEST_SPLIT_SQL,
        ("train-test-split",),
    ),
    QuerySpec(
        "per_source_topk_sample",
        per_source_topk_sample,
        PER_SOURCE_TOPK_SQL,
        ("quota-sample",),
    ),
    QuerySpec(
        "weighted_sample_aes",
        weighted_sample_aes,
        WEIGHTED_SAMPLE_AES_SQL,
        ("sample-weighted-without-replacement",),
    ),
    QuerySpec(
        "weighted_sample_allocated",
        weighted_sample_allocated,
        WEIGHTED_SAMPLE_ALLOCATED_SQL,
        ("sample-neyman-allocation",),
    ),
    QuerySpec(
        "train_test_split_leakage_safe",
        train_test_split_leakage_safe,
        _leakage_safe_sql(),
        ("train-test-split-cluster-integral",),
    ),
    QuerySpec(
        "token_budget_curriculum",
        token_budget_curriculum,
        TOKEN_BUDGET_CURRICULUM_SQL,
        ("curriculum-token-budget",),
    ),
]
