"""Similarity search over the ``embeddings`` table (beyond-reference).

Brute-force cosine top-k is the exact baseline; random-hyperplane LSH
bucketing is the scale path (bucket-join ANN). All arithmetic is cast to
double on BOTH engines before any dot product — the raw column is
float32, and float-precision products would make 6-decimal rounding
unstable across engines.

Scale design:
- norms are precomputed per row (one map) and carried through the join,
  never recomputed per pair;
- the query side of top-k is broadcast (k queries vs N corpus rows →
  corpus never shuffles);
- LSH bucket assignment is a per-row map against literal plane vectors
  (generated deterministically driver-side and inlined into both the
  Spark plan and the oracle SQL); the bucket self-join shuffles only
  (bucket, vec_id, emb) — the ANN answer set without the N² pair blowup.
"""

from __future__ import annotations

import decimal
import hashlib
import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import share
from .spec import QuerySpec, t

EMBED_DIM = 64
KNN_QUERIES = 10       # vec_id < 10 are the query vectors
KNN_K = 5
COSINE_DUP_THRESHOLD = 0.4   # yields a stable near-dup set at sf0.01
LSH_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = F.transform("embedding", lambda x: x.cast("double")).alias("emb")
    df = t(spark, sf_dir, "embeddings").select("vec_id", "label", emb)
    return df.withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))


_EMB_SQL = "SELECT vec_id, label, embedding::DOUBLE[] AS emb, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm FROM embeddings"


def _hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random planes from md5 — identical constants
    are inlined into the Spark plan and the oracle SQL."""
    planes = []
    for j in range(LSH_PLANES):
        row = []
        for d in range(EMBED_DIM):
            h = int(hashlib.md5(f"p{j}_{d}".encode()).hexdigest()[:15], 16)
            row.append(h % 1000 / 1000.0 - 0.5)
        planes.append(row)
    return planes


def _bucket_col(emb: Column) -> Column:
    planes = _hyperplanes()
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        plane_lit = F.array(*[F.lit(v) for v in plane])
        bucket = bucket + F.when(
            _dot(emb, plane_lit) > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return bucket.cast("long")


def _bucket_sql(emb_expr: str) -> str:
    planes = _hyperplanes()
    terms = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product({emb_expr}, {lit}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


# ---------------------------------------------------------------------------


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", "label", F.round("norm", 6).alias("l2_norm")
    )


EMBEDDING_NORMS_SQL = f"""
SELECT vec_id, label, round(norm, 6) AS l2_norm FROM ({_EMB_SQL})
"""


def embedding_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact top-k: broadcast the k query rows against the corpus; rank on
    # ROUNDED cosine + vec_id tiebreak for cross-engine determinism.
    # Scale note: the final window partitions by query (|queries| tasks,
    # each ranking |corpus| candidates). At 100 TB, cut candidates
    # map-side first: per (query, input-partition) keep the local top-k
    # (groupBy with slice(array_sort(collect_list(...)), 1, k) — partial
    # aggregation shrinks the shuffle to k rows per partition per query),
    # then rank the #partitions*k survivors. Or use simsearch_ivf_topk.
    base = _emb(spark, sf_dir)
    q = base.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
    )


EMBEDDING_KNN_SQL = f"""
WITH e AS ({_EMB_SQL}),
p AS (
    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
           round(list_dot_product(q.emb, n.emb) / (q.norm * n.norm), 6) AS cosine
    FROM e q JOIN e n ON n.vec_id <> q.vec_id
    WHERE q.vec_id < {KNN_QUERIES}
)
SELECT query_id, neighbor_id, cosine,
       rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM p
) WHERE rank <= {KNN_K}
"""


def embedding_knn_partial_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact KNN with a map-side partial top-k contraction (the scale form
    of :func:`embedding_knn_bruteforce` — same answer, bounded shuffle).

    Plan shape: the candidate triples (query_id, neighbor_id, cosine) are
    computed JVM-side (broadcast query join, no corpus shuffle), then an
    Arrow-batched ``mapInPandas`` keeps only the local top-k per query
    within each batch — a pure selection over narrow rows, no Python in
    the arithmetic path. The final ranking window therefore exchanges at
    most batches x k rows per query instead of the whole corpus.

    Correctness of the contraction: ranking is by the TOTAL order
    (rounded cosine DESC, neighbor_id ASC); the global top-k under a
    total order is contained in the union of per-subset top-k for any
    partitioning of the candidates into subsets, so the window over
    survivors returns exactly the brute-force answer (same oracle SQL).

    Why not the groupBy+collect_list+slice sketch: ``collect_list``'s
    partial-aggregation buffers are unbounded, so that plan moves every
    candidate through the exchange anyway (just batched into arrays) —
    the slice happens post-shuffle. The mapInPandas island is the form
    that actually bounds shuffle BYTES, not just row count.

    Bench-number provenance (r6 investigation of the 0.49s→0.83s r4→r6
    drift, plan unchanged): at sf0.1 the embeddings scan is ONE input
    partition (~2k vectors, 20k candidate rows), so the island has
    nothing to contract and pays a FIXED ~0.1s Arrow round-trip over
    brute force; bench timings additionally include ~0.25s of plan
    construction/analysis (two joins + 64-dim lambda expressions).
    Isolated warm min is ~0.67s vs ~0.58s brute force — the r6 bench's
    0.83s is 75-query-suite memory-pressure noise on top of that fixed
    overhead, not a plan problem. The query exists for the 100 TB
    shape, where candidates span thousands of partitions and the k/|part|
    contraction dominates the constant.
    """
    import pandas as pd  # noqa: F401 (mapInPandas contract)

    base = _emb(spark, sf_dir)
    q = base.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")), 6
    )
    cand = (
        base.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
    )

    def _local_topk(batches):
        for pdf in batches:
            pdf = pdf.sort_values(
                ["query_id", "cosine", "neighbor_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            yield pdf.groupby("query_id", sort=False).head(KNN_K)

    survivors = cand.mapInPandas(
        _local_topk, schema="query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        survivors.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Embedding-cosine near-dup pairs (all-pairs exact form — the LSH
    # bucket join below is the candidate-pruned scale path).
    base = _emb(spark, sf_dir)
    a, b = base.alias("a"), base.alias("b")
    cos = F.round(
        _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")),
        6,
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS ({_EMB_SQL})
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6)
      >= {COSINE_DUP_THRESHOLD}
"""


def embedding_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb(spark, sf_dir).select(
        "vec_id", _bucket_col(F.col("emb")).alias("bucket")
    )


EMBEDDING_LSH_BUCKETS_SQL = f"""
SELECT vec_id, {_bucket_sql("emb")} AS bucket FROM ({_EMB_SQL})
"""


def simsearch_lsh_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ANN via bucket co-membership: candidate pairs share an LSH bucket;
    # exact cosine is computed only for bucket-mates (~N²/2^planes work).
    base = _emb(spark, sf_dir).withColumn("bucket", _bucket_col(F.col("emb")))
    a, b = base.alias("a"), base.alias("b")
    cos = F.round(
        _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")),
        6,
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            cos.alias("cosine"),
        )
    )


SIMSEARCH_LSH_BUCKET_JOIN_SQL = f"""
WITH e AS ({_EMB_SQL}),
eb AS (SELECT *, {_bucket_sql("emb")} AS bucket FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket,
       round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cosine
FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
"""


CENT_STEP = 31   # coarse centroids = every 31st vector (~N/31 lists)
IVF_NPROBE = 2


def _ivf_centroids(base: DataFrame) -> DataFrame:
    """Deterministic coarse quantizer: every CENT_STEP-th vector."""
    return base.where(F.col("vec_id") % CENT_STEP == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )


def _cos_candidates_batched(df: DataFrame, cent_rows) -> DataFrame:
    """(vec_id, cid, cos) for every input vector × centroid — the
    corpus-side coarse-quantizer scoring as an Arrow-batched island
    (optimization r15, guide §4.2), replacing the broadcast-join whose
    per-pair ``_dot`` HOF ran interpreted (CodegenFallback — measured
    ~1.0 s of ``ivf_assignment``'s 1.25 s at sf0.1).

    Bit-exactness by construction, same discipline as
    :func:`_assign_batched`: the per-dimension accumulation
    ``acc += x_d · c_d`` performs the identical IEEE multiply/add chain
    in the identical left-to-right dimension order as ``_dot``'s
    ``aggregate(zip_with(...), 0.0, acc+x)`` (both start at +0.0);
    ``cos = dot / (norm · c_norm)`` is the same expression tree on the
    same doubles (``c_norm`` values are COLLECTED from the Spark frame,
    not recomputed). The micro-grid ``round(cos, 6)`` and the
    max_by/tiebreak stay SPARK expressions on the bit-identical
    doubles this island returns (round is HALF_UP over the
    shortest-decimal repr — not reproducible by float-only vectorized
    code at exact-tie inputs).

    ``cent_rows``: sorted (cid, vec, norm) driver-side list.
    """
    import numpy as np
    import pandas as pd

    cids = np.array([c for c, _, _ in cent_rows], dtype=np.int64)
    cmat = np.array([v for _, v, _ in cent_rows], dtype=np.float64)
    cnrm = np.array([n for _, _, n in cent_rows], dtype=np.float64)

    def _gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(
                [np.asarray(r, dtype=np.float64) for r in pdf["emb"]]
            )
            nrm = pdf["norm"].to_numpy(dtype=np.float64)
            dot = np.zeros((len(pdf), len(cids)))
            for d in range(x.shape[1]):  # _dot's left-fold dim order
                dot += x[:, d : d + 1] * cmat[:, d]
            cos = dot / (nrm[:, None] * cnrm[None, :])
            yield pd.DataFrame({
                "vec_id": np.repeat(
                    pdf["vec_id"].to_numpy(dtype=np.int64), len(cids)
                ),
                "cid": np.tile(cids, len(pdf)),
                "cos": cos.ravel(),
            })

    return df.select("vec_id", "emb", "norm").mapInPandas(
        _gen, schema="vec_id long, cid long, cos double"
    )


def _ivf_cent_rows(base: DataFrame) -> list:
    """Sorted (cid, c_emb, c_norm) centroid rows, collected driver-side
    — dimension-sized by contract (O(nlist)), the same traffic the old
    broadcast build paid. Shared by :func:`ivf_assignment` and the
    driver-side probe selection so one collect serves the whole IVF
    chain (optimization r15)."""
    return sorted(
        (int(r["cid"]), list(r["c_emb"]), float(r["c_norm"]))
        for r in _ivf_centroids(base).collect()
    )


def _round6_half_up(x: float) -> float:
    """Driver replica of Spark's ``round(double, 6)``: HALF_UP over the
    SHORTEST-decimal representation (java ``BigDecimal.valueOf`` /
    ``Double.toString``, which Python's ``repr`` reproduces — both emit
    the shortest decimal that round-trips, so the Decimal operand is
    identical) — the same argument the SemDeDup gate rewrite rests on
    (semantic_dedup_semdedup, optimization r15). HALF_UP ties round
    away from zero in both engines.

    JVM caveat (ADVICE r15): ``Double.toString`` is only GUARANTEED
    shortest on JDK 19+ (JDK-4511638); earlier JVMs may emit extra
    digits whose decimal value could land on the other side of a
    scale-6 half-tie. The deployed JVM here is JDK 17, where the
    equivalence is EMPIRICAL, not axiomatic: the r15 cross-check ran
    on this exact JVM — 4,660 adversarial + real probe operands,
    zero mismatches against Spark's ``round`` — and the oracle gate
    re-proves the consumers every round. A deployment on another
    pre-19 JVM should re-run that Spark-vs-driver operand cross-check
    (or upgrade to 19+, where shortest-repr is specified)."""
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _probe_rows(q_rows: list, cent_rows: list) -> list:
    """Driver-side probe selection: for each query, its IVF_NPROBE
    nearest centroids by (rounded cosine DESC, cid ASC) — the identical
    total order the old ``row_number`` window evaluated, on bit-identical
    doubles (the dot is ``_dot``'s left-fold in the same dimension
    order; norms are COLLECTED values, not recomputed; the round is
    :func:`_round6_half_up`). Both operand tables are already
    driver-side (queries for the ADC LUT, centroids via
    :func:`_ivf_cent_rows`), so this replaces a corpus-subtree
    broadcast + window exchange with O(Q × nlist) driver math — bounded
    by contract at any corpus scale (optimization r15).

    ``q_rows``: [(query_id, q_emb, q_norm)]. Returns
    [(query_id, q_emb, q_norm, cid)], nprobe rows per query.
    """
    out = []
    for qid, qemb, qnorm in q_rows:
        scored = []
        for cid, cvec, cnorm in cent_rows:
            acc = 0.0
            for a, b in zip(qemb, cvec):  # _dot's left-fold order
                acc += a * b
            scored.append((-_round6_half_up(acc / (qnorm * cnorm)), cid))
        scored.sort()
        out.extend(
            (qid, qemb, qnorm, cid) for _neg, cid in scored[:IVF_NPROBE]
        )
    return out


def _ivf_driver_state(base: DataFrame) -> "tuple[list, list]":
    """(cent_rows, q_rows) in ONE collect — the centroid table
    (O(nlist) by contract) and the query vectors (O(Q)) fused into a
    single driver job via a disjunctive filter, then split driver-side.
    Job-count parity matters more than DAG size at the bounded grains
    involved: a separate query collect measurably COSTS more than the
    probe-subtree removal saves (isolated A/B, optimization r15), so
    the chain pays exactly one collect — the same count the old
    broadcast build paid. Row values are identical to the per-frame
    collects (same scan, same columns)."""
    rows = (
        base.where(
            (F.col("vec_id") % CENT_STEP == 0)
            | (F.col("vec_id") < KNN_QUERIES)
        )
        .select("vec_id", "emb", "norm")
        .collect()
    )
    cent_rows = sorted(
        (int(r["vec_id"]), list(r["emb"]), float(r["norm"]))
        for r in rows
        if int(r["vec_id"]) % CENT_STEP == 0
    )
    q_rows = sorted(
        (int(r["vec_id"]), list(r["emb"]), float(r["norm"]))
        for r in rows
        if int(r["vec_id"]) < KNN_QUERIES
    )
    return cent_rows, q_rows


def ivf_assignment(
    spark: SparkSession, sf_dir: str, cent_rows: list | None = None
) -> DataFrame:
    """(vec_id, emb, norm, cid): each corpus vector assigned to its
    nearest centroid's inverted list. Compute ONCE and persist bucketed
    by ``cid`` (sources.bucketing.write_bucketed) — steady-state probes
    then read only the nprobe matching buckets (bucket pruning), no
    corpus shuffle per query. The bucketed-probe path is tested in
    tests/test_misc_ops.py.

    Scoring runs in the :func:`_cos_candidates_batched` island (its
    docstring carries the bit-exactness argument); the centroid table
    is dimension-sized by contract, so collecting it driver-side is the
    same O(nlist) traffic the broadcast build already paid. Rounded
    cosine + lowest-cid tiebreak == the oracle's ORDER BY, evaluated in
    Spark on the island's bit-identical doubles; the emb/norm columns
    re-attach via a vec_id equi-join against the same base frame that
    previously carried them through the aggregate.

    ``cent_rows``: pass :func:`_ivf_cent_rows`'s result to share one
    centroid collect across the IVF chain (topk/ADC callers)."""
    base = _emb(spark, sf_dir)
    if cent_rows is None:
        cent_rows = _ivf_cent_rows(base)
    best = (
        _cos_candidates_batched(base, cent_rows)
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cid",
                F.struct(
                    F.round(F.col("cos"), 6).alias("c_cos"),
                    (-F.col("cid")).alias("neg"),
                ),
            ).alias("cid"),
        )
    )
    return best.join(base, "vec_id").select("vec_id", "emb", "norm", "cid")


def simsearch_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (every CENT_STEP-th
    vector) partitions the corpus into inverted lists; queries probe only
    their IVF_NPROBE nearest lists, so exact cosine runs on ~nprobe/nlist
    of the corpus instead of all of it.

    Scale shape: the corpus is scored against the (dimension-sized,
    driver-collected) centroid table map-side, then reduced to one
    (vec_id, cid) assignment with a map-side-combinable ``max_by``; the
    only corpus-wide exchange is that single groupBy. The probe side is
    DRIVER math (optimization r15, :func:`_probe_rows`): queries and
    centroids are both bounded collects the chain already pays, so the
    old probe subtree — a second corpus scan feeding a centroid
    broadcast plus a row_number window exchange — collapses to a
    Q × nprobe literal frame with the bit-identical (rounded cosine,
    cid) ordering. At 100 TB compute :func:`ivf_assignment` once and
    persist it bucketed by cid, making every subsequent query a
    bucket-pruned scan.
    """
    base = _emb(spark, sf_dir)
    cent_rows, q_rows = _ivf_driver_state(base)
    assign = ivf_assignment(spark, sf_dir, cent_rows)
    probe = spark.createDataFrame(
        _probe_rows(q_rows, cent_rows),
        "query_id long, q_emb array<double>, q_norm double, cid long",
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")), 6
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        assign.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
    )


SIMSEARCH_IVF_SQL = f"""
WITH e AS ({_EMB_SQL}),
c AS (SELECT vec_id AS cid, emb AS c_emb, norm AS c_norm FROM e
      WHERE vec_id % {CENT_STEP} = 0),
scored AS (
    SELECT e.vec_id, e.emb, e.norm, c.cid,
           round(list_dot_product(e.emb, c.c_emb) / (e.norm * c.c_norm), 6)
               AS c_cos
    FROM e CROSS JOIN c),
assign AS (
    SELECT vec_id, emb, norm, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY c_cos DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
probe AS (
    SELECT query_id, q_emb, q_norm, cid FROM (
        SELECT e.vec_id AS query_id, e.emb AS q_emb, e.norm AS q_norm, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round(list_dot_product(e.emb, c.c_emb)
                                  / (e.norm * c.c_norm), 6) DESC, c.cid) AS rn
        FROM e CROSS JOIN c WHERE e.vec_id < {KNN_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           round(list_dot_product(p.q_emb, a.emb) / (p.q_norm * a.norm), 6)
               AS cosine
    FROM probe p JOIN assign a USING (cid)
    WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM cand) WHERE rank <= {KNN_K}
"""


def simsearch_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path against the exact brute-force answer —
    the quality metric an ANN deployment monitors (approximation error is
    a first-class output, not a hidden property).

    Both sides are existing plans; the overlap join is k·|queries| rows.
    The recall ratio is an exact small-integer quotient — deterministic
    across engines, emitted raw per float policy."""
    exact = embedding_knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ivf = simsearch_ivf_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double") / F.lit(KNN_K)
            ).alias("recall_at_k"),
        )
    )


SIMSEARCH_IVF_RECALL_SQL = f"""
WITH exact_knn AS (SELECT query_id, neighbor_id FROM ({EMBEDDING_KNN_SQL})),
ivf_knn AS (SELECT query_id, neighbor_id FROM ({SIMSEARCH_IVF_SQL})),
hits AS (
    SELECT e.query_id, count(*)::BIGINT AS n_hits
    FROM exact_knn e JOIN ivf_knn USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT q.query_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0)::DOUBLE / {KNN_K} AS recall_at_k
FROM (SELECT DISTINCT query_id FROM exact_knn) q
LEFT JOIN hits h USING (query_id)
"""


def embedding_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive clustering of embedding near-dups: connected components
    over the cosine-threshold pair list, every vector labeled with its
    component minimum (singletons label themselves). The embedding-space
    twin of textops.dedup_components — same min-label pointer-jumping
    iteration (shared ``_connected_components``), same WITH RECURSIVE
    oracle, different similarity graph.
    """
    from .textops import _connected_components

    pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    labels = _connected_components(pairs)
    return (
        t(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(
            labels.select(F.col("id").alias("vec_id"), "label"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.least(
                F.col("vec_id"), F.coalesce("label", F.col("vec_id"))
            ).alias("component"),
        )
    )


EMBEDDING_DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT vec_a, vec_b FROM ({DEDUP_EMBEDDING_COSINE_SQL})),
edges AS (SELECT vec_a AS src, vec_b AS dst FROM pairs
          UNION SELECT vec_b, vec_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
minreach AS (SELECT src AS vec_id, min(dst) AS mn FROM reach GROUP BY src)
SELECT v.vec_id, least(v.vec_id, coalesce(m.mn, v.vec_id)) AS component
FROM embeddings v LEFT JOIN minreach m ON v.vec_id = m.vec_id
"""


# ---------------------------------------------------------------------------
# int8 symmetric quantization + reconstruction-error audit
# ---------------------------------------------------------------------------


def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 symmetric quantization audit: scale =
    max(|x|)/127, q = round(x/scale), and the reconstruction errors
    (max |x - q*scale| and MSE) a vector store publishes before
    swapping float32 for int8 (4x smaller, SIMD-friendly distance).

    Pure per-row map — zero shuffle at any scale. Determinism: every
    element op (cast, /, round-to-integer, *) runs on identical operands
    in both engines → identical doubles; ``max_abs_err``/``scale`` emit
    raw per the float policy (single-op derived, never accumulated);
    ``mse`` is a left fold (Spark ``aggregate`` init 0.0 ≡ DuckDB
    ``list_reduce`` first-element seed, since 0.0 + e1 == e1 exactly) —
    same order, same operands, but rounded to 1e-6 per policy as it is
    genuinely float-accumulated. Zero vectors (scale = 0) quantize to
    themselves: errors defined as 0 on both sides.
    """
    e = _emb(spark, sf_dir)
    q = e.withColumn(
        "scale", F.array_max(F.transform("emb", F.abs)) / F.lit(127.0)
    )

    def deq_err(x: Column) -> Column:
        s = F.col("scale")
        return F.abs(x - F.round(x / s, 0) * s)

    err = F.when(
        F.col("scale") == 0.0, F.lit(0.0)
    )
    return q.select(
        "vec_id",
        "label",
        "scale",
        err.otherwise(
            F.array_max(F.transform("emb", deq_err))
        ).alias("max_abs_err"),
        err.otherwise(
            F.round(
                F.aggregate(
                    F.transform("emb", lambda x: deq_err(x) * deq_err(x)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.size("emb"),
                6,
            )
        ).alias("mse"),
    )


_DEQ_ERR_SQL = "abs(x - round(x / scale) * scale)"

EMBEDDING_QUANTIZE_ERROR_SQL = f"""
WITH q AS (
    SELECT vec_id, label, emb,
           list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
    FROM ({_EMB_SQL})
)
SELECT vec_id, label, scale,
       CASE WHEN scale = 0 THEN 0.0 ELSE
           list_max(list_transform(emb, x -> {_DEQ_ERR_SQL}))
       END AS max_abs_err,
       CASE WHEN scale = 0 THEN 0.0 ELSE
           round(list_reduce(
                     list_transform(emb,
                         x -> {_DEQ_ERR_SQL} * {_DEQ_ERR_SQL}),
                     (acc, x) -> acc + x) / len(emb), 6)
       END AS mse
FROM q
"""


# ---------------------------------------------------------------------------
# Per-dimension feature-health statistics
# ---------------------------------------------------------------------------

_DIM_FP = 1 << 20   # fixed-point grid (pure exponent shift of float32)


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean / variance / min / max over the corpus — the
    feature-health dashboard that catches dead dimensions, scale drift,
    and train/serve skew in an embedding pipeline.

    Plan: posexplode → groupBy(dim); map-side combine contracts every
    task to ≤ dim rows before the shuffle, so the corpus never moves.
    Determinism: elements scale to fixed-point longs (``x * 2^20`` is an
    exact exponent shift of the float32-exact input) and Σx, Σx² run as
    associative long sums; mean and the closed-form variance are then
    division chains on identical operands — bit-identical cross-engine,
    no rounding needed. Σx² of fp values fits long through ~10⁸ rows
    per dimension (2^42-bounded squares); the DECIMAL(38) accumulator
    swap is the same one order_value_outliers_zscore documents.
    """
    e = t(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * _DIM_FP, 0).cast(
                    "long"
                ),
            )
        ).alias("dim", "v_fp")
    )
    n = F.count("*").cast("double")
    s = F.sum("v_fp").cast("double")
    ss = F.sum(F.col("v_fp") * F.col("v_fp")).cast("double")
    return (
        e.groupBy("dim")
        .agg(
            F.count("*").alias("n"),
            ((s / n) / F.lit(float(_DIM_FP))).alias("mean"),
            (
                ((ss - s * s / n) / n)
                / F.lit(float(_DIM_FP) * float(_DIM_FP))
            ).alias("variance"),
            (
                F.min("v_fp").cast("double") / F.lit(float(_DIM_FP))
            ).alias("min_v"),
            (
                F.max("v_fp").cast("double") / F.lit(float(_DIM_FP))
            ).alias("max_v"),
        )
    )


EMBEDDING_DIM_STATS_SQL = f"""
WITH ex AS (
    SELECT i.i - 1 AS dim,
           round(embedding[i.i]::DOUBLE * {_DIM_FP})::BIGINT AS v_fp
    FROM embeddings CROSS JOIN range(1, {EMBED_DIM + 1}) i(i)
)
SELECT dim, count(*)::BIGINT AS n,
       (sum(v_fp)::DOUBLE / count(*)::DOUBLE) / {float(_DIM_FP)} AS mean,
       ((sum(v_fp * v_fp)::DOUBLE
         - sum(v_fp)::DOUBLE * sum(v_fp)::DOUBLE / count(*)::DOUBLE)
        / count(*)::DOUBLE) / {float(_DIM_FP) * float(_DIM_FP)} AS variance,
       min(v_fp)::DOUBLE / {float(_DIM_FP)} AS min_v,
       max(v_fp)::DOUBLE / {float(_DIM_FP)} AS max_v
FROM ex GROUP BY dim
"""


# ---------------------------------------------------------------------------
# k-means (Lloyd) with exact fixed-point centroid accumulation
# ---------------------------------------------------------------------------

KMEANS_K = 8
KMEANS_UPDATES = 2          # Lloyd centroid updates before the report
KMEANS_FP = 1 << 20         # fixed-point grid for exact centroid sums
_INERTIA_GRID = 1_000_000   # micro-units: exact long inertia accumulation


def _sqdist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _assign_batched(
    df: DataFrame,
    vec_col: str,
    carry_cols: "list[tuple[str, str]]",
    cents_for,
    m_col: str | None = None,
    dist_col: str | None = None,
) -> DataFrame:
    """Bit-exact vectorized nearest-centroid assignment (r15
    optimization, guide §4.2): one ``mapInPandas`` island replaces the
    per-row ``least((sqdist, cid) structs)`` expression, whose
    ``aggregate(zip_with(...))`` distance folds are interpreted
    (CodegenFallback) lambda applications — K × dim per input row.

    Exactness is by construction, no rounding involved anywhere:
    the per-dimension accumulation ``D += (x_d − c_d)²`` performs the
    identical IEEE subtract/multiply/add chain in the identical
    left-to-right dimension order as ``_sqdist``'s fold (both start at
    +0.0), so every distance double is bit-identical; NumPy ``argmin``
    returns the FIRST minimum over the ascending-cid centroid columns —
    exactly ``least``'s (d, cid) struct order with cid breaking exact
    ties. Callers that need a rounded quantity (inertia micro-units,
    fixed-point sums) keep that rounding in Spark expressions on the
    bit-identical doubles this island returns.

    ``carry_cols``: [(name, spark_type)] passed through unchanged
    (Arrow round-trips doubles/longs/strings exactly). ``cents_for``:
    the sorted (cid, vec) list, or — when ``m_col`` names a subspace
    column — a dict keyed by subspace. ``dist_col``: also emit the
    argmin distance double.
    """
    import numpy as np
    import pandas as pd

    out_schema = ", ".join(
        [f"{n} {t_}" for n, t_ in carry_cols]
        + ["cid long"]
        + ([f"{dist_col} double"] if dist_col else [])
    )
    names = [n for n, _ in carry_cols]

    def _one(rows: "pd.DataFrame", cent_list) -> "pd.DataFrame":
        cids = np.array([c for c, _ in cent_list], dtype=np.int64)
        cmat = np.array([v for _, v in cent_list], dtype=np.float64)
        x = np.vstack([np.asarray(r, dtype=np.float64) for r in rows[vec_col]])
        dist = np.zeros((len(rows), len(cids)))
        for d in range(x.shape[1]):  # _sqdist's left-fold dim order
            diff = x[:, d : d + 1] - cmat[:, d]
            dist += diff * diff
        amin = np.argmin(dist, axis=1)  # first min = lowest cid
        out = {n: rows[n].to_numpy() for n in names}
        out["cid"] = cids[amin]
        if dist_col:
            out[dist_col] = dist[np.arange(len(rows)), amin]
        return pd.DataFrame(out)

    def _gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            if m_col is None:
                yield _one(pdf, cents_for)
            else:
                for m in sorted(pdf[m_col].unique()):
                    yield _one(pdf[pdf[m_col] == m], cents_for[int(m)])

    cols = list(dict.fromkeys(names + [vec_col] + ([m_col] if m_col else [])))
    return df.select(*cols).mapInPandas(_gen, schema=out_schema)


def _lloyd_update(e: DataFrame, cents) -> DataFrame:
    """ONE Lloyd centroid-update round: vectorized bit-exact assignment
    (:func:`_assign_batched`) + a fixed-point partial-sum agg whose
    map-side combine contracts each task to <= K x dim rows before the
    shuffle — the per-round frame the driver collects (O(K x dim)
    scalars). The 2^20-grid quantization stays a SPARK expression
    (``round`` is HALF_UP over the shortest-decimal repr — not
    reproducible by float-only vectorized code at exact-tie inputs),
    evaluated per row before the island. Shared by the iteration loop
    and the plan-audit probe (plans/probes.py) so the audited shape IS
    the executed shape."""
    src = e.select(
        "emb",
        F.transform(
            "emb", lambda x: F.round(x * KMEANS_FP, 0).cast("long")
        ).alias("xfp"),
    )
    assigned = _assign_batched(
        src, "emb", [("xfp", "array<long>")], cents
    )
    return (
        assigned.select(
            "cid",
            F.posexplode("xfp").alias("dim", "v_fp"),
        )
        .groupBy("cid", "dim")
        .agg(F.sum("v_fp").alias("s"), F.count("*").alias("n"))
        # identical operand order to the oracle: (sum / n) / FP
        .select(
            "cid",
            "dim",
            (
                F.col("s").cast("double") / F.col("n") / F.lit(KMEANS_FP)
            ).alias("mean"),
        )
    )


def _lloyd_state(spark: SparkSession, sf_dir: str):
    """The corpus frame and the centroids after ``KMEANS_UPDATES`` exact
    fixed-point Lloyd rounds (shared by the cluster report and the
    SemDeDup query — one discipline, two consumers)."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    init = [
        (int(r["vec_id"]), list(r["emb"]))
        for r in e.where(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "emb")
        .collect()
    ]
    cents = sorted(init)
    for _ in range(KMEANS_UPDATES):
        rows = _lloyd_update(e, cents).collect()
        by_cid: dict[int, list[float]] = {}
        for r in rows:
            by_cid.setdefault(int(r["cid"]), [0.0] * len(cents[0][1]))[
                int(r["dim"])
            ] = float(r["mean"])
        cents = sorted(by_cid.items())
    return e, cents


def kmeans_lloyd_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means via Lloyd iterations (K=8, 2 centroid updates, init =
    the vectors with vec_id < K), reporting per-cluster size, inertia,
    and label purity — the clustering rollup an embedding pipeline
    publishes to sanity-check a codebook / IVF partitioning.

    Iterative-algorithm determinism (the reason this is oracle-gated at
    all): naive double-sum centroid updates are order-dependent, so two
    engines (or two Spark runs with different partitioning) drift in the
    last ulps and can flip boundary assignments. Instead every
    accumulation is EXACT:

    - centroid sums run in fixed-point longs (``round(x * 2^20)`` per
      element — x*2^20 is a pure exponent shift of the float32-exact
      input, so the grid loses nothing it needs); long sums are
      associative → any partitioning, same centroid;
    - the mean back to double is ``(sum / n) / 2^20`` on identical
      operands → bit-identical in both engines;
    - inertia sums ``round(dist * 1e6)`` micro-unit longs, emitted as
      the exact ratio ``micro / 1e6``.

    Assignment is a pure per-row expression over the K centroid vectors
    inlined as literals (argmin via ``least`` on (dist, cid) structs —
    cid breaks exact ties), collected driver-side between iterations:
    O(K × dim) scalars per round, the same driver-scalar pattern as the
    connected-components convergence checks. Per iteration the corpus
    is ONE scan + a posexplode → groupBy(cid, dim) update agg whose
    map-side combine contracts each task to ≤ K × dim rows before the
    shuffle — the corpus itself never shuffles, at any scale.
    """
    e, cents = _lloyd_state(spark, sf_dir)
    # Vectorized bit-exact assignment (r15): the island returns the
    # argmin cid AND the bit-identical distance double; the micro-unit
    # rounding stays a Spark expression on that double (HALF_UP
    # semantics — see _assign_batched's docstring).
    final = _assign_batched(
        e, "emb", [("vec_id", "long"), ("label", "int")], cents,
        dist_col="d",
    ).select(
        "vec_id",
        "label",
        "cid",
        F.round(F.col("d") * _INERTIA_GRID, 0).cast("long").alias("d_micro"),
    )
    sizes = final.groupBy("cid").agg(
        F.count("*").alias("n_members"),
        (
            F.sum("d_micro").cast("double") / F.lit(float(_INERTIA_GRID))
        ).alias("inertia"),
    )
    label_top = (
        final.groupBy("cid", "label")
        .agg(F.count("*").alias("cnt"))
        .groupBy("cid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"), F.col("label").alias("lbl")
                )
            ).alias("m")
        )
        .select(
            "cid",
            F.col("m.lbl").alias("top_label"),
            (-F.col("m.neg")).cast("long").alias("top_label_n"),
        )
    )
    return (
        sizes.join(label_top, "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "inertia",
            "top_label",
            "top_label_n",
            (
                F.col("top_label_n").cast("double") / F.col("n_members")
            ).alias("purity"),
        )
    )


def _km_cte_prefix() -> str:
    """The shared DuckDB CTE chain replaying the exact fixed-point Lloyd
    rounds up to the final assignment ``a3`` (consumed by both the
    cluster report and the SemDeDup oracle)."""
    dim_range = "range(1, 65)"
    dist = (
        "list_reduce(list_transform(" + dim_range + ", "
        "i -> (e.emb[i] - c.cemb[i]) * (e.emb[i] - c.cemb[i])), "
        "(a, b) -> a + b)"
    )

    def assign(cent_cte: str, out: str) -> str:
        return f"""
{out} AS (
    SELECT e.vec_id, e.label, e.emb, e.emb_fp,
           first(c.cid ORDER BY {dist}, c.cid) AS cid,
           min({dist}) AS dist
    FROM e CROSS JOIN {cent_cte} c
    GROUP BY e.vec_id, e.label, e.emb, e.emb_fp
)"""

    def update(assign_cte: str, out: str) -> str:
        return f"""
{out} AS (
    SELECT cid, list((s / n) / {KMEANS_FP} ORDER BY dim) AS cemb
    FROM (
        SELECT a.cid, i.i AS dim,
               sum(a.emb_fp[i.i])::DOUBLE AS s, count(*)::DOUBLE AS n
        FROM {assign_cte} a CROSS JOIN {dim_range} i(i)
        GROUP BY a.cid, i.i
    ) GROUP BY cid
)"""

    return f"""
WITH e AS (
    SELECT vec_id, label, embedding::DOUBLE[] AS emb,
           list_transform(embedding::DOUBLE[],
                          x -> round(x * {KMEANS_FP})::BIGINT) AS emb_fp
    FROM embeddings
),
c0 AS (SELECT vec_id AS cid, emb AS cemb FROM e WHERE vec_id < {KMEANS_K}),
{assign("c0", "a1")},
{update("a1", "c1")},
{assign("c1", "a2")},
{update("a2", "c2")},
{assign("c2", "a3")}"""


def _km_sql() -> str:
    return f"""{_km_cte_prefix()},
fin AS (
    SELECT vec_id, label, cid,
           round(dist * {_INERTIA_GRID})::BIGINT AS d_micro
    FROM a3
),
sizes AS (
    SELECT cid, count(*)::BIGINT AS n_members,
           sum(d_micro)::DOUBLE / {float(_INERTIA_GRID)} AS inertia
    FROM fin GROUP BY cid
),
tops AS (
    SELECT cid, first(label ORDER BY cnt DESC, label) AS top_label,
           max(cnt)::BIGINT AS top_label_n
    FROM (SELECT cid, label, count(*) AS cnt FROM fin GROUP BY cid, label)
    GROUP BY cid
)
SELECT s.cid AS cluster_id, s.n_members, s.inertia,
       t.top_label, t.top_label_n,
       t.top_label_n::DOUBLE / s.n_members AS purity
FROM sizes s JOIN tops t USING (cid)
"""


KMEANS_LLOYD_SQL = _km_sql()


# ---------------------------------------------------------------------------
# Product quantization: per-subspace codebooks + codes + recon error
# ---------------------------------------------------------------------------

PQ_M = 4            # subspaces (64-dim embedding -> 4 x 16)
PQ_SUBDIM = 16
PQ_K = 4            # centroids per sub-codebook (256 in production PQ)
PQ_UPDATES = 2      # Lloyd updates per subspace, same budget as k-means


def _sub_split(e: DataFrame) -> DataFrame:
    """Split a (vec_id, emb) frame into one row per (vector, subspace)
    with the 16-dim subvector. ``emb`` is carried THROUGH the explode
    in one select (ADVICE r11: an earlier form dropped it and joined
    the scan back on vec_id to recover it — a corpus-sized
    BroadcastHashJoin for nothing), so the xPQ_M explode is a genuine
    pure map: no join, no shuffle."""
    return e.select(
        "vec_id",
        "emb",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"),
    ).select(
        "vec_id",
        "m",
        F.slice(
            "emb", F.col("m").cast("int") * PQ_SUBDIM + 1, PQ_SUBDIM
        ).alias("semb"),
    )


def _pq_sub_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (vector, subspace) off the embeddings scan."""
    return _sub_split(
        t(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
    )


def _pq_argmin(cents: dict[int, list[tuple[int, list[float]]]]):
    """Per-row nearest-sub-centroid struct, switching on the subspace
    column ``m`` (argmin via ``least`` on (dist, cid) structs, cid
    breaking exact ties — the k-means discipline per subspace)."""
    def least_for(cent_list):
        structs = []
        for cid, vec in cent_list:
            lit = F.array(*[F.lit(v) for v in vec])
            structs.append(
                F.struct(
                    _sqdist(F.col("semb"), lit).alias("d"),
                    F.lit(cid).cast("long").alias("cid"),
                )
            )
        return F.least(*structs)

    expr = None
    for m in sorted(cents):
        branch = least_for(cents[m])
        expr = (
            F.when(F.col("m") == m, branch)
            if expr is None
            else expr.when(F.col("m") == m, branch)
        )
    return expr


def _pq_update(sub: DataFrame, cents) -> DataFrame:
    """ONE PQ centroid-update round for ALL subspaces in a single
    distributed agg (groupBy (m, cid, dim) with map-side combine — each
    task contracts to <= M x K x subdim rows before the shuffle).
    Assignment is the vectorized bit-exact island
    (:func:`_assign_batched`, per-subspace codebooks via ``m_col``);
    the 2^20-grid quantization stays a Spark ``round`` expression per
    the HALF_UP note there. Shared by the training loop and the
    plan-audit probe (plans/probes.py) so the audited shape IS the
    executed shape."""
    src = sub.select(
        "m",
        "semb",
        F.transform(
            "semb", lambda x: F.round(x * KMEANS_FP, 0).cast("long")
        ).alias("sfp"),
    )
    assigned = _assign_batched(
        src, "semb", [("m", "int"), ("sfp", "array<long>")],
        cents, m_col="m",
    )
    return (
        assigned.select(
            "m",
            "cid",
            F.posexplode("sfp").alias("dim", "v_fp"),
        )
        .groupBy("m", "cid", "dim")
        .agg(F.sum("v_fp").alias("s"), F.count("*").alias("n"))
        .select(
            "m",
            "cid",
            "dim",
            (
                F.col("s").cast("double") / F.col("n") / F.lit(KMEANS_FP)
            ).alias("mean"),
        )
    )


def _pq_init_cents(sub: DataFrame):
    """Deterministic seeding: the subvectors of ``vec_id < PQ_K``."""
    init_rows = (
        sub.where(F.col("vec_id") < PQ_K)
        .select("vec_id", "m", "semb")
        .collect()
    )
    cents: dict[int, list[tuple[int, list[float]]]] = {
        m: [] for m in range(PQ_M)
    }
    for r in init_rows:
        cents[int(r["m"])].append((int(r["vec_id"]), list(r["semb"])))
    for m in cents:
        cents[m] = sorted(cents[m])
    return cents


def _pq_state_from_sub(sub: DataFrame):
    """Train the per-subspace codebooks over an arbitrary subvector
    frame (the trainer behind :func:`_pq_state`; also fed the
    OPQ-rotated frame in tests to measure the rotation's recon gain)."""
    cents = _pq_init_cents(sub)
    for _ in range(PQ_UPDATES):
        rows = _pq_update(sub, cents).collect()
        nxt: dict[int, dict[int, list[float]]] = {}
        for r in rows:
            nxt.setdefault(int(r["m"]), {}).setdefault(
                int(r["cid"]), [0.0] * PQ_SUBDIM
            )[int(r["dim"])] = float(r["mean"])
        cents = {
            m: sorted(by_cid.items()) for m, by_cid in nxt.items()
        }
    return sub, cents


def _pq_state(spark: SparkSession, sf_dir: str):
    """The subvector frame and, per subspace, the centroids after
    ``PQ_UPDATES`` exact fixed-point Lloyd rounds. Identical exactness
    discipline to :func:`_lloyd_state` (long fixed-point sums ->
    ``(sum / n) / 2^20`` on identical operands), run for all ``PQ_M``
    subspaces IN ONE distributed agg per round — the update groupBy key
    is (m, cid, dim), so the per-round driver traffic is
    O(M x K x subdim) = 256 scalars, independent of corpus size."""
    return _pq_state_from_sub(_pq_sub_frame(spark, sf_dir))


def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained PQ codebook — one row per (subspace, code) with the
    centroid vector. The artifact an ANN service loads next to the
    per-vector codes (``embedding_pq_codebook``); M x K rows total."""
    _, cents = _pq_state(spark, sf_dir)
    rows = [
        (m, cid, vec)
        for m, cent_list in sorted(cents.items())
        for cid, vec in cent_list
    ]
    return spark.createDataFrame(
        rows, "m int, cid long, cemb array<double>"
    )


def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training (VERDICT r10 #7): split
    the 64-dim embedding into ``PQ_M`` = 4 subspaces of 16 dims, train a
    ``PQ_K``-centroid sub-codebook per subspace with the exact
    fixed-point Lloyd machinery of :func:`kmeans_lloyd_clusters`
    (deterministic seeding: the subvectors of ``vec_id < PQ_K``), and
    emit per vector its 4 codes plus the exact reconstruction error —
    the memory-compression step between a k-means partitioning and a
    100 TB-scale ANN index (an IVF-PQ index stores these codes instead
    of raw floats: 64 doubles -> 4 small ints per vector here).

    Determinism: all four sub-codebooks train in ONE distributed agg
    per Lloyd round (groupBy (m, cid, dim) fixed-point long sums —
    associative under any partitioning; the driver sees 256 scalars a
    round); assignment is a per-row ``least`` argmin with cid
    tiebreak, switching on the subspace column; the reconstruction
    error accumulates ``round(dist * 1e6)`` micro-unit longs per
    subspace and emits the exact ratio. The DuckDB oracle replays the
    identical rounds (unrolled CTEs, the ``_km_cte_prefix`` pattern
    generalized with the subspace as a grouping key).

    Scale: per round one embeddings scan + a map-side-combined agg to
    M x K x subdim rows; the final pass is one scan + a vec_id-keyed
    pivot agg. The corpus never shuffles by anything wider than vec_id.
    """
    sub, cents = _pq_state(spark, sf_dir)
    return _pq_codes_frame(sub, cents)


def _pq_codes_frame(sub: DataFrame, cents) -> DataFrame:
    """Per-vector codes + exact micro-unit reconstruction error from a
    trained codebook (shared by :func:`embedding_pq_codebook` and the
    OPQ rotated-vs-unrotated recon comparison in tests)."""
    # Vectorized bit-exact per-subspace assignment (r15); micro-unit
    # rounding stays in Spark on the bit-identical distance double.
    fin = _assign_batched(
        sub, "semb", [("vec_id", "long"), ("m", "int")],
        cents, m_col="m", dist_col="d",
    ).select(
        "vec_id",
        "m",
        "cid",
        F.round(F.col("d") * _INERTIA_GRID, 0).cast("long").alias("d_micro"),
    )
    code_cols = [
        F.max(F.when(F.col("m") == m, F.col("cid")))
        .cast("long")
        .alias(f"code_{m}")
        for m in range(PQ_M)
    ]
    return fin.groupBy("vec_id").agg(
        *code_cols,
        F.sum("d_micro").alias("recon_err_micro"),
        (
            F.sum("d_micro").cast("double") / F.lit(float(_INERTIA_GRID))
        ).alias("recon_err"),
    )


def _pq_cte_prefix() -> str:
    """The shared DuckDB CTE chain replaying the per-subspace
    fixed-point Lloyd rounds up to the trained codebook ``c2`` and the
    final assignment ``fin`` (consumed by the codebook report and the
    IVF-PQ ADC search oracle — the ``_km_cte_prefix`` pattern)."""
    dim_range = f"range(1, {PQ_SUBDIM + 1})"
    dist = (
        "list_reduce(list_transform(" + dim_range + ", "
        "i -> (s.semb[i] - c.cemb[i]) * (s.semb[i] - c.cemb[i])), "
        "(a, b) -> a + b)"
    )

    def assign(cent_cte: str, out: str) -> str:
        return f"""
{out} AS (
    SELECT s.vec_id, s.m, s.semb, s.semb_fp,
           first(c.cid ORDER BY {dist}, c.cid) AS cid,
           min({dist}) AS dist
    FROM sub s JOIN {cent_cte} c ON s.m = c.m
    GROUP BY s.vec_id, s.m, s.semb, s.semb_fp
)"""

    def update(assign_cte: str, out: str) -> str:
        return f"""
{out} AS (
    SELECT m, cid, list((s / n) / {KMEANS_FP} ORDER BY dim) AS cemb
    FROM (
        SELECT a.m, a.cid, i.i AS dim,
               sum(a.semb_fp[i.i])::DOUBLE AS s, count(*)::DOUBLE AS n
        FROM {assign_cte} a CROSS JOIN {dim_range} i(i)
        GROUP BY a.m, a.cid, i.i
    ) GROUP BY m, cid
)"""

    chain = f"""
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
sub AS (
    SELECT vec_id, m.m AS m,
           list_transform({dim_range},
                          i -> emb[m.m * {PQ_SUBDIM} + i]) AS semb,
           list_transform({dim_range},
                          i -> round(emb[m.m * {PQ_SUBDIM} + i]
                                     * {KMEANS_FP})::BIGINT) AS semb_fp
    FROM e CROSS JOIN range(0, {PQ_M}) m(m)
),
c0 AS (
    SELECT m, vec_id AS cid, semb AS cemb FROM sub WHERE vec_id < {PQ_K}
),
{assign("c0", "a1")},
{update("a1", "c1")},
{assign("c1", "a2")},
{update("a2", "c2")},
{assign("c2", "a3")},
fin AS (
    SELECT vec_id, m, cid,
           round(dist * {_INERTIA_GRID})::BIGINT AS d_micro
    FROM a3
)"""
    return chain


def _pq_sql() -> str:
    codes = ",\n       ".join(
        f"max(CASE WHEN m = {m} THEN cid END)::BIGINT AS code_{m}"
        for m in range(PQ_M)
    )
    return f"""{_pq_cte_prefix()}
SELECT vec_id,
       {codes},
       sum(d_micro)::BIGINT AS recon_err_micro,
       sum(d_micro)::DOUBLE / {float(_INERTIA_GRID)} AS recon_err
FROM fin GROUP BY vec_id
"""


EMBEDDING_PQ_CODEBOOK_SQL = _pq_sql()


def simsearch_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN search with asymmetric distance computation (ADC) —
    the production 100 TB serving plan this family has been building
    toward: the IVF coarse quantizer prunes the corpus to ``nprobe``
    inverted lists, and within them candidates are scored NOT against
    their raw 64-double vectors but against their 4 PQ codes via a
    per-query lookup table (LUT[q][m][c] = squared L2 between q's m-th
    subvector and sub-codebook centroid c). The index stores codes
    instead of floats — a 32x memory contraction here, 64x+ in
    production — and each candidate costs M table lookups + M-1 adds.

    Determinism: the LUT is quantized ONCE to micro-unit longs
    (``round(d * 1e6)``, driver-side over Q x M x K entries — 160 at
    the fixture's 10 queries x 4 subspaces x 4 codes);
    every ADC score is then an exact sum of M longs, ordered with a
    neighbor_id tiebreak — a total order both engines agree on (the
    established micro-grid policy; the oracle computes the identical
    left-fold distances from its replayed codebook).

    Scale shape: the LUT and probe tables broadcast (query-sized); the
    candidate set (queries x nprobe lists) broadcasts onto the
    corpus-grain codes frame so the ONLY corpus exchange is the final
    (query, neighbor) partial-agg; top-k per query rides a window over
    candidate-grain rows. On a real deployment the codes frame is the
    persisted artifact of :func:`embedding_pq_codebook` bucketed by
    IVF list, making every query a bucket-pruned scan of int8 codes.
    """
    return _ivfpq_adc(spark, sf_dir, k=KNN_K)


def _ivfpq_adc(spark: SparkSession, sf_dir: str, *, k: int) -> DataFrame:
    """The trained-in-plan IVF-PQ ADC top-``k`` (shared by
    :func:`simsearch_ivfpq_topk` and the two-stage
    :func:`simsearch_ivfpq_rerank`, which widens ``k`` to its candidate
    budget R before the exact re-rank)."""
    sub, cents = _pq_state(spark, sf_dir)
    codes = _assign_batched(
        sub, "semb", [("vec_id", "long"), ("m", "int")], cents, m_col="m"
    ).select("vec_id", "m", F.col("cid").alias("pq_cid"))
    base = _emb(spark, sf_dir)
    # ONE fused collect (:func:`_ivf_driver_state`) serves the
    # assignment, the probe (driver math, :func:`_probe_rows` —
    # replaces the old corpus-subtree broadcast + row_number window),
    # and the ADC LUT (optimization r15). All consumers are bounded by
    # contract: O(nlist), O(Q × nlist), O(Q × M × K).
    cent_rows, q_full = _ivf_driver_state(base)
    assign = ivf_assignment(spark, sf_dir, cent_rows)
    probe = spark.createDataFrame(
        [(qid, cid) for qid, _e, _n, cid in _probe_rows(q_full, cent_rows)],
        "query_id long, cid long",
    )
    # LUT driver-side: Q x M x K exact micro-unit longs. The fold
    # is the same left-to-right (q[i]-c[i])^2 accumulation the oracle's
    # list_reduce performs, on identical doubles (query embeddings +
    # the trained codebook), floor(x+0.5) = round-half-up like both
    # engines' round() on the non-negative distances.
    q_rows = [(qid, qemb) for qid, qemb, _n in q_full]
    lut = spark.createDataFrame(
        adc_lut_rows(q_rows, cents),
        "query_id long, m int, pq_cid long, lut_micro long",
    )
    cand = (
        assign.select("vec_id", "cid")
        .join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    return adc_topk(codes, cand, lut, k=k)


def adc_lut_rows(
    q_rows: "list[tuple[int, list[float]]]",
    cents: "dict[int, list[tuple[int, list[float]]]]",
) -> "list[tuple[int, int, int, int]]":
    """Per-query ADC lookup table: (query_id, m, pq_cid, lut_micro) for
    every (subspace, code) — Q x M x K rows, computed driver-side. The
    distance fold is the same left-to-right (q[i]-c[i])^2 accumulation
    the oracle's list_reduce performs, on identical doubles;
    floor(x+0.5) = round-half-up like both engines' round() on the
    non-negative distances. Shared by the oracle-gated query and the
    persisted-index serving path."""
    out = []
    for qid, qemb in q_rows:
        for m, cent_list in sorted(cents.items()):
            off = m * PQ_SUBDIM
            for cid, cvec in cent_list:
                acc = 0.0
                for i in range(PQ_SUBDIM):
                    d = qemb[off + i] - cvec[i]
                    acc += d * d
                out.append((
                    int(qid), int(m), int(cid),
                    int(math.floor(acc * _INERTIA_GRID + 0.5)),
                ))
    return out


def adc_topk(
    codes: DataFrame, cand: DataFrame, lut: DataFrame, *, k: int
) -> DataFrame:
    """The ADC scoring + per-query top-k assembly, shared by the
    oracle-gated :func:`simsearch_ivfpq_topk` (codes trained in-plan)
    and the persisted-index serving path
    (``operators/ann_index.ivfpq_search`` — codes read bucket-pruned
    from storage), so the served math IS the oracle-checked math.
    ``codes``: (vec_id, m, pq_cid); ``cand``: (query_id, vec_id),
    query-sized; ``lut``: (query_id, m, pq_cid, lut_micro), Q x M x K
    rows. The only corpus-grain exchange is the (query, neighbor)
    partial-agg."""
    w = Window.partitionBy("query_id").orderBy("adc_micro", "neighbor_id")
    return (
        codes.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "pq_cid"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("lut_micro").alias("adc_micro"))
        .select(
            "query_id",
            "neighbor_id",
            "adc_micro",
            (
                F.col("adc_micro").cast("double") / F.lit(float(_INERTIA_GRID))
            ).alias("adc_dist"),
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def _ivfpq_adc_cte() -> str:
    """The shared DuckDB CTE chain through the ADC scores ``adc`` —
    consumed by the top-k oracle (rank and keep KNN_K) and the rerank
    oracle (rank to the R candidate budget, then exact re-rank)."""
    dim_range = f"range(1, {PQ_SUBDIM + 1})"
    lut_dist = (
        "list_reduce(list_transform(" + dim_range + ", "
        f"i -> (q.emb[c2.m * {PQ_SUBDIM} + i] - c2.cemb[i])"
        f" * (q.emb[c2.m * {PQ_SUBDIM} + i] - c2.cemb[i])), "
        "(a, b) -> a + b)"
    )
    return f"""{_pq_cte_prefix()},
ev AS ({_EMB_SQL}),
c AS (SELECT vec_id AS cid, emb AS c_emb, norm AS c_norm FROM ev
      WHERE vec_id % {CENT_STEP} = 0),
scored AS (
    SELECT ev.vec_id, c.cid,
           round(list_dot_product(ev.emb, c.c_emb) / (ev.norm * c.c_norm), 6)
               AS c_cos
    FROM ev CROSS JOIN c),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY c_cos DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
probe AS (
    SELECT query_id, cid FROM (
        SELECT ev.vec_id AS query_id, c.cid,
               row_number() OVER (
                   PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.c_emb)
                                  / (ev.norm * c.c_norm), 6) DESC, c.cid) AS rn
        FROM ev CROSS JOIN c WHERE ev.vec_id < {KNN_QUERIES}
    ) WHERE rn <= {IVF_NPROBE}),
cand AS (
    SELECT p.query_id, a.vec_id AS neighbor_id
    FROM probe p JOIN assign a USING (cid)
    WHERE a.vec_id <> p.query_id),
lut AS (
    SELECT q.vec_id AS query_id, c2.m, c2.cid AS pq_cid,
           round({lut_dist} * {_INERTIA_GRID})::BIGINT AS lut_micro
    FROM e q CROSS JOIN c2 WHERE q.vec_id < {KNN_QUERIES}),
adc AS (
    SELECT cd.query_id, cd.neighbor_id, sum(l.lut_micro)::BIGINT AS adc_micro
    FROM cand cd
    JOIN fin f ON f.vec_id = cd.neighbor_id
    JOIN lut l ON l.query_id = cd.query_id AND l.m = f.m
              AND l.pq_cid = f.cid
    GROUP BY 1, 2)"""


def _ivfpq_sql() -> str:
    return f"""{_ivfpq_adc_cte()}
SELECT query_id, neighbor_id, adc_micro,
       adc_micro::DOUBLE / {float(_INERTIA_GRID)} AS adc_dist, rank
FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_micro, neighbor_id) AS rank
    FROM adc
) WHERE rank <= {KNN_K}
"""


SIMSEARCH_IVFPQ_SQL = _ivfpq_sql()


ADC_RERANK_R = 10   # ADC candidate budget before the exact re-rank (R > k)


def simsearch_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage IVF-PQ search (VERDICT r11 #3): the ADC stage selects
    ``ADC_RERANK_R`` > k candidates CHEAPLY (codes + LUT, never raw
    floats), then the survivors alone are re-scored against their raw
    vectors and re-ranked to the final top-k — the standard recall fix
    every production ANN system ships (quantization error decides only
    which R candidates enter; the exact metric decides the final order).

    Re-rank metric: exact ROUNDED COSINE with neighbor_id tiebreak —
    the same total order as :func:`embedding_knn_bruteforce` — rather
    than the raw L2 a normalized-corpus deployment would use. On
    L2-normalized vectors the two are rank-equivalent; this fixture's
    vectors are unnormalized, and matching the exact baseline's order
    gives the guarantee the recall monitor relies on: the reranked
    top-k contains EVERY exact-top-k member present in the R candidates
    (global top-k members beat all non-members under the same total
    order within any subset), so recall@k(reranked) >= recall@k(ADC)
    always — asserted per query in tests/test_pq_codebook.py.

    Scale shape: stage 1 is :func:`simsearch_ivfpq_topk`'s plan with k
    widened to R (nothing corpus-sized beyond the code scan); stage 2
    fetches the R raw vectors via a BROADCAST of the Q x R candidate
    ids onto the embeddings scan — query-grain, one corpus read, no
    corpus shuffle — and the final window ranks Q x R rows.
    """
    cand_r = _ivfpq_adc(spark, sf_dir, k=ADC_RERANK_R).select(
        "query_id", "neighbor_id"
    )
    base = _emb(spark, sf_dir)
    q = base.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    nb = base.join(
        F.broadcast(cand_r), F.col("vec_id") == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "emb", "norm")
    cos = F.round(
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("norm")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        nb.join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= KNN_K)
    )


def _ivfpq_rerank_sql() -> str:
    return f"""{_ivfpq_adc_cte()},
cand_r AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_micro, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= {ADC_RERANK_R}),
rr AS (
    SELECT c.query_id, c.neighbor_id,
           round(list_dot_product(q.emb, n.emb) / (q.norm * n.norm), 6)
               AS cosine
    FROM cand_r c
    JOIN ev q ON q.vec_id = c.query_id
    JOIN ev n ON n.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, cosine, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM rr
) WHERE rank <= {KNN_K}
"""


SIMSEARCH_IVFPQ_RERANK_SQL = _ivfpq_rerank_sql()


COV_FP = 1 << 20   # fixed-point grid for exact covariance sums


def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-pair covariance of the embedding dimensions (upper
    triangle incl. diagonal — dim·(dim+1)/2 = 2,080 rows) — the input
    to whitening / PCA / Mahalanobis scoring, and the decorrelation
    step a production ANN pipeline runs before product quantization
    (PQ assumes roughly isotropic subspaces; OPQ is a rotation learned
    from exactly this matrix).

    Exactness discipline: each element quantizes ONCE to the 2^20
    fixed-point grid; every pair product is an exact long (~2^40 per
    term) and the sums are associative long sums — any partitioning,
    same matrix. The covariance emits as a deterministic IEEE
    expression on identical operands in both engines:
    ``(sxy/n)/FP² − ((si/n)/FP)·((sj/n)/FP)``. Headroom: long sums
    carry ~2^23 rows of unit-scale embeddings; beyond that swap the
    accumulators to DECIMAL(38,0) (the ``ship_delay_ols_slope``
    pattern, r8) — the grid and expression are unchanged.

    Plan: ONE corpus scan; each row fans out to its 2,080 scalar
    products INSIDE the row (nested transforms + one posexplode), and
    the groupBy(i, j) agg map-side-combines every task down to ≤2,080
    rows before the shuffle — the same contraction class as the Lloyd
    update. Per-dim sums ride a 64-row twin agg and join back
    broadcast. Nothing downstream of the scan is corpus-sized.
    """
    xfp = F.transform(
        "embedding", lambda x: F.round(x.cast("double") * COV_FP, 0).cast("long")
    )
    e = t(spark, sf_dir, "embeddings").select(xfp.alias("xfp"))
    # Pin the 2,145-row aggregated sums: covariance_from_sums reads the
    # frame through FOUR key-filtered references (pairs, si, sj, n) and
    # Catalyst pushes each grouping-key filter below the aggregate —
    # past the exchange, onto the (opaque) partial subtree — so the
    # four exchange subtrees differ and ReusedExchange never fires:
    # the executed plan re-ran the corpus scan + fan-out four times at
    # ANY scale (4× Scan parquet; see OPTIMIZATION_r15.md, and
    # OPTIMIZATION_r16.md for the executing-scan census). The eager
    # checkpoint is one extra tiny job and makes the corpus pass
    # execute exactly once (r15 optimization).
    sums = share(
        covariance_partials_batched(e)
        .groupBy("i", "j")
        .agg(F.sum("v").alias("v")),
        "checkpoint",
    )
    return covariance_from_sums(sums)


def covariance_partials(e: DataFrame) -> DataFrame:
    """Per-row (i, j, v) partial rows whose per-key SUM reconstructs
    the exact covariance — the ONE fold shared by the batch query, the
    streaming twin (``covariance_sums_stream``), and its compaction
    (everything is long addition, so the statistic is mergeable under
    any bracketing):

    - pair rows ``(i, j>=i, xfp[i]*xfp[j])``;
    - per-dim sum rows ``(d, -1, xfp[d])``;
    - one count row ``(-1, -1, 1)`` per input row.

    ``e`` must carry the fixed-point array column ``xfp``."""
    # SQL-expression lambdas (NOT nested Python-lambda HOFs, whose
    # outer-variable capture mis-binds — observed: wrong products and
    # dropped pairs); array[] indexing is 0-based in Spark SQL.
    prods = F.expr(f"""
        flatten(transform(sequence(0, {EMBED_DIM - 1}), i ->
            transform(sequence(i, {EMBED_DIM - 1}), j ->
                struct(cast(i as int) as i, cast(j as int) as j,
                       xfp[i] * xfp[j] as v))))
    """)
    pairs = e.select(F.explode(prods).alias("t")).select(
        F.col("t.i").alias("i"), F.col("t.j").alias("j"),
        F.col("t.v").alias("v"),
    )
    # posexplode is 0-BASED on arrays — pos IS the dim index
    dims = e.select(F.posexplode("xfp").alias("pos", "x")).select(
        F.col("pos").cast("int").alias("i"),
        F.lit(-1).cast("int").alias("j"),
        F.col("x").alias("v"),
    )
    cnt = e.select(
        F.lit(-1).cast("int").alias("i"),
        F.lit(-1).cast("int").alias("j"),
        F.lit(1).cast("long").alias("v"),
    )
    return pairs.unionByName(dims).unionByName(cnt)


def covariance_partials_batched(e: DataFrame) -> DataFrame:
    """Vectorized twin of :func:`covariance_partials` under the SAME
    additive contract — (i, j, v) rows whose per-key SUM reconstructs
    the exact covariance — emitting ONE partial row set per Arrow
    batch instead of 2,145 rows per input row (guide §4.2: hand whole
    batches to native code). Per batch the pair sums are a single
    exact int64 matmul ``Xᵀ·X`` (NumPy integer matmul — no float
    path), the per-dim sums an int64 column fold, so every emitted
    value is the exact long the in-row fan-out would have summed to;
    long addition is associative, so ``groupBy(i, j).sum(v)`` over the
    batch partials lands on bit-identical totals under any batching or
    partitioning. Overflow headroom per batch: |xfp| ≤ COV_FP·max|x|
    (~2^23 for |x| ≤ 8) squared times the ≤10k-row Arrow batch stays
    under 2^60 — far inside int64; the corpus-total bound is the
    documented DECIMAL(38,0) swap in :func:`embedding_covariance`.

    Kept separate from ``covariance_partials`` (row-grain) because the
    streaming twin and the compaction tests exercise the row-grain
    mergeability contract directly; the batch query only needs the
    aggregated totals, where this form removes the 2,080-struct
    interpreted HOF build and the corpus×2,145-row Generate from the
    executed plan (BatchEvalPython replaces Generate; exchange shape
    unchanged)."""

    def _fold(batches):
        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(EMBED_DIM)
        i_out = np.concatenate(
            [iu, np.arange(EMBED_DIM), [-1]]
        ).astype("int32")
        j_out = np.concatenate(
            [ju, np.full(EMBED_DIM, -1), [-1]]
        ).astype("int32")
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.vstack(
                [np.asarray(r, dtype=np.int64) for r in pdf["xfp"]]
            )
            s_pair = (x.T @ x)[iu, ju]
            s_dim = x.sum(axis=0)
            yield pd.DataFrame(
                {
                    "i": i_out,
                    "j": j_out,
                    "v": np.concatenate(
                        [s_pair, s_dim, [len(pdf)]]
                    ).astype("int64"),
                }
            )

    return e.select("xfp").mapInPandas(_fold, schema="i int, j int, v long")


def covariance_from_sums(sums: DataFrame) -> DataFrame:
    """(i, j, n, cov) from the aggregated partial sums — the identical
    deterministic IEEE expression on identical operands as the oracle
    (see :func:`embedding_covariance`)."""
    fp = float(COV_FP)
    n_row = (
        sums.where((F.col("i") == -1) & (F.col("j") == -1))
        .select(F.col("v").alias("n"))
    )
    dims = sums.where((F.col("j") == -1) & (F.col("i") >= 0))
    pairs = sums.where(F.col("j") >= 0).select(
        "i", "j", F.col("v").alias("sxy")
    )
    mean_i = (F.col("si").cast("double") / F.col("n")) / F.lit(fp)
    mean_j = (F.col("sj").cast("double") / F.col("n")) / F.lit(fp)
    cov = (
        (F.col("sxy").cast("double") / F.col("n")) / F.lit(fp * fp)
        - mean_i * mean_j
    )
    di = dims.select(F.col("i"), F.col("v").alias("si"))
    dj = dims.select(F.col("i").alias("j"), F.col("v").alias("sj"))
    return (
        pairs.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .crossJoin(F.broadcast(n_row))
        .select("i", "j", "n", cov.alias("cov"))
    )


EMBEDDING_COVARIANCE_SQL = f"""
WITH e AS (
    SELECT list_transform(embedding::DOUBLE[],
                          x -> round(x * {COV_FP})::BIGINT) AS xfp
    FROM embeddings
),
pairs AS (
    SELECT i.i::INTEGER AS i, j.j::INTEGER AS j,
           sum(xfp[i.i + 1] * xfp[j.j + 1])::BIGINT AS sxy,
           count(*)::BIGINT AS n
    FROM e CROSS JOIN range(0, {EMBED_DIM}) i(i)
           CROSS JOIN range(0, {EMBED_DIM}) j(j)
    WHERE j.j >= i.i
    GROUP BY 1, 2
),
dims AS (
    SELECT i.i::INTEGER AS d, sum(xfp[i.i + 1])::BIGINT AS s
    FROM e CROSS JOIN range(0, {EMBED_DIM}) i(i)
    GROUP BY 1
)
SELECT p.i, p.j, p.n,
       (p.sxy::DOUBLE / p.n) / {float(COV_FP) ** 2}
       - ((di.s::DOUBLE / p.n) / {float(COV_FP)})
         * ((dj.s::DOUBLE / p.n) / {float(COV_FP)}) AS cov
FROM pairs p
JOIN dims di ON di.d = p.i
JOIN dims dj ON dj.d = p.j
"""


# Standardized mean-shift reading bands (the source_length_psi
# convention transplanted to embedding space), compared on EXACT micro
# longs so a label can never flip on a float boundary: a dimension
# whose current mean moved < 0.10 reference-σ is stable, < 0.25
# moderate, else major.
_DRIFT_GRID = 1_000_000
_DRIFT_STABLE_MICRO = 100_000
_DRIFT_MODERATE_MICRO = 250_000


def drift_dim_sums(e: DataFrame) -> DataFrame:
    """Per-dimension exact-long moment sums — (d, n, s, ss) with s and
    ss on the ``COV_FP`` fixed-point grid — from a frame carrying the
    quantized array column ``xfp``. The mergeable contraction every
    drift comparison consumes: one posexplode + groupBy(dim) with
    map-side combine, ≤ ``EMBED_DIM`` rows out of any corpus size, and
    long addition means the sums merge under any bracketing (the
    streamed covariance store's diagonal carries the identical
    numbers — see :func:`drift_sums_from_cov_sums`)."""
    return (
        e.select(F.posexplode("xfp").alias("d", "x"))
        .groupBy(F.col("d").cast("int").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
        )
    )


def drift_sums_from_cov_sums(sums: DataFrame) -> DataFrame:
    """Adapt aggregated :func:`covariance_partials` sums — (i, j, v),
    batch or read back from the streamed covariance store — into the
    (d, n, s, ss) drift frame: the count row (-1,-1) is n, the per-dim
    rows (d,-1) are s, and the DIAGONAL pairs (d,d) are exactly Σxfp²
    = ss. Nothing is recomputed, so drift read from a snapshot of the
    streamed store is bit-identical to drift computed from the rows the
    store ingested."""
    n_row = sums.where((F.col("i") == -1) & (F.col("j") == -1)).select(
        F.col("v").alias("n")
    )
    s = sums.where((F.col("j") == -1) & (F.col("i") >= 0)).select(
        F.col("i").cast("int").alias("d"), F.col("v").alias("s")
    )
    ss = sums.where((F.col("i") >= 0) & (F.col("i") == F.col("j"))).select(
        F.col("i").cast("int").alias("d"), F.col("v").alias("ss")
    )
    return s.join(ss, "d").crossJoin(F.broadcast(n_row)).select(
        "d", "n", "s", "ss"
    )


def drift_frame(ref: DataFrame, cur: DataFrame) -> DataFrame:
    """Per-dimension drift of ``cur`` against the frozen ``ref`` — both
    (d, n, s, ss) frames from :func:`drift_dim_sums` — as the
    standardized mean shift |mean_cur − mean_ref| / σ_ref plus the
    variance ratio, micro-quantized with exact-long band thresholds.
    Every emitted double is a deterministic IEEE expression on the
    exact long sums (mean = (s/n)/FP, var = (ss/n)/FP² − mean², shift
    and ratio one rounded quotient each), so DuckDB replays it
    bit-identically. A zero-variance reference dimension cannot be
    standardized; it reports NULL metrics under the explicit
    ``degenerate`` band instead of an epsilon fudge."""
    fp = float(COV_FP)
    r = ref.select(
        "d",
        F.col("n").alias("n_ref"),
        F.col("s").alias("s_r"),
        F.col("ss").alias("ss_r"),
    )
    c = cur.select(
        "d",
        F.col("n").alias("n_cur"),
        F.col("s").alias("s_c"),
        F.col("ss").alias("ss_c"),
    )
    mean_r = (F.col("s_r").cast("double") / F.col("n_ref")) / F.lit(fp)
    mean_c = (F.col("s_c").cast("double") / F.col("n_cur")) / F.lit(fp)
    var_r = (
        (F.col("ss_r").cast("double") / F.col("n_ref")) / F.lit(fp * fp)
        - mean_r * mean_r
    )
    var_c = (
        (F.col("ss_c").cast("double") / F.col("n_cur")) / F.lit(fp * fp)
        - mean_c * mean_c
    )
    shift_micro = F.when(
        var_r > 0,
        F.round(
            F.abs(mean_c - mean_r) / F.sqrt(var_r) * _DRIFT_GRID, 0
        ).cast("long"),
    )
    ratio_micro = F.when(
        var_r > 0, F.round(var_c / var_r * _DRIFT_GRID, 0).cast("long")
    )
    band = (
        F.when(F.col("shift_micro").isNull(), F.lit("degenerate"))
        .when(F.col("shift_micro") < _DRIFT_STABLE_MICRO, F.lit("stable"))
        .when(F.col("shift_micro") < _DRIFT_MODERATE_MICRO, F.lit("moderate"))
        .otherwise(F.lit("major"))
    )
    return (
        r.join(c, "d")
        .select(
            F.col("d").alias("dim"),
            "n_ref",
            "n_cur",
            mean_r.alias("mean_ref"),
            mean_c.alias("mean_cur"),
            shift_micro.alias("shift_micro"),
            ratio_micro.alias("var_ratio_micro"),
        )
        .select(
            "dim",
            "n_ref",
            "n_cur",
            "mean_ref",
            "mean_cur",
            "shift_micro",
            (F.col("shift_micro").cast("double") / _DRIFT_GRID).alias(
                "mean_shift"
            ),
            "var_ratio_micro",
            (F.col("var_ratio_micro").cast("double") / _DRIFT_GRID).alias(
                "var_ratio"
            ),
            band.alias("drift_band"),
        )
    )


def embedding_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor (VERDICT r12 #2) — the
    cheap leading indicator for the ANN retrain loop: per-dimension
    standardized mean shift + variance ratio of a CURRENT corpus slice
    against a frozen REFERENCE slice, with the ``source_length_psi``
    reading bands on exact micro longs. ``check_index_health`` measures
    recall but needs exact ground truth (a corpus scan per check); an
    upstream embedding-model bump moves these per-dimension moments
    long before recall@k visibly decays (tests/test_embedding_drift.py
    plants exactly that), so an operator crons THIS and reserves the
    recall check for confirmation.

    The oracle-gated form freezes a deterministic split — even vec_ids
    are the reference population, odd the current — so DuckDB replays
    both sides from the same table; the production path feeds
    :func:`drift_frame` the index's persisted training sums as ``ref``
    (operators/ann_index.build_ivfpq_index stores them) and fresh
    moments from :func:`drift_dim_sums` — or a streamed covariance
    store snapshot via :func:`drift_sums_from_cov_sums` — as ``cur``.

    Plan: ONE corpus scan, posexplode, groupBy(grp, dim) with map-side
    combine → ≤ 2·dim rows; the comparison join is dim-sized. Nothing
    downstream of the first agg grows with the corpus. Reference
    parity: the reference repo recomputes embedding statistics per
    batch in pandas (utils/helpers.py) — here the moments are
    mergeable longs, so the monitor costs one contraction at any
    scale."""
    xfp = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * COV_FP, 0).cast("long"),
    )
    e = t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("grp"), xfp.alias("xfp")
    )
    sums = (
        e.select("grp", F.posexplode("xfp").alias("d", "x"))
        .groupBy("grp", F.col("d").cast("int").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
        )
    )
    ref = sums.where(F.col("grp") == 0).select("d", "n", "s", "ss")
    cur = sums.where(F.col("grp") == 1).select("d", "n", "s", "ss")
    return drift_frame(ref, cur)


EMBEDDING_DRIFT_PSI_SQL = f"""
WITH e AS (
    SELECT vec_id % 2 AS grp,
           list_transform(embedding::DOUBLE[],
                          x -> round(x * {COV_FP})::BIGINT) AS xfp
    FROM embeddings
),
sums AS (
    SELECT grp, d.d::INTEGER AS d, count(*)::BIGINT AS n,
           sum(xfp[d.d + 1])::BIGINT AS s,
           sum(xfp[d.d + 1] * xfp[d.d + 1])::BIGINT AS ss
    FROM e CROSS JOIN range(0, {EMBED_DIM}) d(d)
    GROUP BY 1, 2
),
j AS (
    SELECT r.d AS dim, r.n AS n_ref, c.n AS n_cur,
           (r.s::DOUBLE / r.n) / {float(COV_FP)} AS mean_ref,
           (c.s::DOUBLE / c.n) / {float(COV_FP)} AS mean_cur,
           (r.ss::DOUBLE / r.n) / {float(COV_FP) ** 2}
           - ((r.s::DOUBLE / r.n) / {float(COV_FP)})
             * ((r.s::DOUBLE / r.n) / {float(COV_FP)}) AS var_ref,
           (c.ss::DOUBLE / c.n) / {float(COV_FP) ** 2}
           - ((c.s::DOUBLE / c.n) / {float(COV_FP)})
             * ((c.s::DOUBLE / c.n) / {float(COV_FP)}) AS var_cur
    FROM sums r JOIN sums c ON r.d = c.d AND r.grp = 0 AND c.grp = 1
),
m AS (
    SELECT dim, n_ref, n_cur, mean_ref, mean_cur,
           CASE WHEN var_ref > 0 THEN
               round(abs(mean_cur - mean_ref) / sqrt(var_ref)
                     * {_DRIFT_GRID})::BIGINT END AS shift_micro,
           CASE WHEN var_ref > 0 THEN
               round(var_cur / var_ref * {_DRIFT_GRID})::BIGINT
           END AS var_ratio_micro
    FROM j
)
SELECT dim, n_ref, n_cur, mean_ref, mean_cur, shift_micro,
       shift_micro::DOUBLE / {_DRIFT_GRID} AS mean_shift,
       var_ratio_micro,
       var_ratio_micro::DOUBLE / {_DRIFT_GRID} AS var_ratio,
       CASE WHEN shift_micro IS NULL THEN 'degenerate'
            WHEN shift_micro < {_DRIFT_STABLE_MICRO} THEN 'stable'
            WHEN shift_micro < {_DRIFT_MODERATE_MICRO} THEN 'moderate'
            ELSE 'major' END AS drift_band
FROM m
"""


# |Δcorrelation| reading bands on exact micro longs (correlation is
# dimensionless, so absolute thresholds are meaningful at any scale)
_CORR_STABLE_MICRO = 50_000    # < 0.05: stable
_CORR_MODERATE_MICRO = 150_000  # < 0.15: moderate; else major


def _corr_frame(cov: DataFrame) -> DataFrame:
    """(i, j, corr) from a covariance frame — corr = cov/sqrt(v_i·v_j)
    with the variances read off the frame's own diagonal; one IEEE
    expression on identical operands, so both engines land on the same
    doubles."""
    diag = cov.where(F.col("i") == F.col("j")).select(
        F.col("i").alias("d"), F.col("cov").alias("var")
    )
    return (
        cov.join(F.broadcast(diag.select(F.col("d").alias("i"),
                                         F.col("var").alias("v_i"))), "i")
        .join(F.broadcast(diag.select(F.col("d").alias("j"),
                                      F.col("var").alias("v_j"))), "j")
        .select(
            "i",
            "j",
            (
                F.col("cov") / F.sqrt(F.col("v_i") * F.col("v_j"))
            ).alias("corr"),
        )
    )


def embedding_corr_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation-structure drift — the OFF-DIAGONAL complement of
    :func:`embedding_drift_psi`: per-dimension moments are blind to a
    ROTATION of the embedding space (an upstream model update can leave
    every mean and variance in place while scrambling which dimensions
    co-vary — tests/test_embedding_drift.py plants exactly that with a
    Givens rotation), but the pairwise correlation matrix moves
    immediately. Compares each dimension pair's correlation between the
    frozen reference population (even vec_ids) and the current one
    (odd), banded on |Δcorr| micro longs (< 0.05 stable, < 0.15
    moderate, else major) — correlation is dimensionless, so the
    thresholds transfer across corpora unchanged.

    Production path: both covariance matrices come for free — the
    reference from the index build (``embedding_covariance`` over the
    training corpus, or the persisted OPQ input), the current side from
    the streamed covariance store (``read_streamed_covariance``) — so
    the monitor is a 2,080-row join, no corpus rescan.

    Determinism: the per-group sums are the exact fixed-point
    contraction (associative long sums); corr = cov/sqrt(v_i·v_j) and
    Δ are IEEE expressions on identical operands, micro-rounded once.

    Plan (VERDICT r13 finding #1 closed; pair stage vectorized r15):
    ONE corpus scan, ONE shuffle. Per Arrow batch and per group a
    single exact int64 matmul inside a ``mapInPandas`` island emits
    one (grp, i, j, sxy, si, sj, sxx, sjj, n) partial row set (the
    ``covariance_partials_batched`` pattern — the earlier in-row
    2,080-struct interpreted-HOF explosion pushed corpus×2,080 rows
    through the aggregate); a groupBy(grp, i, j) sums the partials —
    all six are associative long sums, so the totals are bit-identical
    to the fan-out form under any batching/partitioning. The r13→r14
    one-scan lesson still binds: a post-agg grp filter re-splits the
    scan (Catalyst pushes grouping-key predicates below the
    Aggregate), and the join-based ``covariance_from_sums`` /
    ``_corr_frame`` derivation defeats exchange reuse the same way.
    The ref/cur split therefore happens in a conditional pivot
    aggregate over the 4,160 already-contracted corr rows —
    max(when(grp=…)) over exactly one row per (grp, i, j) is the
    identity, so the doubles reach the Δ expression bit-unchanged.

    Operand identity with the previous plan (and so with the
    unchanged oracle): si summed inside the (grp, i, j) group equals
    the per-dim sum (every input row of the group emits every pair
    exactly once), n equals the group's row count, sxx equals the
    diagonal sxy of dim i — so cov, var_i, var_j are the same IEEE
    expressions on the same operands as the join-based derivation."""
    xfp = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * COV_FP, 0).cast("long"),
    )
    e = t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 2).alias("grp"), xfp.alias("xfp")
    )
    # Vectorized per-batch partials (r15 optimization, the
    # covariance_partials_batched pattern): the old shape built 2,080
    # interpreted-HOF structs per row and pushed corpus×2,080
    # (grp, i, j, xi, xj) rows through the aggregate. All six sums are
    # exact int64 folds, so per Arrow batch and per group ONE integer
    # matmul Xᵀ·X yields sxy (and sxx = its diagonal at i, sjj at j),
    # a column fold yields si/sj, and n is the batch group size; the
    # final groupBy(grp, i, j) sums one partial row per batch per key —
    # long addition is associative, totals bit-identical to the in-row
    # fan-out under any batching or partitioning.
    def _grp_fold(batches):
        import numpy as np
        import pandas as pd

        iu, ju = np.triu_indices(EMBED_DIM)
        for pdf in batches:
            for grp in sorted(pdf["grp"].unique()):
                rows = pdf[pdf["grp"] == grp]
                if not len(rows):
                    continue
                x = np.vstack(
                    [np.asarray(r, dtype=np.int64) for r in rows["xfp"]]
                )
                s_mat = x.T @ x
                s_dim = x.sum(axis=0)
                yield pd.DataFrame(
                    {
                        "grp": np.full(len(iu), int(grp), dtype=np.int64),
                        "i": iu.astype("int32"),
                        "j": ju.astype("int32"),
                        "sxy": s_mat[iu, ju],
                        "si": s_dim[iu],
                        "sj": s_dim[ju],
                        "sxx": s_mat[iu, iu],
                        "sjj": s_mat[ju, ju],
                        "n": np.full(len(iu), len(rows), dtype=np.int64),
                    }
                )

    partials = e.mapInPandas(
        _grp_fold,
        schema=(
            "grp long, i int, j int, sxy long, si long, sj long, "
            "sxx long, sjj long, n long"
        ),
    )
    sums = partials.groupBy("grp", "i", "j").agg(
        F.sum("sxy").alias("sxy"),
        F.sum("si").alias("si"),
        F.sum("sj").alias("sj"),
        F.sum("sxx").alias("sxx"),
        F.sum("sjj").alias("sjj"),
        F.sum("n").alias("n"),
    )
    fp = float(COV_FP)
    mean_i = (F.col("si").cast("double") / F.col("n")) / F.lit(fp)
    mean_j = (F.col("sj").cast("double") / F.col("n")) / F.lit(fp)
    cov = (
        (F.col("sxy").cast("double") / F.col("n")) / F.lit(fp * fp)
        - mean_i * mean_j
    )
    var_i = (
        (F.col("sxx").cast("double") / F.col("n")) / F.lit(fp * fp)
        - mean_i * mean_i
    )
    var_j = (
        (F.col("sjj").cast("double") / F.col("n")) / F.lit(fp * fp)
        - mean_j * mean_j
    )
    corr = sums.select(
        "grp", "i", "j",
        (cov / F.sqrt(var_i * var_j)).alias("corr"),
    )
    both = corr.groupBy("i", "j").agg(
        F.max(F.when(F.col("grp") == 0, F.col("corr"))).alias("corr_ref"),
        F.max(F.when(F.col("grp") == 1, F.col("corr"))).alias("corr_cur"),
    )
    dmicro = F.round(
        F.abs(F.col("corr_cur") - F.col("corr_ref")) * _DRIFT_GRID, 0
    ).cast("long")
    band = (
        F.when(F.col("dcorr_micro") < _CORR_STABLE_MICRO, F.lit("stable"))
        .when(F.col("dcorr_micro") < _CORR_MODERATE_MICRO, F.lit("moderate"))
        .otherwise(F.lit("major"))
    )
    return (
        both
        .select(
            "i",
            "j",
            F.round("corr_ref", 6).alias("corr_ref"),
            F.round("corr_cur", 6).alias("corr_cur"),
            dmicro.alias("dcorr_micro"),
        )
        .select(
            "i", "j", "corr_ref", "corr_cur", "dcorr_micro",
            (F.col("dcorr_micro").cast("double") / _DRIFT_GRID).alias(
                "dcorr"
            ),
            band.alias("drift_band"),
        )
    )


def _corr_drift_sql() -> str:
    def cov_cte(tag: str, parity: int) -> str:
        return f"""
e{tag} AS (
    SELECT list_transform(embedding::DOUBLE[],
                          x -> round(x * {COV_FP})::BIGINT) AS xfp
    FROM embeddings WHERE vec_id % 2 = {parity}
),
pairs{tag} AS (
    SELECT i.i::INTEGER AS i, j.j::INTEGER AS j,
           sum(xfp[i.i + 1] * xfp[j.j + 1])::BIGINT AS sxy,
           count(*)::BIGINT AS n
    FROM e{tag} CROSS JOIN range(0, {EMBED_DIM}) i(i)
           CROSS JOIN range(0, {EMBED_DIM}) j(j)
    WHERE j.j >= i.i
    GROUP BY 1, 2
),
dims{tag} AS (
    SELECT i.i::INTEGER AS d, sum(xfp[i.i + 1])::BIGINT AS s
    FROM e{tag} CROSS JOIN range(0, {EMBED_DIM}) i(i)
    GROUP BY 1
),
cov{tag} AS MATERIALIZED (
    SELECT p.i, p.j,
           (p.sxy::DOUBLE / p.n) / {float(COV_FP) ** 2}
           - ((di.s::DOUBLE / p.n) / {float(COV_FP)})
             * ((dj.s::DOUBLE / p.n) / {float(COV_FP)}) AS cov
    FROM pairs{tag} p
    JOIN dims{tag} di ON di.d = p.i
    JOIN dims{tag} dj ON dj.d = p.j
),
corr{tag} AS MATERIALIZED (
    SELECT c.i, c.j, c.cov / sqrt(vi.cov * vj.cov) AS corr
    FROM cov{tag} c
    JOIN cov{tag} vi ON vi.i = c.i AND vi.j = c.i
    JOIN cov{tag} vj ON vj.i = c.j AND vj.j = c.j
)"""

    return f"""
WITH {cov_cte("r", 0)},
{cov_cte("c", 1)}
SELECT r.i, r.j,
       round(r.corr, 6) AS corr_ref,
       round(c.corr, 6) AS corr_cur,
       round(abs(c.corr - r.corr) * {_DRIFT_GRID})::BIGINT AS dcorr_micro,
       round(abs(c.corr - r.corr) * {_DRIFT_GRID})::BIGINT::DOUBLE
           / {_DRIFT_GRID} AS dcorr,
       CASE WHEN round(abs(c.corr - r.corr) * {_DRIFT_GRID})::BIGINT
                 < {_CORR_STABLE_MICRO} THEN 'stable'
            WHEN round(abs(c.corr - r.corr) * {_DRIFT_GRID})::BIGINT
                 < {_CORR_MODERATE_MICRO} THEN 'moderate'
            ELSE 'major' END AS drift_band
FROM corrr r JOIN corrc c ON c.i = r.i AND c.j = r.j
"""


def pca_top_component(
    spark: SparkSession, sf_dir: str, *, iters: int = 1000
) -> dict:
    """Top principal component of the embedding corpus by power
    iteration on the EXACT covariance from
    :func:`embedding_covariance`: the matrix is dim x dim (64 x 64 =
    4,096 scalars — driver-sized at ANY corpus scale), so the
    iteration runs driver-side in plain Python after one distributed
    contraction. Returns ``{"eigenvalue", "component", "explained"}``
    (explained = λ / trace). Deterministic: fixed all-ones start,
    fixed iteration count, exact input matrix. Convergence is
    geometric in λ2/λ1 — a near-flat spectrum (random embeddings)
    needs hundreds of iterations, which at 64x64 costs microseconds;
    the default 1000 converges the eigenvalue past 1e-9 here. The
    whitening / OPQ-rotation seed; verified against numpy's full
    eigendecomposition in tests/test_pq_codebook.py."""
    return _power_iteration(
        embedding_covariance(spark, sf_dir).collect(), iters=iters
    )


def _power_iteration(rows, *, iters: int = 1000) -> dict:
    """Power iteration on collected (i, j, cov) upper-triangle rows —
    the ONE iteration shared by the batch query and the streamed-store
    twin (``streaming/jobs.pca_top_component_from_store``), so a
    streaming deployment derives the SAME top component from its merged
    sums as a batch run over the same rows (bit-exactly: the covariance
    fold is associative long addition and this loop is a fixed-order
    pure-Python float recurrence on the resulting matrix)."""
    dim = EMBED_DIM
    cov = [[0.0] * dim for _ in range(dim)]
    for r in rows:
        cov[r["i"]][r["j"]] = float(r["cov"])
        cov[r["j"]][r["i"]] = float(r["cov"])
    v = [1.0] * dim
    lam = 0.0
    for _ in range(iters):
        w = [sum(cov[i][k] * v[k] for k in range(dim)) for i in range(dim)]
        nrm = sum(x * x for x in w) ** 0.5
        if nrm == 0.0:
            break
        v = [x / nrm for x in w]
        lam = nrm
    trace = sum(cov[i][i] for i in range(dim))
    return {
        "eigenvalue": lam,
        "component": v,
        "explained": lam / trace if trace else 0.0,
    }


# ---------------------------------------------------------------------------
# OPQ rotation: partial classical Jacobi + balanced eigen-axis allocation
# ---------------------------------------------------------------------------

OPQ_JACOBI_ROUNDS = 48   # classical-Jacobi rotations (see docstring)


def _opq_jacobi(cov_rows, rounds: int = OPQ_JACOBI_ROUNDS):
    """Driver-side mirror of the oracle's unrolled Jacobi rounds: from
    the exact covariance rows (i, j, n, cov), run ``rounds`` classical
    Jacobi rotations (each zeroes the largest off-diagonal |a_ij|;
    ties break on (i, j) ascending) and return ``(A, V)`` — the
    partially diagonalized matrix and the accumulated orthogonal
    rotation (V's column k is rotated axis k).

    Bit-identical cross-engine BY CONSTRUCTION: the classical Jacobi
    update is trig-free — tau = (aqq-app)/(2·apq), t = sign(tau)/(|tau|
    + sqrt(1+tau²)), c = 1/sqrt(1+t²), s = t·c — so every operation
    (+ - * / sqrt abs compare) is IEEE-754 exactly-rounded, and both
    engines walk the identical expression tree on the identical exact
    covariance input. No libm call (sin/cos/atan are NOT correctly
    rounded and differ across libms) ever enters the computation.
    The a_pq entry is SET to 0.0, never computed, on both sides."""
    dim = EMBED_DIM
    A = [[0.0] * dim for _ in range(dim)]
    for r in cov_rows:
        A[r["i"]][r["j"]] = float(r["cov"])
        A[r["j"]][r["i"]] = float(r["cov"])
    V = [[1.0 if i == j else 0.0 for j in range(dim)] for i in range(dim)]
    for _ in range(rounds):
        best = None
        for i in range(dim):
            row = A[i]
            for j in range(i + 1, dim):
                key = abs(row[j])
                if best is None or key > best[0]:
                    best = (key, i, j)
        _, p, q = best
        app, aqq, apq = A[p][p], A[q][q], A[p][q]
        if apq == 0:
            t_ = 0.0
        else:
            tau = (aqq - app) / (2 * apq)
            sign = 1.0 if tau >= 0 else -1.0
            t_ = sign / (abs(tau) + math.sqrt(1 + tau * tau))
        # s is written as t * (1/sqrt(1+t²)) — NOT t * c via a reused
        # temporary — to mirror the oracle's expression tree verbatim.
        c = 1.0 / math.sqrt(1 + t_ * t_)
        s = t_ * (1.0 / math.sqrt(1 + t_ * t_))
        oldp = A[p][:]
        oldq = A[q][:]
        for k in range(dim):
            if k == p or k == q:
                continue
            A[p][k] = A[k][p] = c * oldp[k] - s * oldq[k]
            A[q][k] = A[k][q] = s * oldp[k] + c * oldq[k]
        A[p][p] = c * c * app - 2.0 * s * c * apq + s * s * aqq
        A[q][q] = s * s * app + 2.0 * s * c * apq + c * c * aqq
        A[p][q] = A[q][p] = 0.0
        for k in range(dim):
            vp, vq = V[k][p], V[k][q]
            V[k][p] = c * vp - s * vq
            V[k][q] = s * vp + c * vq
    return A, V


def _opq_alloc(A) -> list[tuple[int, int, int]]:
    """Balanced eigen-axis allocation: rank rotated axes by captured
    variance (the partially diagonalized matrix's diagonal) DESC with
    axis-index tiebreak, then deal them to the ``PQ_M`` subspaces in
    snake order — (subspace, slot, axis) triples. Snake dealing keeps
    per-subspace variance budgets near-equal, the OPQ-P balance
    criterion (Ge et al. 2013 practice OPQ via eigenvalue allocation)."""
    dim = EMBED_DIM
    order = sorted(range(dim), key=lambda k: (-A[k][k], k))
    out = []
    for r, k in enumerate(order):
        b, t_ = divmod(r, PQ_M)
        sub = t_ if b % 2 == 0 else PQ_M - 1 - t_
        out.append((sub, b, k))
    return out


def opq_rotation(spark: SparkSession, sf_dir: str):
    """The learned OPQ rotation as driver-side values: ``(V, alloc)``
    with V the 64x64 orthogonal matrix (column k = rotated axis k) and
    ``alloc`` the (subspace, slot, axis) placement — the artifacts
    :func:`apply_opq_rotation` and an index builder consume unrounded."""
    cov_rows = embedding_covariance(spark, sf_dir).collect()
    A, V = _opq_jacobi(cov_rows)
    return V, _opq_alloc(A)


def embedding_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ rotation learned from the exact embedding covariance
    (VERDICT r11 #2; closes the loop ``embedding_covariance``'s
    docstring names): ``OPQ_JACOBI_ROUNDS`` classical Jacobi rotations
    partially diagonalize the covariance, and the rotated axes are
    dealt to the PQ subspaces in snake order by captured variance —
    OPQ-P, the eigenvalue-allocation OPQ of Ge et al. 2013 (CVPR),
    with partial Jacobi standing in for the full eigendecomposition so
    the ORACLE CAN REPLAY IT: every Jacobi update is trig-free (only
    IEEE exactly-rounded + - * / sqrt on the exact covariance), so the
    DuckDB oracle unrolls the identical 48 rounds as CTEs and lands on
    bit-identical doubles — verified 0/4096 mismatching micro-rounded
    weights on all three fixtures. Emits the rotation in coordinate
    form: (subspace, slot, in_dim, w) — rotated coordinate
    (subspace*16 + slot) = Σ_d emb[d]·w(d).

    Plan: ONE distributed contraction (the 2,080-row exact covariance)
    + a driver-side 64x64 fixed-round iteration (microseconds at ANY
    corpus scale — the ``pca_top_component`` pattern) + a 4,096-row
    createDataFrame. Nothing here grows with the corpus.

    Measured effect (tests/test_opq.py asserts the fixture case): PQ
    reconstruction error with the rotation applied before training is
    ~0.6-1.1 % below unrotated at sf0.001/sf0.01. The gain is small
    BECAUSE the synthetic fixture is near-isotropic (per-dim variance
    ratio 1.3, flat spectrum); real text/image embeddings are heavily
    anisotropic, where eigenvalue-allocation OPQ is worth several
    recall points at equal code budget. At sf0.1 (2,000 near-iid rows)
    the effect is ~0 — the honest-gauge note of the recall monitor
    applies here too.
    """
    V, alloc = opq_rotation(spark, sf_dir)
    rows = []
    for sub, slot, k in alloc:
        for d in range(EMBED_DIM):
            v = V[d][k]
            w_micro = int(math.floor(abs(v) * _INERTIA_GRID + 0.5)) * (
                1 if v >= 0 else -1
            )
            rows.append(
                (sub, slot, d, w_micro, w_micro / float(_INERTIA_GRID))
            )
    return spark.createDataFrame(
        rows, "subspace int, slot int, in_dim int, w_micro long, w double"
    )


def apply_opq_rotation(
    spark: SparkSession, sf_dir: str, vmat_flat: list[float] | None = None
) -> DataFrame:
    """(vec_id, emb) with the learned rotation + allocation applied:
    out[o] = Σ_d emb[d]·V[d][axis(o)] in a FIXED left-fold order (the
    4,096 weights inline as one literal array) — a deterministic pure
    per-row map, no join, no shuffle, at any corpus scale. Feed the
    result to ``_sub_split`` + ``_pq_state_from_sub`` to train PQ in
    the rotated space (what tests/test_opq.py measures). At production
    dim (768+) the literal array outgrows codegen constants — switch to
    a broadcast join on (in_dim, out_pos, w) rows with a (vec_id,
    out_pos) partial agg, the ``embedding_covariance`` contraction
    class.

    ``vmat_flat`` — the :func:`opq_vmat_flat` weight vector — lets a
    caller that already learned the rotation (the OPQ index builder,
    which must also PERSIST the weights) reuse it instead of re-running
    the distributed covariance contraction + 48 Jacobi rounds for the
    same deterministic result (ADVICE r12); omitted, the rotation is
    learned here."""
    if vmat_flat is None:
        V, alloc = opq_rotation(spark, sf_dir)
        vmat_flat = opq_vmat_flat(V, alloc)
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("raw"),
    )
    return (
        e.withColumn(
            "__vmat", F.array(*[F.lit(v) for v in vmat_flat])
        )
        .select("vec_id", opq_rotate_col("raw").alias("emb"))
    )


def opq_vmat_flat(V, alloc) -> list[float]:
    """Flatten (V, alloc) into the out-position-major weight vector
    :func:`opq_rotate_col` consumes: entry o*dim + d = V[d][axis(o)]."""
    axis_of_out = [0] * EMBED_DIM
    for sub, slot, k in alloc:
        axis_of_out[sub * PQ_SUBDIM + slot] = k
    return [
        V[d][axis_of_out[o]]
        for o in range(EMBED_DIM)
        for d in range(EMBED_DIM)
    ]


def opq_rotate_col(src: str) -> Column:
    """Rotated embedding as a deterministic left-fold per-row map over
    the literal weight column ``__vmat`` (see :func:`apply_opq_rotation`
    for the production-dim broadcast-join alternative). The fold order
    is the contract: ``opq_rotate_py`` mirrors it bit-exactly."""
    return F.expr(
        f"""transform(sequence(0, {EMBED_DIM - 1}), o ->
                aggregate(sequence(0, {EMBED_DIM - 1}),
                          cast(0.0 as double),
                          (acc, d) -> acc + {src}[d] * __vmat[o * {EMBED_DIM} + d]))"""
    )


def opq_rotate_py(vec: list[float], vmat_flat: list[float]) -> list[float]:
    """Driver-side mirror of :func:`opq_rotate_col` — the identical
    left-to-right accumulation on identical doubles, so a query vector
    rotated here scores appended/built codes consistently (used by the
    OPQ index's ADC LUT construction)."""
    out = []
    for o in range(EMBED_DIM):
        acc = 0.0
        off = o * EMBED_DIM
        for d in range(EMBED_DIM):
            acc = acc + vec[d] * vmat_flat[off + d]
        out.append(acc)
    return out


def _opq_cte_chain(rounds: int = OPQ_JACOBI_ROUNDS) -> str:
    """The unrolled-Jacobi CTE chain through ``a{rounds}``/``u{rounds}``
    — ``rounds`` x (pick, params, matrix update, rotation update) CTE
    quadruples over the 4,096-row matrix frames, shared by the rotation
    oracle and the explained-variance oracle. Every multi-referenced
    CTE is MATERIALIZED — inlining would re-expand each round's 5
    parent references and blow up exponentially across 48 rounds."""
    parts = [f"""cov AS MATERIALIZED ({EMBEDDING_COVARIANCE_SQL}),
a0 AS MATERIALIZED (
    SELECT i, j, cov AS v FROM cov
    UNION ALL
    SELECT j, i, cov FROM cov WHERE i <> j
),
u0 AS MATERIALIZED (
    SELECT i.i::INTEGER AS i, j.j::INTEGER AS j,
           CASE WHEN i.i = j.j THEN 1.0 ELSE 0.0 END AS v
    FROM range(0, {EMBED_DIM}) i(i) CROSS JOIN range(0, {EMBED_DIM}) j(j)
)"""]
    tau = "((x.aqq - x.app) / (2 * x.apq))"
    for r in range(rounds):
        parts.append(f"""
pk{r} AS MATERIALIZED (
    SELECT i AS p, j AS q, v AS apq FROM a{r}
    WHERE i < j ORDER BY abs(v) DESC, i, j LIMIT 1
)""")
        parts.append(f"""
cs{r} AS MATERIALIZED (
    SELECT x.p, x.q, x.app, x.aqq, x.apq,
           1.0 / sqrt(1 + x.t * x.t) AS c,
           x.t * (1.0 / sqrt(1 + x.t * x.t)) AS s
    FROM (
        SELECT x.*,
               CASE WHEN x.apq = 0 THEN 0.0
                    ELSE (CASE WHEN {tau} >= 0 THEN 1.0 ELSE -1.0 END)
                         / (abs({tau}) + sqrt(1 + {tau} * {tau}))
               END AS t
        FROM (
            SELECT pk.p, pk.q, pk.apq,
                   app.v AS app, aqq.v AS aqq
            FROM pk{r} pk
            JOIN a{r} app ON app.i = pk.p AND app.j = pk.p
            JOIN a{r} aqq ON aqq.i = pk.q AND aqq.j = pk.q
        ) x
    ) x
)""")
        parts.append(f"""
a{r + 1} AS MATERIALIZED (
    SELECT a.i, a.j,
        CASE
          WHEN a.i = cs.p AND a.j = cs.p
            THEN cs.c * cs.c * cs.app - 2.0 * cs.s * cs.c * cs.apq
                 + cs.s * cs.s * cs.aqq
          WHEN a.i = cs.q AND a.j = cs.q
            THEN cs.s * cs.s * cs.app + 2.0 * cs.s * cs.c * cs.apq
                 + cs.c * cs.c * cs.aqq
          WHEN (a.i = cs.p AND a.j = cs.q) OR (a.i = cs.q AND a.j = cs.p)
            THEN 0.0
          WHEN a.i = cs.p THEN cs.c * rpj.v - cs.s * rqj.v
          WHEN a.i = cs.q THEN cs.s * rpj.v + cs.c * rqj.v
          WHEN a.j = cs.p THEN cs.c * rpi.v - cs.s * rqi.v
          WHEN a.j = cs.q THEN cs.s * rpi.v + cs.c * rqi.v
          ELSE a.v
        END AS v
    FROM a{r} a
    CROSS JOIN cs{r} cs
    LEFT JOIN a{r} rpj ON rpj.i = cs.p AND rpj.j = a.j
    LEFT JOIN a{r} rqj ON rqj.i = cs.q AND rqj.j = a.j
    LEFT JOIN a{r} rpi ON rpi.i = cs.p AND rpi.j = a.i
    LEFT JOIN a{r} rqi ON rqi.i = cs.q AND rqi.j = a.i
)""")
        parts.append(f"""
u{r + 1} AS MATERIALIZED (
    SELECT u.i, u.j,
        CASE WHEN u.j = cs.p THEN cs.c * up.v - cs.s * uq.v
             WHEN u.j = cs.q THEN cs.s * up.v + cs.c * uq.v
             ELSE u.v END AS v
    FROM u{r} u
    CROSS JOIN cs{r} cs
    LEFT JOIN u{r} up ON up.i = u.i AND up.j = cs.p
    LEFT JOIN u{r} uq ON uq.i = u.i AND uq.j = cs.q
)""")
    return "WITH " + ",".join(parts)


def _opq_sql(rounds: int = OPQ_JACOBI_ROUNDS) -> str:
    return f"""{_opq_cte_chain(rounds)},
diag AS (
    SELECT i AS k, v,
           row_number() OVER (ORDER BY v DESC, i) - 1 AS r
    FROM a{rounds} WHERE i = j
),
alloc AS (
    SELECT k,
           CASE WHEN (r // {PQ_M}) % 2 = 0 THEN r % {PQ_M}
                ELSE {PQ_M - 1} - (r % {PQ_M}) END AS subspace,
           (r // {PQ_M}) AS slot
    FROM diag
)
SELECT al.subspace::INTEGER AS subspace, al.slot::INTEGER AS slot,
       u.i AS in_dim,
       round(u.v * {_INERTIA_GRID})::BIGINT AS w_micro,
       round(u.v * {_INERTIA_GRID})::BIGINT::DOUBLE
           / {float(_INERTIA_GRID)} AS w
FROM u{rounds} u JOIN alloc al ON al.k = u.j
"""


EMBEDDING_OPQ_ROTATION_SQL = _opq_sql()


def embedding_pca_explained_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Explained-variance spectrum of the embedding corpus — the scree
    curve a dimensionality-reduction / whitening report publishes
    (how many axes carry how much of the variance; where to truncate).
    Axes are the partially-diagonalized Jacobi basis of
    :func:`embedding_opq_rotation` (variance per rotated axis = the
    diagonal), ranked by captured variance.

    Determinism: the diagonal is bit-identical cross-engine (the
    trig-free Jacobi argument); each variance quantizes to micro-unit
    longs, so the CUMULATIVE curve is an exact long cumsum over the
    rank order (order-independent addition — no float-accumulation
    drift), and ``cum_explained`` is one exact-integer division per
    row. ``variance`` itself emits raw (bit-identical doubles).

    Plan: the covariance contraction + driver-side scalars, like the
    rotation query. Emits 64 rows at any corpus scale.
    """
    cov_rows = embedding_covariance(spark, sf_dir).collect()
    A, _V = _opq_jacobi(cov_rows)
    dim = EMBED_DIM
    order = sorted(range(dim), key=lambda k: (-A[k][k], k))
    micro = {
        k: int(math.floor(abs(A[k][k]) * _INERTIA_GRID + 0.5))
        * (1 if A[k][k] >= 0 else -1)
        for k in range(dim)
    }
    total = sum(micro.values())
    rows, cum = [], 0
    for r, k in enumerate(order, start=1):
        cum += micro[k]
        rows.append(
            (
                r,
                k,
                A[k][k],
                micro[k],
                cum,
                (float(cum) / float(total)) if total else 0.0,
            )
        )
    return spark.createDataFrame(
        rows,
        "var_rank int, axis int, variance double, var_micro long, "
        "cum_var_micro long, cum_explained double",
    )


EMBEDDING_PCA_EXPLAINED_SQL = f"""{_opq_cte_chain()},
d AS (
    SELECT i AS axis, v,
           round(v * {_INERTIA_GRID})::BIGINT AS var_micro,
           row_number() OVER (ORDER BY v DESC, i) AS var_rank
    FROM a{OPQ_JACOBI_ROUNDS} WHERE i = j
),
c AS (
    SELECT *,
           sum(var_micro) OVER (
               ORDER BY var_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS cum_var_micro,
           sum(var_micro) OVER ()::BIGINT AS total_micro
    FROM d
)
SELECT var_rank::INTEGER AS var_rank, axis, v AS variance, var_micro,
       cum_var_micro,
       CASE WHEN total_micro = 0 THEN 0.0
            ELSE cum_var_micro::DOUBLE / total_micro::DOUBLE END
           AS cum_explained
FROM c
"""


KCENTER_K = 6   # coreset size (selection trace length)


def embedding_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus —
    the diversity-sampling step of data curation (pick K maximally
    spread exemplars; the classic 2-approximation farthest-point
    heuristic, and the usual seed set for facility-location /
    submodular selection). Emits the selection TRACE: rank, chosen
    vector, and its distance to the already-selected set — the curve a
    curation report reads to see when additional exemplars stop adding
    diversity.

    Iterative fixed point, kmeans-family discipline: each round scores
    every vector's min squared L2 distance to the selected set (the
    selected vectors ride into the ``_assign_batched`` island's
    closure — a pure per-row map, no join), quantizes the min distance
    to micro-unit longs (same left-fold + round the oracle replays;
    round-of-min == min-of-rounds by monotonicity, see the round-body
    comment), and argmaxes via ``orderBy(...).limit(1)`` —
    ``TakeOrderedAndProject``, per-partition 1-row heaps. The driver
    sees ONE row per round; per-round cost is one corpus scan with a
    K-term expression, no shuffle at all. Deterministic: seed = lowest
    vec_id; ties break by vec_id on exact longs.
    """
    return kcenter_coreset(spark, sf_dir, KCENTER_K)


def kcenter_coreset(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Greedy k-center selection trace for arbitrary ``k`` —
    :func:`embedding_kcenter_coreset` with the coreset size as a
    parameter. Every round: one corpus pass through the
    :func:`_assign_batched` Arrow island, argmax via
    TakeOrderedAndProject, 1 driver row per round.

    One code path for every K (optimization r16): rounds past 16
    selected previously fell back to a broadcast cross join whose
    per-pair ``min(round(_sqdist·GRID))`` folded the interpreted
    ``_sqdist`` HOF — the last interpreted distance fold in the scoring
    family (VERDICT r15 #4; the pre-r15 sub-16 form was an inlined
    ``least()`` chain whose only constraint was the JVM codegen
    method-size limit, which the island does not have — its closure
    carries the already-driver-resident selected list, O(K·dim)
    doubles). Equivalence of the island's round-of-min to the join
    path's min-of-rounds: the island returns the bit-identical argmin
    DISTANCE (same IEEE per-dimension fold order as ``_sqdist``, both
    accumulate from +0.0), and ``x·GRID`` (positive factor) and
    round-HALF-UP are monotone non-decreasing, so
    ``min_i(round(d_i·GRID)) == round((min_i d_i)·GRID)`` — the md
    long is unchanged, as is the (md, vec_id) argmax.
    tests/test_kcenter_paths.py cross-checks the trace against an
    independent driver-side NumPy/Decimal implementation of the same
    math."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    seed = e.orderBy("vec_id").limit(1).collect()[0]
    selected: list[tuple[int, list[float]]] = [
        (int(seed["vec_id"]), list(seed["emb"]))
    ]
    trace: list[tuple[int, int, int]] = [(1, selected[0][0], 0)]

    for r in range(2, k + 1):
        sel_ids = [vid for vid, _ in selected]
        cand = e.where(~F.col("vec_id").isin(sel_ids))
        scored = _assign_batched(
            cand,
            "emb",
            [("vec_id", "long"), ("emb", "array<double>")],
            [(i, vec) for i, (_vid, vec) in enumerate(selected)],
            dist_col="__md_raw",
        ).select(
            "vec_id",
            "emb",
            F.round(F.col("__md_raw") * _INERTIA_GRID, 0)
            .cast("long")
            .alias("md"),
        )
        best = (
            scored.orderBy(F.desc("md"), "vec_id").limit(1).collect()[0]
        )
        selected.append((int(best["vec_id"]), list(best["emb"])))
        trace.append((r, int(best["vec_id"]), int(best["md"])))
    return spark.createDataFrame(
        trace, "sel_rank int, vec_id long, mindist_micro long"
    ).select(
        "sel_rank",
        "vec_id",
        "mindist_micro",
        (
            F.col("mindist_micro").cast("double") / F.lit(float(_INERTIA_GRID))
        ).alias("mindist"),
    )


def _kcenter_sql() -> str:
    dist = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> (e.emb[i] - s.emb[i]) * (e.emb[i] - s.emb[i])), "
        "(a, b) -> a + b)"
    )
    parts = [
        """
e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
s1 AS (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1),
p1 AS (SELECT 1 AS sel_rank, vec_id, 0::BIGINT AS md FROM s1)"""
    ]
    for k in range(2, KCENTER_K + 1):
        parts.append(f"""
c{k} AS (
    SELECT e.vec_id,
           min(round({dist} * {_INERTIA_GRID})::BIGINT) AS md
    FROM e CROSS JOIN s{k - 1} s
    WHERE e.vec_id NOT IN (SELECT vec_id FROM s{k - 1})
    GROUP BY e.vec_id
)""")
        parts.append(f"""
p{k} AS (
    SELECT {k} AS sel_rank, vec_id, md FROM c{k}
    ORDER BY md DESC, vec_id LIMIT 1
)""")
        parts.append(f"""
s{k} AS (
    SELECT vec_id, emb FROM s{k - 1}
    UNION ALL
    SELECT e.vec_id, e.emb FROM e WHERE e.vec_id = (SELECT vec_id FROM p{k})
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT sel_rank, vec_id, md FROM p{k}"
        for k in range(1, KCENTER_K + 1)
    )
    return (
        "WITH " + ",".join(parts)
        + f"""
SELECT sel_rank::INTEGER AS sel_rank, vec_id, md AS mindist_micro,
       md::DOUBLE / {float(_INERTIA_GRID)} AS mindist
FROM ({finals})
"""
    )


EMBEDDING_KCENTER_SQL = _kcenter_sql()


def simsearch_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF-PQ ADC path against exact brute-force cosine
    — the SECOND approximation stage's quality monitor (IVF pruning
    loses candidates, PQ quantization reranks them; this measures the
    compound effect, to be read next to :func:`simsearch_ivf_recall`'s
    IVF-only number). Same contraction-sized overlap-join shape.

    Honest-gauge note: the ADC number here is LOW by construction — the
    exact baseline ranks by cosine while ADC ranks by squared L2 (the
    two disagree on unnormalized vectors), and the demo codebook is 4
    centroids/subspace against production's 256. That is the point of
    shipping the monitor: quantization loss is a measured, first-class
    output. A deployment L2-normalizes embeddings first (making cosine
    and L2 rank-equivalent) and sizes K up, and reads this same query
    to pick nprobe/K.

    r12: the monitor now reports BOTH stages side by side —
    ``recall_adc`` (codes-only ranking) and ``recall_rerank`` (the
    two-stage :func:`simsearch_ivfpq_rerank` output). Because the
    re-rank uses the exact baseline's own total order over a candidate
    superset of the ADC top-k, ``recall_rerank >= recall_adc`` holds
    per query by construction — the gap IS the recall the exact
    re-rank stage buys back from quantization error."""
    exact = embedding_knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    def hits_of(approx: DataFrame, name: str) -> DataFrame:
        return (
            exact.join(approx, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count("*").alias(name))
        )

    adc_hits = hits_of(
        simsearch_ivfpq_topk(spark, sf_dir).select("query_id", "neighbor_id"),
        "h_adc",
    )
    rr_hits = hits_of(
        simsearch_ivfpq_rerank(spark, sf_dir).select(
            "query_id", "neighbor_id"
        ),
        "h_rr",
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(adc_hits, "query_id", "left")
        .join(rr_hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h_adc", F.lit(0)).cast("long").alias("n_hits_adc"),
            (
                F.coalesce("h_adc", F.lit(0)).cast("double") / F.lit(KNN_K)
            ).alias("recall_adc"),
            F.coalesce("h_rr", F.lit(0)).cast("long").alias("n_hits_rerank"),
            (
                F.coalesce("h_rr", F.lit(0)).cast("double") / F.lit(KNN_K)
            ).alias("recall_rerank"),
        )
    )


SIMSEARCH_IVFPQ_RECALL_SQL = f"""
WITH exact_knn AS (SELECT query_id, neighbor_id FROM ({EMBEDDING_KNN_SQL})),
pq_knn AS (SELECT query_id, neighbor_id FROM ({SIMSEARCH_IVFPQ_SQL})),
rr_knn AS (SELECT query_id, neighbor_id FROM ({SIMSEARCH_IVFPQ_RERANK_SQL})),
adc_hits AS (
    SELECT e.query_id, count(*)::BIGINT AS h_adc
    FROM exact_knn e JOIN pq_knn USING (query_id, neighbor_id)
    GROUP BY 1
),
rr_hits AS (
    SELECT e.query_id, count(*)::BIGINT AS h_rr
    FROM exact_knn e JOIN rr_knn USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT q.query_id,
       coalesce(a.h_adc, 0)::BIGINT AS n_hits_adc,
       coalesce(a.h_adc, 0)::DOUBLE / {KNN_K} AS recall_adc,
       coalesce(r.h_rr, 0)::BIGINT AS n_hits_rerank,
       coalesce(r.h_rr, 0)::DOUBLE / {KNN_K} AS recall_rerank
FROM (SELECT DISTINCT query_id FROM exact_knn) q
LEFT JOIN adc_hits a USING (query_id)
LEFT JOIN rr_hits r USING (query_id)
"""


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup = k-means partition + within-cluster cosine
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4   # within-cluster cosine ceiling (matches the global
                     # COSINE_DUP_THRESHOLD so the two axes are comparable)


def _witness_pairs_pdf(pdf, tau_lo: float, block_elems: int = 4_000_000):
    """Per-cluster SemDeDup witness fold over one pandas group.

    Column-BLOCKED pair fold (r16, ADVICE r15): the r15 form
    materialized three dense |cluster|² arrays per task (dots, cos,
    mask — ~2.5 GB at the documented 10k production cluster size, 3x
    the then-docstring's claim). Processing candidate columns in blocks
    of B ≈ ``block_elems``/|cluster| keeps every buffer O(|cluster| ×
    B) ≈ 32 MB regardless of cluster size, so per-task peak is now
    |cluster|×dim (the vectors) + O(1) block buffers. Bit equivalence:
    each pair's accumulator still receives the exact products a_d·b_d
    in the same ascending-d order from +0.0 (blocking partitions
    PAIRS, never a pair's fold), and cos = dot/(norm_a·norm_b) is the
    same elementwise expression the full-matrix form evaluated.
    Zero-norm embeddings raise loudly: the old Spark predicate treated
    a NaN cosine as a witness (NaN sorts above any double) while NumPy
    comparison would silently drop it — unreachable on the synthetic
    corpus, but the divergence must not be silent (ADVICE r15).
    Module-level so tests can drive the block boundaries directly
    (tests/test_semdedup_witness.py runs tiny ``block_elems``)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id", ignore_index=True)
    n = len(pdf)
    if n < 2:
        return pd.DataFrame(
            {"vec_id": pd.Series([], dtype="int64"),
             "dup_of": pd.Series([], dtype="int64")}
        )
    x = np.vstack([np.asarray(r, dtype=np.float64) for r in pdf["emb"]])
    nrm2 = np.zeros(n)
    for d in range(x.shape[1]):  # exact left-fold order
        col = x[:, d]
        nrm2 += col * col
    if not np.all(nrm2 > 0.0):
        raise ValueError(
            "semantic_dedup_semdedup: zero-norm embedding in "
            "cluster — cosine undefined (the join-form predicate "
            "would treat the NaN as a witness; refusing to diverge "
            "silently)"
        )
    norm = np.sqrt(nrm2)
    ids = pdf["vec_id"].to_numpy()
    row_idx = np.arange(n)[:, None]
    bsz = int(min(n, max(256, block_elems // n)))
    out_v, out_d = [], []
    tmp = np.empty((n, bsz))
    for j0 in range(1, n, bsz):  # column 0 has no i < j candidates
        j1 = min(j0 + bsz, n)
        t = tmp[:, : j1 - j0]
        blk = np.zeros((n, j1 - j0))
        for d in range(x.shape[1]):  # exact left-fold order per pair
            np.multiply(x[:, d : d + 1], x[j0:j1, d][None, :], out=t)
            blk += t
        np.divide(blk, norm[:, None] * norm[j0:j1][None, :], out=blk)
        mask = blk >= tau_lo
        mask &= row_idx < np.arange(j0, j1)[None, :]  # keep a < b
        hit = mask.any(axis=0)
        first = mask.argmax(axis=0)  # smallest row index = min vec_id
        js = np.nonzero(hit)[0]
        out_v.append(ids[j0:j1][js])
        out_d.append(ids[first[js]])
    return pd.DataFrame(
        {"vec_id": np.concatenate(out_v), "dup_of": np.concatenate(out_d)}
    )


def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): partition the
    corpus with k-means, then search for semantic near-duplicates ONLY
    within each cluster — the embedding-space analogue of LSH banding,
    and the practical way to semantically dedup a web-scale corpus
    without an all-pairs cosine join.

    Keep rule (greedy keep-lowest, the same convention as the MinHash
    survivor queries): a vector is a duplicate iff some LOWER vec_id in
    its cluster has rounded cosine >= SEMDEDUP_TAU with it; ``dup_of``
    is the smallest such witness, null for keepers.

    Scale design: the cluster assignment reuses the exact fixed-point
    Lloyd rounds of ``kmeans_lloyd_clusters`` (associative long sums →
    any partitioning, both engines agree bit-exactly), so the only new
    work is the WITHIN-CLUSTER pairing — one applyInPandas task per
    cluster folding the Σ|cluster|² (never N²) cosines in native code
    (r15; bit-equivalence argued at the fold below). In production K
    grows with the corpus (SemDeDup uses K ≈ N/10k), holding cluster
    size — and therefore per-task memory — constant as the corpus
    scales; skewed clusters split by re-clustering, not salting,
    because the centroid refinement IS the splitter.
    """
    e, cents = _lloyd_state(spark, sf_dir)
    # Materialize the assignment once: it feeds the witness pass and
    # the final left join, and the argmin is a K×dim expression per
    # row. Routed through ``pin`` (r12) so the reliable-checkpoint
    # knob covers it like the CC/PageRank iterations.
    assigned = (
        _assign_batched(e, "emb", [("vec_id", "long"), ("emb", "array<double>")], cents)
        .select("vec_id", F.col("cid").alias("cluster_id"), "emb")
        .transform(share, "checkpoint")
    )
    # Witness pass vectorized (r15 optimization): the earlier
    # cid-equi self-join evaluated the interpreted-HOF dot on every
    # same-cluster (a < b) pair — Σ|cluster|² lambda folds (~2 s of
    # the query at sf0.1). Each cluster's pairs now fold inside ONE
    # applyInPandas task (the SemDeDup paper's per-cluster matrix
    # form): per dimension d the update ``C += outer(X[:,d], X[:,d])``
    # adds the exact product a_d·b_d to every pair's accumulator in
    # the SAME left-to-right order as ``aggregate(zip_with(...))``
    # (both start at +0.0), norms fold the same way, and
    # cos = dot/(norm_a·norm_b) is the identical IEEE expression — so
    # every pair's cosine double is BIT-IDENTICAL to the join form's.
    # The predicate ``round(cos, 6) >= 0.4`` is exactly equivalent to
    # the double comparison ``cos >= 0.3999995`` (HALF_UP on the
    # shortest-decimal repr: round(D(x), 6) >= 0.4 ⟺ D(x) >= 0.3999995
    # ⟺ x >= double(0.3999995), since the shortest repr of
    # double(0.3999995) is 0.3999995 itself and shortest reprs are
    # strictly monotone over doubles) — no Python-side rounding
    # semantics enter. Scale contract unchanged: SemDeDup grows K with
    # the corpus (K ≈ N/10k) holding cluster size — and so per-task
    # memory (|cluster|×dim for the vectors plus O(1) column-blocked
    # pair buffers, see _witnesses — r16 re-cut of the r15 full
    # |cluster|² materialization) — constant; skewed clusters split by
    # re-clustering, because the centroid refinement IS the splitter.
    tau_lo = 0.3999995  # round(x, 6) >= SEMDEDUP_TAU ⟺ x >= this double
    assert SEMDEDUP_TAU == 0.4  # the threshold the constant encodes

    witnesses = (
        assigned.select("cluster_id", "vec_id", "emb")
        .groupBy("cluster_id")
        .applyInPandas(
            lambda pdf: _witness_pairs_pdf(pdf, tau_lo),
            schema="vec_id long, dup_of long",
        )
    )
    return (
        assigned.select("vec_id", "cluster_id")
        .join(witnesses, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


SEMANTIC_DEDUP_SQL = f"""{_km_cte_prefix()},
v AS (
    SELECT vec_id, cid AS cluster_id, emb,
           sqrt(list_dot_product(emb, emb)) AS norm
    FROM a3
),
w AS (
    SELECT b.vec_id AS vec_id, min(a.vec_id)::BIGINT AS dup_of
    FROM v a JOIN v b
      ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6)
          >= {SEMDEDUP_TAU}
    GROUP BY b.vec_id
)
SELECT v.vec_id, v.cluster_id, w.dup_of, (w.dup_of IS NULL) AS keep
FROM v LEFT JOIN w ON v.vec_id = w.vec_id
"""


SIMSEARCH_SPECS = [
    QuerySpec("embedding_norms", embedding_norms, EMBEDDING_NORMS_SQL, ("ann",)),
    QuerySpec("embedding_knn_bruteforce", embedding_knn_bruteforce, EMBEDDING_KNN_SQL, ("ann-bruteforce",)),
    QuerySpec("embedding_knn_partial_topk", embedding_knn_partial_topk, EMBEDDING_KNN_SQL, ("ann-topk-partial",)),
    QuerySpec("dedup_embedding_cosine", dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL, ("dedup-embedding",)),
    QuerySpec("embedding_lsh_buckets", embedding_lsh_buckets, EMBEDDING_LSH_BUCKETS_SQL, ("ann-lsh",)),
    QuerySpec("simsearch_lsh_bucket_join", simsearch_lsh_bucket_join, SIMSEARCH_LSH_BUCKET_JOIN_SQL, ("ann-lsh-join",)),
    QuerySpec("simsearch_ivf_topk", simsearch_ivf_topk, SIMSEARCH_IVF_SQL, ("ann-ivf",)),
    QuerySpec("simsearch_ivf_recall", simsearch_ivf_recall, SIMSEARCH_IVF_RECALL_SQL, ("ann-recall-metric",)),
    QuerySpec(
        "embedding_dedup_components",
        embedding_dedup_components,
        EMBEDDING_DEDUP_COMPONENTS_SQL,
        ("dedup-embedding-components",),
    ),
    QuerySpec(
        "embedding_quantize_error",
        embedding_quantize_error,
        EMBEDDING_QUANTIZE_ERROR_SQL,
        ("embedding-int8-quantization",),
    ),
    QuerySpec(
        "kmeans_lloyd_clusters",
        kmeans_lloyd_clusters,
        KMEANS_LLOYD_SQL,
        ("kmeans-lloyd-iterative",),
    ),
    QuerySpec(
        "embedding_dim_stats",
        embedding_dim_stats,
        EMBEDDING_DIM_STATS_SQL,
        ("embedding-feature-health",),
    ),
    QuerySpec(
        "semantic_dedup_semdedup",
        semantic_dedup_semdedup,
        SEMANTIC_DEDUP_SQL,
        ("dedup-semantic-semdedup",),
    ),
    QuerySpec(
        "embedding_pq_codebook",
        embedding_pq_codebook,
        EMBEDDING_PQ_CODEBOOK_SQL,
        ("embedding-product-quantization",),
    ),
    QuerySpec(
        "simsearch_ivfpq_topk",
        simsearch_ivfpq_topk,
        SIMSEARCH_IVFPQ_SQL,
        ("ann-ivfpq-adc",),
    ),
    QuerySpec(
        "simsearch_ivfpq_recall",
        simsearch_ivfpq_recall,
        SIMSEARCH_IVFPQ_RECALL_SQL,
        ("ann-ivfpq-recall-monitor",),
    ),
    QuerySpec(
        "simsearch_ivfpq_rerank",
        simsearch_ivfpq_rerank,
        SIMSEARCH_IVFPQ_RERANK_SQL,
        ("ann-ivfpq-exact-rerank",),
    ),
    QuerySpec(
        "embedding_opq_rotation",
        embedding_opq_rotation,
        EMBEDDING_OPQ_ROTATION_SQL,
        ("embedding-opq-rotation",),
    ),
    QuerySpec(
        "embedding_pca_explained_variance",
        embedding_pca_explained_variance,
        EMBEDDING_PCA_EXPLAINED_SQL,
        ("embedding-pca-scree",),
    ),
    QuerySpec(
        "embedding_kcenter_coreset",
        embedding_kcenter_coreset,
        EMBEDDING_KCENTER_SQL,
        ("coreset-kcenter-greedy",),
    ),
    QuerySpec(
        "embedding_covariance",
        embedding_covariance,
        EMBEDDING_COVARIANCE_SQL,
        ("embedding-covariance-whitening",),
    ),
    QuerySpec(
        "embedding_drift_psi",
        embedding_drift_psi,
        EMBEDDING_DRIFT_PSI_SQL,
        ("embedding-drift-monitor",),
    ),
    QuerySpec(
        "embedding_corr_drift",
        embedding_corr_drift,
        _corr_drift_sql(),
        ("embedding-rotation-drift-monitor",),
    ),
]
