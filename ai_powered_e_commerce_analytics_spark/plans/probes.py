"""Plan-audit probes for ITERATIVE queries.

The iterative queries (PageRank, connected components, Lloyd k-means
and its SemDeDup consumer) truncate lineage every round with an eager
``localCheckpoint`` — mandatory for execution (the fused CC round
references its input three times, so the logical plan would grow ~4x
per round and OOM the driver just rendering explain past ~8 rounds) —
but it makes the RETURNED frame's executed plan start from
``ScanExistingRDD``: the audit CLI would read them as ``exchanges: 0,
joins: {}``, which is evidence of nothing.

Each probe here builds ONE REPRESENTATIVE ROUND with no checkpoint
barrier, composed from the exact same round-body function the query's
convergence loop executes (``_cc_round`` / ``_pr_round`` /
``_lloyd_update`` — shared code, so the audited shape cannot drift
from the executed shape). ``python -m <pkg> audit`` audits the probe
for these names and marks the row ``"probe": true``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _cc_probe(pairs_fn):
    def probe(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .textops import _cc_edges, _cc_round, _cc_seed

        edges = _cc_edges(pairs_fn(spark, sf_dir))
        return _cc_round(edges, _cc_seed(edges))

    return probe


def _minhash_pairs(spark, sf_dir):
    from .textops import dedup_minhash_lsh

    return dedup_minhash_lsh(spark, sf_dir)


def _cosine_pairs(spark, sf_dir):
    from .simsearch import dedup_embedding_cosine

    return dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )


def _pagerank_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .relational import _pr_round, copurchase_pairs

    pairs = copurchase_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("part_a").alias("src"),
        F.col("part_b").alias("dst"),
        F.col("n_orders").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("src"),
            F.col("part_a").alias("dst"),
            F.col("n_orders").alias("w"),
        )
    )
    ndeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg")).select(
        F.col("src").alias("nsrc"), "wdeg"
    )
    # literal init/teleport: their VALUES need the node count (a driver
    # scalar), but the plan shape is identical for any long literal
    ranks = ndeg.select(
        F.col("nsrc").alias("node"),
        F.lit(1_000_000).cast("long").alias("r"),
        "wdeg",
    )
    return _pr_round(
        edges, ndeg, ranks, F.lit(150_000).cast("long")
    )


def _lloyd_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .simsearch import KMEANS_K, _lloyd_update, t

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    init = sorted(
        (int(r["vec_id"]), list(r["emb"]))
        for r in e.where(F.col("vec_id") < KMEANS_K)
        .select("vec_id", "emb")
        .collect()
    )
    return _lloyd_update(e, init)


def _bpe_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pretrain import _bpe_apply_merge, _bpe_pair_argmax, _bpe_word_state

    # one representative round: literal-merge application (pure map)
    # feeding the shared pair-count + TakeOrdered selection body
    state = _bpe_word_state(spark, sf_dir).select(
        _bpe_apply_merge("e", "r").alias("syms"), "freq"
    )
    return _bpe_pair_argmax(state)


def _pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .simsearch import _pq_init_cents, _pq_sub_frame, _pq_update

    sub = _pq_sub_frame(spark, sf_dir)
    return _pq_update(sub, _pq_init_cents(sub))


def _kcenter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one representative selection round: the full-corpus min-distance
    # scoring scan + TakeOrderedAndProject argmax against the seed (the
    # returned query frame is the driver-built trace, which audits as
    # an empty plan). Scoring rides the same _assign_batched island the
    # round body executes (optimization r15) so the audited shape IS
    # the executed shape.
    from .simsearch import _INERTIA_GRID, _assign_batched, t

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    seed = e.orderBy("vec_id").limit(1).collect()[0]
    return (
        _assign_batched(
            e.where(F.col("vec_id") != int(seed["vec_id"])),
            "emb",
            [("vec_id", "long")],
            [(0, list(seed["emb"]))],
            dist_col="__md_raw",
        )
        .select(
            "vec_id",
            F.round(F.col("__md_raw") * _INERTIA_GRID, 0)
            .cast("long")
            .alias("md"),
        )
        .orderBy(F.desc("md"), "vec_id")
        .limit(1)
    )


def _opq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the rotation's ONLY distributed work is the exact covariance
    # contraction (the Jacobi rounds run driver-side on 64x64 scalars
    # and the returned frame is a driver-built createDataFrame, which
    # audits as an empty plan)
    from .simsearch import embedding_covariance

    return embedding_covariance(spark, sf_dir)


def _bt_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the Bradley-Terry query's ONLY distributed work is the pairwise
    # judgment contraction (the MM rounds run driver-side on the
    # <=|sources|^2 collected rows and the returned frame is a
    # driver-built createDataFrame, which audits as an empty plan)
    from .spec import t

    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    a, b = d.alias("a"), d.alias("b")
    j = (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .where(
            (F.col("a.source") != F.col("b.source"))
            & (F.col("a.n_chars") != F.col("b.n_chars"))
        )
        .select(
            F.when(
                F.col("a.n_chars") > F.col("b.n_chars"), F.col("a.source")
            )
            .otherwise(F.col("b.source"))
            .alias("winner"),
            F.when(
                F.col("a.n_chars") > F.col("b.n_chars"), F.col("b.source")
            )
            .otherwise(F.col("a.source"))
            .alias("loser"),
        )
    )
    return j.groupBy(
        F.least("winner", "loser").alias("s_lo"),
        F.greatest("winner", "loser").alias("s_hi"),
    ).agg(F.count("*").alias("n"))


#: query name -> callable(spark, sf_dir) -> one pre-checkpoint round
PLAN_PROBES = {
    "bpe_merges_topn": _bpe_probe,
    "llm_judge_bradley_terry": _bt_probe,
    "embedding_opq_rotation": _opq_probe,
    "embedding_pca_explained_variance": _opq_probe,
    "embedding_kcenter_coreset": _kcenter_probe,
    "embedding_pq_codebook": _pq_probe,
    "copurchase_pagerank": _pagerank_probe,
    "dedup_components": _cc_probe(_minhash_pairs),
    "dedup_survivors_cc": _cc_probe(_minhash_pairs),
    "embedding_dedup_components": _cc_probe(_cosine_pairs),
    "kmeans_lloyd_clusters": _lloyd_probe,
    "semantic_dedup_semdedup": _lloyd_probe,
}


_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec")


def executing_plan_census(df: DataFrame) -> dict:
    """Census of the physical nodes that actually EXECUTE in ``df``'s
    current plan — not the nodes printed by ``explain`` or
    ``executedPlan().toString()``, which re-print every cached
    relation's build plan at every ``InMemoryTableScan`` reference (and,
    for an adaptive cached build, its initial plan next to its final
    one) and so over-count. Call AFTER an action so the AQE plans are
    final. Walk rules (evidence protocol of OPTIMIZATION_r16.md):

    - ``AdaptiveSparkPlan`` descends into its current plan, query-stage
      wrappers into their materialized plans;
    - a ``QueryStageExec`` revisited (same materialized plan, by
      ``SparkPlan.id``) is AQE stage reuse and is walked once; every
      other node counts at each position it occupies;
    - ``ReusedExchange`` stops (the subtree runs once at its original
      site);
    - ``InMemoryTableScan`` stops, but the cached relation's build plan
      is walked ONCE per distinct ``cachedPlan().id()`` (cache blocks
      materialize once per run regardless of reference count).

    Returns ``{"nodes": {simple class name: n}, "executing_scans": n,
    "cached_relations": n, "scan_sources": {file: n}}``. Wrapper nodes
    (adaptive plan, query stages, reused exchanges, in-memory scans)
    are followed, not counted.
    """
    seen_stages: set[int] = set()
    seen_caches: set[int] = set()
    nodes: dict[str, int] = {}
    sources: dict[str, int] = {}

    def walk(p):
        name = p.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            # QueryStageExec.id is the stage number, which restarts in
            # every adaptive plan; key on its materialized plan instead
            stage = p.plan()
            if stage.id() not in seen_stages:
                seen_stages.add(stage.id())
                walk(stage)
            return
        if name == "ReusedExchangeExec":
            return
        if name == "InMemoryTableScanExec":
            build = p.relation().cachedPlan()
            if build.id() not in seen_caches:
                seen_caches.add(build.id())
                walk(build)
            return
        nodes[name] = nodes.get(name, 0) + 1
        if name in _SCAN_NODES:
            try:
                loc = p.metadata().get("Location").get()
                src = loc.rsplit("/", 1)[-1].rstrip("]")
            except Exception:  # noqa: BLE001 - diagnostic label only
                src = "?"
            sources[src] = sources.get(src, 0) + 1
        seq = p.children()
        for i in range(seq.size()):
            walk(seq.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return {
        "nodes": nodes,
        "executing_scans": sum(nodes.get(n, 0) for n in _SCAN_NODES),
        "cached_relations": len(seen_caches),
        "scan_sources": sources,
    }
