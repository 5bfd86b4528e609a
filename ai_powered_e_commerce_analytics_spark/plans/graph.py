"""Graph analytics over the co-purchase graph (beyond-reference).

Triangle counting / clustering coefficient is the classic "is this graph
community-shaped?" diagnostic behind recommender quality checks. The
reference has no graph surface at all; this extends the co-purchase
family (``copurchase_pairs`` / ``copurchase_pagerank``,
plans/relational.py) with the third standard graph kernel.

Scale design (the part that matters at 100 TB):

- The edge list is the SUPPORT-THRESHOLDED co-purchase graph — the
  ``HAVING count(*) >= MIN_SUPPORT`` contraction runs inside the same
  single ``l_orderkey`` shuffle that builds the baskets, so the triangle
  phase never sees the raw O(basket²) pair stream (sf0.1: 1.20M raw
  pairs -> 3.6k supported edges).
- Triangle enumeration uses the DEGREE-ORIENTED wedge join (the
  standard distributed-triangle trick, cf. Suri & Vassilvitskii's MR
  algorithm): every edge is directed from its lower-(degree, id)
  endpoint to the higher one, wedges are generated only at each edge's
  SMALLER endpoint, and each wedge probes the oriented edge set once.
  Per-vertex wedge fan-out is bounded by out-degree <= O(sqrt(m))
  regardless of hub size — a raw a<b three-way self-join would
  square the hottest hub's degree through one join key instead. The
  oracle keeps the naive three-way join (same triangle set, fine at
  oracle scale).
- Both joins are key-equi joins on vertex ids (shuffle-partitioned,
  skew-safe after orientation); the per-vertex rollup is one narrow
  partial-agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.core import pin, unordered_pair_rows
from .spec import QuerySpec, t

MIN_SUPPORT = 2   # co-order count floor for a co-purchase edge


def _supported_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected co-purchase edges ``(x, y, c)`` (x < y, co-order count
    c >= MIN_SUPPORT) — one l_orderkey shuffle (basket build + in-basket
    pair expansion, no self-join) then one pair-grain count shuffle.
    Shared by triangle counting (drops ``c``) and item-CF similarity
    (keeps it) — ONE pairing rule for both."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    return (
        unordered_pair_rows(baskets, "parts", "x", "y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= MIN_SUPPORT)
        # pinned (optimization r16): association_rules references the
        # edge list twice (the directional union), which re-ran the
        # whole basket-expansion chain. Eager checkpoint rather than
        # .persist(): the pair-grain result is tiny, and a persist
        # froze the basket pass's pre-AQE 32-partition layout into
        # every consumer stage — the honest in-suite A/B read the
        # persist form ~15% SLOWER than r15's recompute, while the
        # pin materializes the AQE-final coalesced layout once.
        .transform(pin)
    )


def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle count and local clustering coefficient over the
    supported co-purchase graph.

    Orientation: an edge {u, v} is directed u -> v iff
    (deg(u), u) < (deg(v), v) — a total order, so each triangle is
    generated EXACTLY once, at its lowest-ordered vertex (wedge
    (u->v, u->w) with v before w, closed by oriented edge v->w).

    Emits every vertex of the supported graph: ``degree`` (undirected),
    ``n_triangles`` (triangles through the vertex), and
    ``clustering_coeff`` = 2T / (d(d-1)) — an exact-integer ratio
    (spec.py float policy: emit raw). Vertices of degree 1 have
    coefficient 0 by convention.
    """
    edges = (
        _supported_edges(spark, sf_dir)
        .select("x", "y")
        .transform(pin)
    )
    # Undirected degree per vertex (one narrow agg over both endpoints).
    deg = (
        edges.select(F.col("x").alias("v"))
        .unionByName(edges.select(F.col("y").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("degree"))
    )
    # Orient each edge low(deg, id) -> high(deg, id).
    dx = deg.select(F.col("v").alias("x"), F.col("degree").alias("deg_x"))
    dy = deg.select(F.col("v").alias("y"), F.col("degree").alias("deg_y"))
    ed = edges.join(dx, "x").join(dy, "y")
    kx = F.struct(F.col("deg_x").alias("d"), F.col("x").alias("i"))
    ky = F.struct(F.col("deg_y").alias("d"), F.col("y").alias("i"))
    oriented = ed.select(
        F.when(kx < ky, F.col("x")).otherwise(F.col("y")).alias("src"),
        F.when(kx < ky, F.col("y")).otherwise(F.col("x")).alias("dst"),
        F.when(kx < ky, ky).otherwise(kx).alias("dst_key"),
    ).transform(pin)
    # Wedges at the low vertex: (src -> v, src -> w) with v before w in
    # the orientation order; closed iff oriented edge v -> w exists.
    e1 = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        F.col("dst_key").alias("v_key"),
    )
    e2 = oriented.select(
        F.col("src").alias("u"),
        F.col("dst").alias("w"),
        F.col("dst_key").alias("w_key"),
    )
    wedges = e1.join(e2, "u").where(F.col("v_key") < F.col("w_key"))
    closer = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = wedges.join(closer, ["v", "w"]).select("u", "v", "w")
    # Per-vertex triangle membership: each triangle touches 3 vertices.
    member = tri.select(
        F.explode(F.array("u", "v", "w")).alias("part_key")
    ).groupBy("part_key").agg(F.count("*").alias("n_triangles"))
    return (
        deg.select(F.col("v").alias("part_key"), "degree")
        .join(member, "part_key", "left")
        .select(
            "part_key",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.when(
                F.col("degree") >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


COPURCHASE_TRIANGLES_SQL = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS x, b.l_partkey AS y
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
deg AS (
    SELECT v, count(*)::BIGINT AS degree
    FROM (SELECT x AS v FROM e UNION ALL SELECT y AS v FROM e)
    GROUP BY v
),
tri AS (
    SELECT e1.x AS a, e1.y AS b, e2.y AS c
    FROM e e1 JOIN e e2 ON e1.y = e2.x
              JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
),
member AS (
    SELECT part_key, count(*)::BIGINT AS n_triangles
    FROM (
        SELECT a AS part_key FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    GROUP BY part_key
)
SELECT deg.v AS part_key, deg.degree,
       coalesce(member.n_triangles, 0)::BIGINT AS n_triangles,
       CASE WHEN deg.degree >= 2
            THEN 2.0::DOUBLE * coalesce(member.n_triangles, 0)
                 / (deg.degree * (deg.degree - 1))
            ELSE 0.0::DOUBLE END AS clustering_coeff
FROM deg LEFT JOIN member ON deg.v = member.part_key
"""


def copurchase_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity: Jaccard over the
    sets of orders containing each part — ``|both| / (|A| + |B| -
    |both|)`` — for every supported co-purchase pair. The "customers
    who bought X also bought Y" score, exactly the inverted-index
    item-CF shape (co-counts from the basket expansion, never a
    row-level self-join).

    Plan: the pair co-counts reuse the one-basket-shuffle expansion of
    :func:`_supported_edges` (kept with their counts here); per-item
    order-degrees are one distinct+groupBy contraction to item grain;
    the two degree attaches are item-keyed equi-joins (item dimension —
    AQE broadcasts while it fits, shuffles when it doesn't). Jaccard is
    an exact-integer ratio (float policy: emit raw).
    """
    pairs = _supported_edges(spark, sf_dir).select(
        F.col("x").alias("part_a"),
        F.col("y").alias("part_b"),
        F.col("c").alias("n_both"),
    )
    # pinned (optimization r16): item-grain, referenced by BOTH degree
    # attaches — without the pin each attach re-ran the corpus
    # distinct contraction (census: 3 lineitem scans; now 2 — the
    # basket pass and this one). Eager checkpoint, not persist — see
    # _supported_edges' note.
    deg = pin(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_orders"))
    )
    da = deg.select(
        F.col("l_partkey").alias("part_a"), F.col("n_orders").alias("deg_a")
    )
    db = deg.select(
        F.col("l_partkey").alias("part_b"), F.col("n_orders").alias("deg_b")
    )
    return (
        pairs.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_both",
            "deg_a",
            "deg_b",
            (
                F.col("n_both").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


COPURCHASE_ITEM_SIMILARITY_SQL = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*)::BIGINT AS n_both
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
deg AS (SELECT l_partkey, count(*)::BIGINT AS n_orders FROM d GROUP BY 1)
SELECT p.part_a, p.part_b, p.n_both,
       da.n_orders AS deg_a, db.n_orders AS deg_b,
       p.n_both::DOUBLE / (da.n_orders + db.n_orders - p.n_both) AS jaccard
FROM pairs p
JOIN deg da ON da.l_partkey = p.part_a
JOIN deg db ON db.l_partkey = p.part_b
"""


def copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules a -> b over the supported
    co-purchase pairs: support (co-order count), confidence
    ``P(b | a) = n_both / n_orders(a)``, and lift
    ``confidence / P(b)`` — the Apriori-style rule mining output behind
    "frequently bought together" merchandising, emitted for BOTH
    directions of each supported pair.

    Plan: reuses :func:`_supported_edges` (one basket shuffle + one
    pair-count shuffle — the support >= MIN_SUPPORT contraction IS the
    Apriori frequent-pair pruning), mirrors each pair to its two
    directions (cheap row map), and attaches antecedent/consequent
    order-degrees via item-keyed equi-joins. The total order count
    enters as a broadcast 1-row aggregate. Confidence is an
    exact-integer ratio; lift divides two such ratios on identical
    operands (float policy: emit raw).
    """
    edges = _supported_edges(spark, sf_dir)
    rules = edges.select(
        F.col("x").alias("antecedent"),
        F.col("y").alias("consequent"),
        F.col("c").alias("n_both"),
    ).unionByName(
        edges.select(
            F.col("y").alias("antecedent"),
            F.col("x").alias("consequent"),
            F.col("c").alias("n_both"),
        )
    )
    d = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    # the two rule-direction attaches reference deg twice; a pin here
    # measured as a wash locally (the degree pass is one pruned scan +
    # agg — cheaper than a checkpoint job at bench scale) and the
    # duplicate is a narrow column-pruned pass at any scale
    deg = d.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    # total orders straight off the raw scan (optimization r16): the
    # distinct orderkeys of lineitem ARE the distinct orderkeys of d
    # (the pair-distinct only collapses duplicate (order, part) rows),
    # so the total branch reads one pruned column and skips the
    # (order, part) distinct shuffle it used to replay. (Caching d to
    # share it with deg was measured and rejected — a .persist()
    # freezes the pre-AQE 32-partition layout and every downstream
    # stage pays un-coalesced task dispatch; OPTIMIZATION_r16.md,
    # Measured and rejected.)
    total = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .agg(F.count("*").alias("n_total_orders"))
    )
    da = deg.select(
        F.col("l_partkey").alias("antecedent"),
        F.col("n_orders").alias("n_ante"),
    )
    db = deg.select(
        F.col("l_partkey").alias("consequent"),
        F.col("n_orders").alias("n_cons"),
    )
    confidence = F.col("n_both").cast("double") / F.col("n_ante")
    p_cons = F.col("n_cons").cast("double") / F.col("n_total_orders")
    return (
        rules.join(da, "antecedent")
        .join(db, "consequent")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_ante",
            "n_cons",
            confidence.alias("confidence"),
            (confidence / p_cons).alias("lift"),
        )
    )


COPURCHASE_ASSOCIATION_RULES_SQL = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS x, b.l_partkey AS y, count(*)::BIGINT AS c
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
rules AS (
    SELECT x AS antecedent, y AS consequent, c AS n_both FROM e
    UNION ALL
    SELECT y, x, c FROM e
),
deg AS (SELECT l_partkey, count(*)::BIGINT AS n_orders FROM d GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_total_orders FROM d)
SELECT r.antecedent, r.consequent, r.n_both,
       da.n_orders AS n_ante, db.n_orders AS n_cons,
       r.n_both::DOUBLE / da.n_orders AS confidence,
       (r.n_both::DOUBLE / da.n_orders)
           / (db.n_orders::DOUBLE / n_total_orders) AS lift
FROM rules r
JOIN deg da ON da.l_partkey = r.antecedent
JOIN deg db ON db.l_partkey = r.consequent
CROSS JOIN tot
"""


_G2_GRID = 1_000_000   # micro quantization of per-cell G-test terms


def copurchase_rule_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (likelihood-ratio chi-square) significance of each
    supported co-purchase pair — the statistic that separates "bought
    together more than chance" from "both just popular", which raw
    lift/confidence cannot (lift on tiny counts is noise; G² scales
    with evidence). Per undirected pair the 2x2 basket contingency is
    O11 = both, O10/O01 = one-sided, O00 = neither, with independence
    expectations E = row·col/N, and G² = 2·Σ O·ln(O/E) (zero cells
    contribute 0 in the limit). G² is asymptotically χ²(1df): > 3.84
    ~= p < 0.05, > 10.83 ~= p < 0.001 — the thresholds a merchandising
    rule miner gates on.

    Determinism (the surprisal micro-nat discipline on each CELL): all
    counts are exact longs; each cell term ``2·O·ln(O/E)`` is one libm
    ln on identical doubles, quantized to micro units; G² is the exact
    long sum of the 4 cell terms (order-independent), emitted as the
    exact ratio. Lift rides along raw (exact-integer-ratio quotient).

    Plan: the frequent-pair contraction (``_supported_edges`` — the
    Apriori pruning IS the scale gate), two item-keyed degree joins, a
    1-row broadcast total; everything past the basket shuffle is
    pair-grain. No new corpus pass.
    """
    edges = _supported_edges(spark, sf_dir)
    d = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    # deg unpinned — see copurchase_association_rules' note
    deg = d.groupBy("l_partkey").agg(F.count("*").alias("n_orders"))
    # basket total off the raw scan, one pruned column — see
    # copurchase_association_rules' note (identical argument)
    total = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey")
        .distinct()
        .agg(F.count("*").alias("n_baskets"))
    )
    da = deg.select(
        F.col("l_partkey").alias("x"), F.col("n_orders").alias("n_a")
    )
    db = deg.select(
        F.col("l_partkey").alias("y"), F.col("n_orders").alias("n_b")
    )
    base = (
        edges.join(da, "x")
        .join(db, "y")
        .crossJoin(F.broadcast(total))
    )
    return rule_significance_frame(base)


def rule_significance_frame(base: DataFrame) -> DataFrame:
    """The G-test emission over a (x, y, c, n_a, n_b, n_baskets) base —
    the ONE statistic shared by the batch query and the streamed
    co-purchase-counts store's reader
    (``streaming/jobs.read_streamed_rule_significance``), so a
    streaming deployment's significance numbers are the batch numbers."""
    n = F.col("n_baskets").cast("double")
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")

    def cell(o, row, col):
        od = o.cast("double")
        e = row * col / n
        return F.round(
            F.when(
                o > 0, F.lit(2.0) * od * F.log(od / e)
            ).otherwise(F.lit(0.0))
            * _G2_GRID,
            0,
        ).cast("long")

    g2_micro = (
        cell(F.col("c"), na, nb)
        + cell(F.col("n_a") - F.col("c"), na, n - nb)
        + cell(F.col("n_b") - F.col("c"), n - na, nb)
        + cell(
            F.col("n_baskets") - F.col("n_a") - F.col("n_b") + F.col("c"),
            n - na,
            n - nb,
        )
    )
    lift = (F.col("c").cast("double") * n) / (na * nb)
    return base.select(
        F.col("x").alias("part_a"),
        F.col("y").alias("part_b"),
        F.col("c").alias("n_both"),
        "n_a",
        "n_b",
        "n_baskets",
        lift.alias("lift"),
        g2_micro.alias("g2_micro"),
        (g2_micro.cast("double") / F.lit(float(_G2_GRID))).alias("g2"),
    )


def _g2_cell_sql(o: str, row: str, col: str) -> str:
    return (
        f"round((CASE WHEN {o} > 0 THEN 2.0 * ({o})::DOUBLE * "
        f"ln(({o})::DOUBLE / (({row}) * ({col}) / n_baskets::DOUBLE)) "
        f"ELSE 0.0 END) * {_G2_GRID})::BIGINT"
    )


COPURCHASE_RULE_SIGNIFICANCE_SQL = f"""
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
    SELECT a.l_partkey AS x, b.l_partkey AS y, count(*)::BIGINT AS c
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING count(*) >= {MIN_SUPPORT}
),
deg AS (SELECT l_partkey, count(*)::BIGINT AS n_orders FROM d GROUP BY 1),
tot AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_baskets FROM d),
base AS (
    SELECT e.x, e.y, e.c, da.n_orders AS n_a, db.n_orders AS n_b,
           n_baskets
    FROM e
    JOIN deg da ON da.l_partkey = e.x
    JOIN deg db ON db.l_partkey = e.y
    CROSS JOIN tot
),
g AS (
    SELECT *,
        {_g2_cell_sql("c", "n_a::DOUBLE", "n_b::DOUBLE")}
      + {_g2_cell_sql("n_a - c", "n_a::DOUBLE",
                      "n_baskets::DOUBLE - n_b::DOUBLE")}
      + {_g2_cell_sql("n_b - c", "n_baskets::DOUBLE - n_a::DOUBLE",
                      "n_b::DOUBLE")}
      + {_g2_cell_sql("n_baskets - n_a - n_b + c",
                      "n_baskets::DOUBLE - n_a::DOUBLE",
                      "n_baskets::DOUBLE - n_b::DOUBLE")}
        AS g2_micro
    FROM base
)
SELECT x AS part_a, y AS part_b, c AS n_both, n_a, n_b, n_baskets,
       (c::DOUBLE * n_baskets::DOUBLE) / (n_a::DOUBLE * n_b::DOUBLE)
           AS lift,
       g2_micro,
       g2_micro::DOUBLE / {float(_G2_GRID)} AS g2
FROM g
"""


GRAPH_SPECS = [
    QuerySpec(
        "copurchase_rule_significance",
        copurchase_rule_significance,
        COPURCHASE_RULE_SIGNIFICANCE_SQL,
        ("rule-gtest-significance",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "copurchase_triangles",
        copurchase_triangles,
        COPURCHASE_TRIANGLES_SQL,
        ("graph-triangle-count",),
    ),
    QuerySpec(
        "copurchase_item_similarity",
        copurchase_item_similarity,
        COPURCHASE_ITEM_SIMILARITY_SQL,
        ("item-cf-jaccard",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "copurchase_association_rules",
        copurchase_association_rules,
        COPURCHASE_ASSOCIATION_RULES_SQL,
        ("association-rules-confidence-lift",),
        touched_round=16,  # r16: AUDIT row changed
    ),
]
