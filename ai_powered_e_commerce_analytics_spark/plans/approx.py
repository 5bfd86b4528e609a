"""Approximate-sketch twins of exact aggregates (the 100 TB swap path).

``order_value_percentiles`` (plans/relational_tpch2.py) is an exact
full-sort percentile — correct but per-group-sort-bound at scale. The
production swap is sketch aggregation: Greenwald-Khanna quantile sketches
(``percentile_approx``) and HyperLogLog++ distinct counts
(``approx_count_distinct``) are MERGEABLE partial aggregates — map-side
combine everywhere, one narrow shuffle of sketch bytes, no sort.

Oracle gating: the driver's correctness gate is hash equality, which an
approximate value can never satisfy. These queries therefore emit the
TOLERANCE VERDICT, not the estimate: Spark computes both the sketch
estimate and the exact value and emits ``<metric>_ok`` booleans (plus the
exact anchors, which DO hash-match); the oracle emits the same anchors
with literal ``true``. A hash match thus PROVES the documented error
bound held — tolerance assertions encoded into the hash gate.

Determinism: GK guarantees rank error <= 1/accuracy for ANY partition
merge order, and HLL++ is a deterministic function of the value set, so
the booleans cannot flap between runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens
from ..functions.core import pin
from .spec import QuerySpec, t
from .textops import _TOKS_SQL

PCT_ACCURACY = 10_000        # GK rank error <= 1e-4 of each group
PCT_RANK_SLACK = 0.005       # GK eps + >=1 interpolation step at every SF
HLL_RSD = 0.02               # HLL++ relative standard deviation
HLL_TOLERANCE = 0.05         # 2.5 sigma; deterministic, verified at all SFs


def order_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles with a PROVEN rank-error bound per group.

    For each quantile q the GK estimate must lie between the exact
    percentiles at q ± PCT_RANK_SLACK (the sketch's 1/accuracy rank
    guarantee plus interpolation-step slack; ``percentile``'s fraction
    must be foldable, so the slack is a Python literal sized for the
    smallest per-group n across test SFs). The emitted ``pXX_ok``
    booleans are the bound checks; ``n_orders`` anchors the hash to
    real data.
    """
    orders = t(spark, sf_dir, "orders")

    def bound_ok(q: float):
        lo_q = max(0.0, q - PCT_RANK_SLACK)
        hi_q = min(1.0, q + PCT_RANK_SLACK)
        lo = F.expr(f"percentile(o_totalprice, {lo_q})")
        hi = F.expr(f"percentile(o_totalprice, {hi_q})")
        approx = F.expr(
            f"approx_percentile(o_totalprice, {q}, {PCT_ACCURACY})"
        )
        return (approx >= lo) & (approx <= hi)

    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        bound_ok(0.25).alias("p25_ok"),
        bound_ok(0.50).alias("p50_ok"),
        bound_ok(0.95).alias("p95_ok"),
    )


ORDER_VALUE_PERCENTILES_APPROX_SQL = """
SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
       true AS p25_ok, true AS p50_ok, true AS p95_ok
FROM orders GROUP BY 1
"""


def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct customers per order priority, gated on a 5%%
    relative-error bound (2.5x the configured rsd) against the exact
    count. The exact count anchors the hash; ``hll_ok`` is the verdict.
    """
    orders = t(spark, sf_dir, "orders")
    exact = F.count_distinct(F.col("o_custkey"))
    approx = F.expr(f"approx_count_distinct(o_custkey, {HLL_RSD})")
    return orders.groupBy("o_orderpriority").agg(
        exact.alias("exact_customers"),
        (
            F.abs(approx.cast("double") - exact.cast("double"))
            <= F.lit(HLL_TOLERANCE) * exact.cast("double")
        ).alias("hll_ok"),
    )


APPROX_DISTINCT_CUSTOMERS_SQL = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey)::BIGINT AS exact_customers,
       true AS hll_ok
FROM orders GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters (deterministic, fully oracle-replayable)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4        # hash rows
CMS_WIDTH = 64       # counters per row (small => real collisions to verify)
CMS_SEED0 = 101      # portable_hash64 seeds CMS_SEED0..CMS_SEED0+DEPTH-1
CMS_TOP_K = 10


def cms_bucket_structs(col):
    """array<struct<j,bucket>> of a term's CMS coordinates — shared by
    the batch query and the streaming counter job (same seeds/width, so
    their counters are mergeable by addition)."""
    from ..functions import portable_hash64

    return F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.pmod(
                    portable_hash64(col, seed=CMS_SEED0 + j),
                    F.lit(CMS_WIDTH),
                ).alias("bucket"),
            )
            for j in range(CMS_DEPTH)
        ]
    )


def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter frequencies from a count-min sketch, verified
    against exact counts — the mergeable-sketch path for streaming /
    federated term counting where the vocabulary doesn't fit a groupBy.

    Unlike GK/HLL (engine-internal randomness → verdict-only gating,
    see module docstring), CMS here is built on the portable md5 hash:
    every counter is a deterministic integer sum, so the ORACLE REBUILDS
    THE ENTIRE SKETCH and the estimates themselves hash-match — sketch,
    estimate, and error all inside the exact gate. Emitted per top-K
    term: exact count, CMS estimate, overestimate (≥0 by construction —
    CMS never undercounts), and the Markov bound check
    ``overestimate × width ≤ depth × N`` in pure integer arithmetic.

    Plan: a term-barrier tokenization feeds both the exact counts and
    the bucket rows; the sketch is a (depth × width)-row aggregate —
    256 counters regardless of corpus size, the whole point — and the
    top-K probe joins candidate bucket rows against it. At 100 TB the
    sketch is a map-side-combined agg whose shuffle carries ≤ d·w rows
    per task; the exact-count side exists only to VERIFY and would be
    dropped in production.
    """
    # cached (optimization r16): tok feeds the exact counts AND the
    # sketch bucket rows, exact feeds the total AND the top-K candidates
    # — the term barrier's ReuseExchange never fired in the final
    # adaptive plan (census: 3 executing documents scans), so each
    # reference re-ran the tokenization.
    tok = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(F.explode(tokens("text")).alias("term"))
        .repartition("term")
        .persist()
    )
    bucket_structs = cms_bucket_structs
    exact = (
        tok.groupBy("term").agg(F.count("*").alias("true_count")).persist()
    )
    cms = (
        tok.select(F.explode(bucket_structs(F.col("term"))).alias("b"))
        .select("b.j", "b.bucket")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("c"))
    )
    total = exact.agg(F.sum("true_count").alias("n_total"))
    cand = (
        exact.orderBy(F.desc("true_count"), "term").limit(CMS_TOP_K)
    )
    est = (
        cand.select(
            "term",
            "true_count",
            F.explode(bucket_structs(F.col("term"))).alias("b"),
        )
        .select("term", "true_count", "b.j", "b.bucket")
        .join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("term", "true_count")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "term",
        "true_count",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("true_count")).alias("overestimate"),
        (F.col("cms_estimate") >= F.col("true_count")).alias("never_under"),
        (
            (F.col("cms_estimate") - F.col("true_count")) * CMS_WIDTH
            <= F.lit(CMS_DEPTH) * F.col("n_total")
        ).alias("bound_ok"),
    )


def _cms_bucket_sql(term_expr: str, j: int) -> str:
    from ..functions.core import portable_hash64_sql

    return f"({portable_hash64_sql(term_expr, seed=CMS_SEED0 + j)} % {CMS_WIDTH})"


def _cms_sql() -> str:
    bucket_union = "\nUNION ALL\n".join(
        f"SELECT {j} AS j, {_cms_bucket_sql('term', j)} AS bucket FROM tok"
        for j in range(CMS_DEPTH)
    )
    cand_buckets = "\nUNION ALL\n".join(
        f"SELECT term, true_count, {j} AS j,"
        f" {_cms_bucket_sql('term', j)} AS bucket FROM cand"
        for j in range(CMS_DEPTH)
    )
    return f"""
WITH tok AS (
    SELECT unnest({_TOKS_SQL}) AS term
    FROM documents WHERE doc_id IS NOT NULL
),
exact AS (SELECT term, count(*)::BIGINT AS true_count FROM tok GROUP BY term),
cms AS (
    SELECT j, bucket, count(*)::BIGINT AS c
    FROM ({bucket_union}) GROUP BY j, bucket
),
tot AS (SELECT sum(true_count)::BIGINT AS n_total FROM exact),
cand AS (SELECT * FROM exact ORDER BY true_count DESC, term LIMIT {CMS_TOP_K}),
est AS (
    SELECT cb.term, cb.true_count, min(cms.c)::BIGINT AS cms_estimate
    FROM ({cand_buckets}) cb JOIN cms USING (j, bucket)
    GROUP BY cb.term, cb.true_count
)
SELECT term, true_count, cms_estimate,
       (cms_estimate - true_count)::BIGINT AS overestimate,
       cms_estimate >= true_count AS never_under,
       (cms_estimate - true_count) * {CMS_WIDTH} <= {CMS_DEPTH} * n_total
           AS bound_ok
FROM est CROSS JOIN tot
"""


CMS_HEAVY_HITTERS_SQL = _cms_sql()


# ---------------------------------------------------------------------------
# Sliding distinct counts via mergeable HLL sketch union (Spark 3.5+)
# ---------------------------------------------------------------------------

WAU_WINDOW_DAYS = 7
WAU_TOLERANCE = 0.05   # vs exact; lgConfigK=12 rsd ≈ 1.6%, 3σ margin


def wau_estimate_from_day_sketches(sketches: DataFrame) -> DataFrame:
    """``(day, sk)`` daily HLL sketches -> ``(spine_day, wau_est)``
    trailing-``WAU_WINDOW_DAYS`` union estimates: each day's sketch
    explodes to the <=7 window positions it feeds, then one
    ``hll_union_agg`` per position. Shared by the batch query below and
    the streaming twin (streaming/jobs.wau_sketches_stream) — batch /
    stream estimate parity is asserted in tests, not claimed."""
    horizon = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), WAU_WINDOW_DAYS - 1))
    )
    return (
        sketches.select(horizon.alias("spine_day"), "sk")
        .groupBy("spine_day")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("wau_est"))
    )


def sliding_wau_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day active users from DAILY HLL sketches merged with
    ``hll_union_agg`` — the pattern that makes sliding distinct counts
    feasible at 100 TB: the corpus is touched ONCE to build day-grain
    sketches (a few KB each, mergeable, storable), and every window
    position is a union of 7 sketches instead of a re-scan of 7 days of
    raw events. The exact form (``events_active_users``) re-reads the
    fact table per refresh.

    Plan: one day-grain sketch agg (map-side combined), then the
    bounded band join from the active-users query — each day's sketch
    explodes to the ≤7 window positions it feeds — and a sketch-union
    agg over O(days × 7) sketch rows. Gating follows the module
    contract: the datasketches estimate is deterministic for a value
    set but not oracle-reproducible, so the EXACT WAU anchors the hash
    and ``wau_hll_ok`` proves the 5% bound.
    """
    ev = t(spark, sf_dir, "events")
    from .spec import event_date

    # cached (optimization r16): day_users feeds the day spine, the
    # sketch agg AND the exact-WAU verifier — as bare references each
    # re-ran the events scan (census: 3 executing scans). Narrow
    # (day, user_id) rows.
    day_users = pin(ev.select(
        event_date(ev).alias("day"), "user_id"
    ).where(F.col("user_id").isNotNull()))
    spine = day_users.select("day").distinct()

    horizon = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), WAU_WINDOW_DAYS - 1))
    )
    sketches = day_users.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    est = wau_estimate_from_day_sketches(sketches)
    exact = (
        day_users.select(horizon.alias("spine_day"), "user_id")
        .groupBy("spine_day")
        .agg(F.countDistinct("user_id").alias("exact_wau"))
    )
    return (
        spine.join(est, spine.day == est.spine_day)
        .drop("spine_day")
        .join(exact, spine.day == exact.spine_day)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "exact_wau",
            (
                F.abs(
                    F.col("wau_est").cast("double")
                    - F.col("exact_wau").cast("double")
                )
                <= F.lit(WAU_TOLERANCE) * F.col("exact_wau").cast("double")
            ).alias("wau_hll_ok"),
        )
    )


SLIDING_WAU_HLL_SQL = f"""
WITH du AS (
    SELECT DISTINCT ts::DATE AS day, user_id
    FROM events WHERE user_id IS NOT NULL
),
spine AS (SELECT DISTINCT day FROM du),
contrib AS (
    SELECT day + (i || ' days')::INTERVAL AS spine_day, user_id
    FROM du CROSS JOIN range(0, {WAU_WINDOW_DAYS}) r(i)
),
exact AS (
    SELECT spine_day::DATE AS spine_day,
           count(DISTINCT user_id)::BIGINT AS exact_wau
    FROM contrib GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day, e.exact_wau,
       true AS wau_hll_ok
FROM spine s JOIN exact e ON e.spine_day = s.day
"""


APPROX_SPECS = [
    QuerySpec(
        "order_value_percentiles_approx",
        order_value_percentiles_approx,
        ORDER_VALUE_PERCENTILES_APPROX_SQL,
        ("approx-percentiles-sketch",),
    ),
    QuerySpec(
        "approx_distinct_customers",
        approx_distinct_customers,
        APPROX_DISTINCT_CUSTOMERS_SQL,
        ("approx-distinct-hll",),
    ),
    QuerySpec(
        "cms_heavy_hitters",
        cms_heavy_hitters,
        CMS_HEAVY_HITTERS_SQL,
        ("approx-countmin-heavy-hitters",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "sliding_wau_hll_union",
        sliding_wau_hll_union,
        SLIDING_WAU_HLL_SQL,
        ("approx-hll-sketch-union-sliding",),
        touched_round=16,  # r16: AUDIT row changed
    ),
]
