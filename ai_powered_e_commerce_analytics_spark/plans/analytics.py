"""Analytics battery: window-function, set-op, pivot and stats shapes.

Fills the remaining general-engine surface the other batteries don't
touch (the reference itself has none of these — SURVEY.md §2.6-2.8 — so
like the TPC-H batteries these are engine-capability queries, each
oracle-gated):

- lag/lead offsets            (`order_gaps_lag_lead`)
- ntile / percent_rank / dense_rank / cume_dist  (`customer_rank_battery`)
- RANGE-frame moving window   (`rolling_weekly_revenue`)
- INTERSECT / EXCEPT          (`customers_both_years`, `customers_1996_only`)
- true pivot (groupBy().pivot())  (`order_priority_pivot_table`)
- statistical aggs from exact sums  (`lineitem_price_stats`)

Float policy notes (plans/spec.py):
- percent_rank / cume_dist are single divisions of exact integers —
  identical operands → identical doubles in both engines.
- variance / correlation are NOT computed with the engines' built-in
  stddev/corr (different accumulation orders ⇒ different last ulps);
  instead both sides evaluate the same closed-form expression over
  exact long sums (n, Σx, Σx², Σxy in cents) — deterministic IEEE on
  identical operands. Σx² of cents fits a long through sf0.1 ×100
  (~6e17 < 2^63); the long→double conversion is round-to-nearest in
  both engines.

Scale notes (100 TB):
- Every window here partitions by a real key (customer / segment /
  priority) — no global single-partition window anywhere.
- INTERSECT/EXCEPT plan as shuffled semi/anti joins on the key —
  same cost as any equi-join, salting applies if a key were hot.
- The pivot has an explicit value list (5 priorities) so Spark skips
  the extra distinct-values job and the output schema is static.
- lineitem_price_stats is one map-side-combinable agg pass; the
  closed-form stats avoid a second pass over the data (vs. the
  textbook two-pass mean-then-deviation form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import pin
from .quantiles import exact_percentiles_scalable
from .spec import QuerySpec, cents, cents_sql, t


# ---------------------------------------------------------------------------
# lag / lead — days between a customer's consecutive orders
# ---------------------------------------------------------------------------


def order_gaps_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One shuffle on o_custkey; lag and lead share the same window sort.
    # datediff on date-truncated timestamps is exact integer days.
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    orders = t(spark, sf_dir, "orders")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("days_since_prev"),
        F.datediff(
            F.lead("o_orderdate").over(w), F.col("o_orderdate")
        ).alias("days_until_next"),
    )


ORDER_GAPS_SQL = """
SELECT o_custkey, o_orderkey,
       date_diff('day',
                 lag(o_orderdate) OVER w, o_orderdate)::INT
           AS days_since_prev,
       date_diff('day',
                 o_orderdate, lead(o_orderdate) OVER w)::INT
           AS days_until_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# rank battery — ntile / percent_rank / dense_rank / cume_dist
# ---------------------------------------------------------------------------


def customer_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All four rank flavors over ONE window (single sort per segment).
    # The (c_acctbal, c_custkey) order is total → ntile assignment is
    # deterministic. percent_rank/cume_dist divide exact integers.
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    return t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("balance_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.dense_rank().over(w).alias("drank"),
        F.cume_dist().over(w).alias("cdist"),
    )


CUSTOMER_RANK_SQL = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       ntile(4)       OVER w AS balance_quartile,
       percent_rank() OVER w AS pct_rank,
       dense_rank()   OVER w AS drank,
       cume_dist()    OVER w AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
"""


# ---------------------------------------------------------------------------
# RANGE frame — trailing-7-day revenue per order priority
# ---------------------------------------------------------------------------


def rolling_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RANGE frames need a numeric sort key: days since a fixed epoch
    # (integer datediff — no timezone, no float). The frame [now-6d, now]
    # is value-based, so simultaneous orders all see the same total —
    # semantics a ROWS frame can't express. One shuffle on the priority.
    orders = t(spark, sf_dir, "orders").withColumn(
        "day_no",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("day_no")
        .rangeBetween(-6, 0)
    )
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        "day_no",
        (F.sum(cents("o_totalprice")).over(w).cast("double") / 100.0).alias(
            "trailing_7d_value"
        ),
    )


ROLLING_WEEKLY_SQL = f"""
SELECT o_orderpriority, o_orderkey, day_no,
       sum({cents_sql('o_totalprice')}) OVER (
           PARTITION BY o_orderpriority ORDER BY day_no
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
       )::DOUBLE / 100.0 AS trailing_7d_value
FROM (
    SELECT *, date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)::INT
                  AS day_no
    FROM orders
)
"""


# ---------------------------------------------------------------------------
# INTERSECT / EXCEPT — set semantics (dedupe built in)
# ---------------------------------------------------------------------------


def customers_both_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    # INTERSECT = distinct + semi-join; Spark plans one shuffle per side
    # on the full row (here a single key column).
    orders = t(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = orders.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.intersect(y97)


CUSTOMERS_BOTH_YEARS_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


def customers_1996_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXCEPT = distinct + anti-join.
    orders = t(spark, sf_dir, "orders")
    y96 = orders.where(F.year("o_orderdate") == 1996).select("o_custkey")
    y97 = orders.where(F.year("o_orderdate") == 1997).select("o_custkey")
    return y96.subtract(y97)


CUSTOMERS_1996_ONLY_SQL = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


# ---------------------------------------------------------------------------
# true pivot — order counts + value by status × priority
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def order_priority_pivot_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # groupBy().pivot() with an EXPLICIT value list: no distinct-values
    # pre-job, static schema, and the whole pivot compiles to one
    # CASE-sum aggregate (same plan shape as q12 but API-level pivot).
    piv = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_notspec",
        "5-LOW": "n_low",
    }
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    return piv.na.fill(0, list(renames.values()))


ORDER_PRIORITY_PIVOT_SQL = """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT')::BIGINT
           AS n_urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')::BIGINT AS n_high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')::BIGINT
           AS n_medium,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')::BIGINT
           AS n_notspec,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW')::BIGINT AS n_low
FROM orders GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# statistical aggregates from exact long sums (one pass, closed form)
# ---------------------------------------------------------------------------


def lineitem_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # n, Σx, Σx², Σy, Σy², Σxy in exact integer units (price in cents,
    # quantity in units) — one map-side-combinable pass. Variance and
    # correlation come from the closed form evaluated in double on
    # those exact sums; the SQL mirror is the IDENTICAL expression, so
    # both engines run the same IEEE ops in the same order (built-in
    # stddev/corr would differ in accumulation order between engines).
    # The squared-term sums accumulate as DECIMAL(38,0): each product
    # fits a long, but Σx² is ~1e14 per row — a long accumulator wraps
    # past ~100k rows (sf0.1+) while DuckDB auto-promotes sums to
    # HUGEINT. Decimal keeps Spark exact to match; the closed form then
    # casts the identical exact integer to double in both engines.
    li = t(spark, sf_dir, "lineitem")
    x = cents("l_extendedprice")
    y = F.round("l_quantity").cast("long")
    big = "decimal(38,0)"
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast(big)).alias("sx"),
        F.sum((x * x).cast(big)).alias("sxx"),
        F.sum(y.cast(big)).alias("sy"),
        F.sum((y * y).cast(big)).alias("syy"),
        F.sum((x * y).cast(big)).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    var_price_c2 = (sxx - sx * sx / n) / (n - F.lit(1.0))
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return agg.select(
        "l_returnflag",
        F.col("n").alias("n_lines"),
        (sx / n / F.lit(100.0)).alias("avg_price"),
        (var_price_c2 / F.lit(1e4)).alias("var_price"),
        corr.alias("price_qty_corr"),
    )


LINEITEM_PRICE_STATS_SQL = f"""
WITH s AS (
    SELECT l_returnflag,
           count(*)::BIGINT AS n,
           sum({cents_sql('l_extendedprice')}) AS sx,
           sum({cents_sql('l_extendedprice')}
               * {cents_sql('l_extendedprice')}) AS sxx,
           sum(round(l_quantity)::BIGINT) AS sy,
           sum(round(l_quantity)::BIGINT * round(l_quantity)::BIGINT) AS syy,
           sum({cents_sql('l_extendedprice')} * round(l_quantity)::BIGINT)
               AS sxy
    FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n AS n_lines,
       sx::DOUBLE / n::DOUBLE / 100.0 AS avg_price,
       ((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
        / (n::DOUBLE - 1.0)) / 1e4 AS var_price,
       (n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
         / sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE))
           AS price_qty_corr
FROM s
"""


# 1.5σ: the synthetic totalprice distribution is a bounded sum of
# uniforms (max |z| ≈ 1.8 at sf0.01), so a 2σ gate would select nothing.
Z_THRESHOLD = 1.5


def order_value_outliers_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group anomaly flagging: orders whose total price is more than
    ``Z_THRESHOLD`` standard deviations from their priority group's mean
    — the grouped z-score outlier report a monitoring pipeline runs over
    any numeric fact column.

    Plan: one map-side-combinable stats pass per group (n, Σx, Σx² in
    exact integer cents; Σx² accumulates as DECIMAL(38,0) — the long
    accumulator would wrap at scale while DuckDB auto-promotes), then
    the group-cardinality stats table broadcasts back onto the fact scan
    — the facts are never shuffled. Mean/std/z evaluate the identical
    IEEE double chain in both engines on identical exact integers (+,-,
    ×,÷,√ are all correctly-rounded ops), so the z-score is bit-stable
    cross-engine and the hash gate proves the values.
    """
    orders = t(spark, sf_dir, "orders")
    x = cents("o_totalprice")
    per = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(38,0)")).alias("sx"),
        F.sum((x * x).cast("decimal(38,0)")).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    stats = per.select(
        "o_orderpriority",
        (sx / n).alias("mean_c"),
        F.sqrt((sxx - sx * sx / n) / (n - 1.0)).alias("std_c"),
    )
    z = (x.cast("double") - F.col("mean_c")) / F.col("std_c")
    return (
        orders.join(F.broadcast(stats), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.round(z, 6).alias("zscore"),
        )
        .where(F.abs(F.col("zscore")) > Z_THRESHOLD)
    )


ORDER_VALUE_OUTLIERS_SQL = f"""
WITH s AS (
    SELECT o_orderpriority,
           count(*)::DOUBLE AS n,
           sum({cents_sql('o_totalprice')})::DOUBLE AS sx,
           sum({cents_sql('o_totalprice')} * {cents_sql('o_totalprice')})::DOUBLE
               AS sxx
    FROM orders GROUP BY 1
),
st AS (
    SELECT o_orderpriority, sx / n AS mean_c,
           sqrt((sxx - sx * sx / n) / (n - 1.0)) AS std_c
    FROM s
)
SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
       round(({cents_sql('o_totalprice')}::DOUBLE - st.mean_c) / st.std_c, 6)
           AS zscore
FROM orders o JOIN st USING (o_orderpriority)
WHERE abs(round(({cents_sql('o_totalprice')}::DOUBLE - st.mean_c) / st.std_c, 6))
      > {Z_THRESHOLD}
"""


#: Iglewicz-Hosmer modified-z cutoff (|0.6745 * (x - median) / MAD|).
MAD_Z_THRESHOLD = 3.5
#: Iglewicz-Hosmer's published MAD=0 fallback divisor: modified z =
#: (x - median) / (1.253314 * MeanAD), MeanAD = mean |x - median|.
MAD_MEANAD_B = 1.253314


def order_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier report per order priority: median, MAD (median
    absolute deviation), and the count/share of orders whose
    modified z-score ``0.6745 * (x - median) / MAD`` exceeds 3.5 —
    the Iglewicz-Hosmer robust twin of
    :func:`order_value_outliers_zscore`. Mean/std flagging breaks down
    exactly when it matters (the contamination inflates the std it is
    measured against); median and MAD have a 50% breakdown point.

    Plan — two composed :func:`exact_percentiles_scalable` passes over
    ONE corpus scan (plans/quantiles.py; the 100 TB-safe order
    statistics, never the full-value-map ``percentile`` aggregate):
    the (priority, price) distinct-value contraction is checkpointed
    once and feeds (1) the per-group median, (2) the deviation
    contraction ``|price - median|`` — contraction-sized, NOT a second
    fact scan — whose median is the MAD, and (3) the final fold, which
    runs over the DEVIATION contraction itself (optimization r16: the
    outlier test only ever uses |price - median|, which IS ``dev_c``,
    and the median rides the contraction as a per-group constant — so
    the old third pass over the price contraction plus its ``med``
    broadcast join folded away). MeanAD comes out of the MAD helper
    call's own subtotal fold (``mean_col``), deleting the separate
    MeanAD aggregation job, and ``med``/``mad`` are each consumed by
    exactly one downstream action, so neither needs its own
    checkpoint job anymore. The facts are scanned once and never
    re-shuffled; job count fell 28 → ~19 for the identical values.

    Determinism: prices are exact integer cents; the medians
    interpolate at frac 0/0.5 (exact in double), so deviations and the
    modified z evaluate the identical IEEE chain in both engines —
    the raw-z threshold comparison is bit-stable cross-engine. The
    final fold's ``0.6745·dev_c/mad_c > 3.5`` equals the oracle's
    ``abs(0.6745·(price-med)/mad) > 3.5`` bit-for-bit because IEEE
    multiplication and division carry the sign bit separately from the
    magnitude: |a·b/c| = |a|·|b|/c for c > 0, and |price - med| is
    ``dev_c`` by construction.
    """
    x = cents("o_totalprice")
    dv = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", x.alias("price_c"))
        .agg(F.count("*").alias("cnt"))
        .transform(pin)
    )
    med = exact_percentiles_scalable(
        dv, "price_c", (0.5,), ("med_c",), ("o_orderpriority",),
        counts_col="cnt",
    )
    devs = (
        dv.join(F.broadcast(med), "o_orderpriority")
        .select(
            "o_orderpriority",
            "med_c",
            F.abs(F.col("price_c").cast("double") - F.col("med_c")).alias(
                "dev_c"
            ),
            "cnt",
        )
        # re-contract: median±d collide on the same deviation value,
        # and the helper's counts_col contract is one row per
        # (group, value); med_c is a per-group constant, so max() just
        # carries it through to the final fold
        .groupBy("o_orderpriority", "dev_c")
        .agg(F.sum("cnt").alias("cnt"), F.max("med_c").alias("med_c"))
        .transform(pin)  # feeds the MAD fold AND the final fold
    )
    # Degenerate-group fallback (code review r9, Iglewicz-Hosmer's
    # published prescription): when >=50% of a group shares one exact
    # price, MAD = 0 and the MAD-scaled z is undefined — but
    # flag-nothing there would mask exactly the grossly-contaminated
    # groups this report exists for. The fallback scale is the MEAN
    # absolute deviation (modified z = (x - med) / (1.253314*MeanAD)),
    # delivered by the helper's mean_col output (the quantiles.py
    # mean_col exactness contract holds here: every |x - med| is a
    # multiple of 0.5 cents — the median interpolates at frac 0/0.5 on
    # integer cents — and the weighted sums stay far below 2^53, so
    # double addition is EXACT in any fold order in both engines). A
    # group with MeanAD = 0 too is constant — genuinely nothing to
    # flag.
    mad = exact_percentiles_scalable(
        devs, "dev_c", (0.5,), ("mad_c",), ("o_orderpriority",),
        counts_col="cnt", mean_col="meanad_c",
    )
    zmag = F.lit(0.6745) * F.col("dev_c") / F.col("mad_c")
    zmag_fb = F.col("dev_c") / (F.lit(MAD_MEANAD_B) * F.col("meanad_c"))
    is_outlier = F.when(
        F.col("mad_c") > 0, zmag > MAD_Z_THRESHOLD
    ).when(
        F.col("meanad_c") > 0, zmag_fb > MAD_Z_THRESHOLD
    ).otherwise(F.lit(False))
    return (
        devs.join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.round(F.max("med_c") / 100.0, 6).alias("median_value"),
            F.round(F.max("mad_c") / 100.0, 6).alias("mad_value"),
            F.sum(
                F.when(is_outlier, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .withColumn(
            "outlier_rate",
            F.col("n_outliers").cast("double") / F.col("n_orders"),
        )
    )


ORDER_VALUE_MAD_OUTLIERS_SQL = f"""
WITH o AS (
    SELECT o_orderpriority, {cents_sql('o_totalprice')} AS price_c
    FROM orders
),
med AS (
    SELECT o_orderpriority, quantile_cont(price_c, 0.5) AS med_c
    FROM o GROUP BY 1
),
mad AS (
    SELECT o.o_orderpriority,
           quantile_cont(abs(o.price_c::DOUBLE - m.med_c), 0.5) AS mad_c,
           sum(abs(o.price_c::DOUBLE - m.med_c)) / count(*) AS meanad_c
    FROM o JOIN med m USING (o_orderpriority) GROUP BY 1
),
flagged AS (
    SELECT o.o_orderpriority, o.price_c, m.med_c, d.mad_c,
           CASE
               WHEN d.mad_c > 0 THEN
                   abs(0.6745 * (o.price_c::DOUBLE - m.med_c) / d.mad_c)
                       > {MAD_Z_THRESHOLD}
               WHEN d.meanad_c > 0 THEN
                   abs((o.price_c::DOUBLE - m.med_c)
                       / ({MAD_MEANAD_B} * d.meanad_c)) > {MAD_Z_THRESHOLD}
               ELSE FALSE
           END AS is_outlier
    FROM o
    JOIN med m USING (o_orderpriority)
    JOIN mad d USING (o_orderpriority)
)
SELECT o_orderpriority,
       count(*)::BIGINT AS n_orders,
       round(any_value(med_c) / 100.0, 6) AS median_value,
       round(any_value(mad_c) / 100.0, 6) AS mad_value,
       sum(is_outlier::INT)::BIGINT AS n_outliers,
       sum(is_outlier::INT)::DOUBLE / count(*) AS outlier_rate
FROM flagged
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------

# Shared CASE expressions (ANSI text evaluated by BOTH engines): quartile
# scores 1-4 per axis — recency inverted (recent = good) — and the named
# segment off the (r, f) grid.
_RFM_SCORES = [
    "CASE WHEN recency_days <= r25 THEN 4 WHEN recency_days <= r50 THEN 3"
    " WHEN recency_days <= r75 THEN 2 ELSE 1 END AS r_score",
    "CASE WHEN frequency <= f25 THEN 1 WHEN frequency <= f50 THEN 2"
    " WHEN frequency <= f75 THEN 3 ELSE 4 END AS f_score",
    "CASE WHEN monetary_cents <= m25 THEN 1 WHEN monetary_cents <= m50 THEN 2"
    " WHEN monetary_cents <= m75 THEN 3 ELSE 4 END AS m_score",
]
_RFM_SEGMENT = (
    "CASE WHEN r_score = 4 AND f_score = 4 THEN 'champion'"
    " WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'"
    " WHEN r_score >= 3 THEN 'promising'"
    " WHEN f_score >= 3 THEN 'at_risk'"
    " ELSE 'hibernating' END AS segment"
)


def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary, scored
    1-4 against the EXACT quartiles of the customer population, plus the
    named (r, f)-grid segment — the canonical CRM rollup.

    Plan (100 TB): ONE o_custkey shuffle for the per-customer fold, then
    everything downstream is customer-grain or smaller: the reference
    date and the 9 quartile thresholds are 1-row aggregates cross-joined
    back as broadcasts (no global window anywhere — the naive form ranks
    customers with ntile() OVER (), a single-partition sort). The 9
    quartile thresholds come from ONE :func:`exact_percentiles_scalable`
    pass (plans/quantiles.py) over the three metrics unpivoted to
    (metric, value) rows — distributed order statistics with bounded
    memory, no full-value-map ``percentile`` buffer even when the
    customer dimension outgrows an aggregation buffer, same
    interpolated values bit-for-bit. Money stays in integer cents
    through every sum (spec.py float policy); quartile thresholds are
    interpolated doubles, round(…,6) per policy, proven cross-engine by
    order_value_percentiles.
    """
    orders = t(spark, sf_dir, "orders")
    # localCheckpoint: per_cust feeds THREE consumers (reference date,
    # quartile thresholds, and the scored emission). Without the
    # barrier each consumer replans the orders scan + o_custkey
    # exchange (observed 4x in the physical plan — column pruning
    # specializes the subtrees, so ReuseExchange can't fire).
    # Materializing the CUSTOMER-grain fold once (~1% of the fact
    # table) keeps the 100 TB orders scan single-pass.
    per_cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            F.sum(cents("o_totalprice")).alias("monetary_cents"),
        )
        .transform(pin)
    )
    ref = per_cust.agg(F.max("last_order").alias("__ref"))
    rfm = per_cust.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff("__ref", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    stacked = rfm.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("__metric"), F.col(c).alias("__v")
                    )
                    for m, c in (
                        ("r", "recency_days"),
                        ("f", "frequency"),
                        ("m", "monetary_cents"),
                    )
                ]
            )
        ).alias("s")
    ).select("s.__metric", "s.__v")
    per_metric = exact_percentiles_scalable(
        stacked, "__v", (0.25, 0.50, 0.75), ("p25", "p50", "p75"),
        ("__metric",),
    )
    thresholds = per_metric.groupBy().agg(
        *[
            F.round(
                F.max(F.when(F.col("__metric") == m, F.col(f"p{p}"))), 6
            ).alias(f"{m}{p}")
            for m in ("r", "f", "m")
            for p in (25, 50, 75)
        ]
    )
    return (
        rfm.crossJoin(F.broadcast(thresholds))
        .selectExpr(
            "o_custkey",
            "recency_days",
            "frequency",
            # CAST: Spark parses the bare literal 100.0 as DECIMAL(4,1),
            # which would type the ratio DECIMAL, not DOUBLE like DuckDB.
            "monetary_cents / CAST(100 AS DOUBLE) AS monetary",
            *_RFM_SCORES,
        )
        .selectExpr("*", _RFM_SEGMENT)
    )


_RFM_PCT_SQL = ", ".join(
    f"round(quantile_cont({col}, {p}), 6) AS {a}{int(p * 100)}"
    for col, a in (
        ("recency_days", "r"), ("frequency", "f"), ("monetary_cents", "m")
    )
    for p in (0.25, 0.50, 0.75)
)

RFM_CUSTOMER_SEGMENTS_SQL = f"""
WITH per_cust AS (
    SELECT o_custkey, max(o_orderdate) AS last_order,
           count(*)::BIGINT AS frequency,
           sum({cents_sql('o_totalprice')})::BIGINT AS monetary_cents
    FROM orders GROUP BY 1
),
ref AS (SELECT max(last_order) AS ref_d FROM per_cust),
rfm AS (
    SELECT o_custkey,
           date_diff('day', last_order::DATE, ref_d::DATE)::BIGINT
               AS recency_days,
           frequency, monetary_cents
    FROM per_cust CROSS JOIN ref
),
th AS (SELECT {_RFM_PCT_SQL} FROM rfm),
scored AS (
    SELECT o_custkey, recency_days, frequency,
           monetary_cents / 100.0 AS monetary,
           {", ".join(_RFM_SCORES)}
    FROM rfm CROSS JOIN th
)
SELECT s.*, {_RFM_SEGMENT} FROM scored s
"""


def monthly_revenue_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain revenue with month-over-month growth and a trailing
    3-month average — the seasonality strip every revenue dashboard
    leads with.

    Plan: one (month) groupBy contracts the fact table to ~tens of
    rows; the lag/trailing windows then run over that MONTH-GRAIN frame
    in a single partition — deliberate and safe, because the windowed
    input is dimension-sized (months), never the corpus (contrast with
    the per-source selections, where the window input was the corpus
    and had to become a contraction). Money stays in integer cents:
    MoM and the trailing mean are exact-integer ratios → raw doubles.
    """
    monthly = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("month")
        )
        .agg(F.sum(cents("o_totalprice")).alias("rev_cents"))
    )
    w = Window.partitionBy(F.lit(1)).orderBy("month")
    frame3 = w.rowsBetween(-2, 0)
    prev = F.lag("rev_cents").over(w)
    return monthly.select(
        "month",
        (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
        (
            (F.col("rev_cents") - prev).cast("double") / prev
        ).alias("mom_growth"),
        (
            F.sum("rev_cents").over(frame3).cast("double")
            / F.count("rev_cents").over(frame3)
            / 100.0
        ).alias("trailing3_avg"),
    )


MONTHLY_REVENUE_MOM_SQL = f"""
WITH monthly AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           sum({cents_sql('o_totalprice')})::BIGINT AS rev_cents
    FROM orders GROUP BY 1
)
SELECT month,
       rev_cents::DOUBLE / 100.0 AS revenue,
       (rev_cents - lag(rev_cents) OVER w)::DOUBLE
           / lag(rev_cents) OVER w AS mom_growth,
       sum(rev_cents) OVER w3::DOUBLE / count(rev_cents) OVER w3 / 100.0
           AS trailing3_avg
FROM monthly
WINDOW w AS (ORDER BY month),
       w3 AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


def customer_segment_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history of each customer's
    yearly spend tier: consecutive years in the same quartile tier
    collapse into one versioned interval (valid_from / valid_to /
    is_current) — the dimension-table build step of a warehouse ETL.

    Tiering: per-year spend quartiles via
    :func:`exact_percentiles_scalable` (plans/quantiles.py: distributed
    order statistics grouped by year — bounded memory at ANY
    customers-per-year cardinality, no full-value-map ``percentile``
    buffer, bit-identical interpolated cutoffs; year count is tiny, so
    the threshold table broadcasts). Interval collapse is the classic
    gaps-and-
    islands shape: change flag via lag, run id via running sum, one
    groupBy per run — all over a single o_custkey-keyed sort order, so
    ONE shuffle carries the windows and the run fold. Everything
    emitted is exact integers/booleans; tier comparisons run against
    interpolated thresholds that are bit-identical cross-engine
    (order_value_percentiles parity).
    """
    # eager localCheckpoint: the customer-year fold feeds both the
    # cutoff computation and the tiering join — one orders scan.
    yearly = (
        t(spark, sf_dir, "orders")
        .groupBy(
            "o_custkey", F.year("o_orderdate").cast("int").alias("yr")
        )
        .agg(F.sum(cents("o_totalprice")).alias("spend_cents"))
        .transform(pin)
    )
    th = exact_percentiles_scalable(
        yearly, "spend_cents", (0.25, 0.50, 0.75), ("q25", "q50", "q75"),
        ("yr",),
    ).select(
        "yr", *[F.round(F.col(a), 6).alias(a) for a in ("q25", "q50", "q75")]
    )
    tiered = yearly.join(F.broadcast(th), "yr").select(
        "o_custkey",
        "yr",
        (
            F.lit(1)
            + (F.col("spend_cents") >= F.col("q25")).cast("int")
            + (F.col("spend_cents") >= F.col("q50")).cast("int")
            + (F.col("spend_cents") >= F.col("q75")).cast("int")
        ).alias("tier"),
    )
    w = Window.partitionBy("o_custkey").orderBy("yr")
    runs = tiered.withColumn(
        "chg",
        F.when(
            F.lag("tier").over(w).isNull()
            | (F.lag("tier").over(w) != F.col("tier")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    intervals = runs.groupBy("o_custkey", "run_id").agg(
        F.min("tier").alias("tier"),
        F.min("yr").alias("valid_from"),
        F.max("yr").alias("valid_to"),
        F.count("*").alias("n_years"),
    )
    wc = Window.partitionBy("o_custkey")
    return intervals.select(
        "o_custkey",
        "tier",
        "valid_from",
        "valid_to",
        "n_years",
        (F.col("valid_to") == F.max("valid_to").over(wc)).alias(
            "is_current"
        ),
    )


CUSTOMER_SEGMENT_SCD2_SQL = f"""
WITH yearly AS (
    SELECT o_custkey, date_part('year', o_orderdate)::INT AS yr,
           sum({cents_sql('o_totalprice')})::BIGINT AS spend_cents
    FROM orders GROUP BY 1, 2
),
th AS (
    SELECT yr,
           round(quantile_cont(spend_cents, 0.25), 6) AS q25,
           round(quantile_cont(spend_cents, 0.50), 6) AS q50,
           round(quantile_cont(spend_cents, 0.75), 6) AS q75
    FROM yearly GROUP BY yr
),
tiered AS (
    SELECT y.o_custkey, y.yr,
           (1 + (y.spend_cents >= t.q25)::INT
              + (y.spend_cents >= t.q50)::INT
              + (y.spend_cents >= t.q75)::INT) AS tier
    FROM yearly y JOIN th t USING (yr)
),
flags AS (
    SELECT *,
           CASE WHEN lag(tier) OVER w IS NULL
                  OR lag(tier) OVER w <> tier THEN 1 ELSE 0 END AS chg
    FROM tiered
    WINDOW w AS (PARTITION BY o_custkey ORDER BY yr)
),
runs AS (
    SELECT *,
           sum(chg) OVER (PARTITION BY o_custkey ORDER BY yr
                          ROWS UNBOUNDED PRECEDING)::BIGINT AS run_id
    FROM flags
),
intervals AS (
    SELECT o_custkey, run_id, min(tier) AS tier,
           min(yr) AS valid_from, max(yr) AS valid_to,
           count(*)::BIGINT AS n_years
    FROM runs GROUP BY o_custkey, run_id
)
SELECT o_custkey, tier, valid_from, valid_to, n_years,
       valid_to = max(valid_to) OVER (PARTITION BY o_custkey) AS is_current
FROM intervals
"""


# (fact table, fact key, dim table, dim key) — the schema's FK graph
_RI_EDGES = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-style relationship test over the schema's whole FK graph:
    for every fact→dimension edge, the fact row count, null-key count,
    orphan count (keys with no dimension match), and the pass verdict —
    the data-quality gate a warehouse runs after every load.

    Plan: ONE scan per FACT table, not two per edge. All of a fact's
    edges ride the same pass — the fact left-joins each edge's DISTINCT
    dimension key set (key set + presence marker: the dimension
    contracts to its keys first, so at 100 TB the distinct-key frame is
    what shuffles or broadcasts, never the dimension payload; an
    unmatched non-null fk = orphan, exactly the anti-join count), then
    one wide agg per fact computes every edge's null/orphan counts
    together and ``inline``s them to edge rows. lineitem (3 edges —
    the 100 TB table) is scanned ONCE instead of 6×, and only its
    biggest edge (l_orderkey, the non-broadcastable key set) pays a
    shuffle; part/supplier key sets broadcast onto the same stream.
    The 5 per-fact subtrees union LAZILY — a single job at consumption,
    zero driver-side count loops. All counts exact longs.
    """
    from collections import defaultdict
    from functools import reduce

    by_fact: dict[str, list[tuple[str, str, str]]] = defaultdict(list)
    for fact, fk, dim, dk in _RI_EDGES:
        by_fact[fact].append((fk, dim, dk))

    reports = []
    for fact, edges in by_fact.items():
        f = t(spark, sf_dir, fact).select([fk for fk, _, _ in edges])
        for i, (fk, dim, dk) in enumerate(edges):
            d = (
                t(spark, sf_dir, dim)
                .select(F.col(dk).alias(fk))
                .distinct()
                .withColumn(f"__hit{i}", F.lit(True))
            )
            f = f.join(d, fk, "left")
        agg = f.agg(
            F.count("*").alias("n_rows"),
            *[
                e
                for i, (fk, _, _) in enumerate(edges)
                for e in (
                    F.sum(F.col(fk).isNull().cast("long")).alias(
                        f"__nulls{i}"
                    ),
                    F.sum(
                        (
                            F.col(fk).isNotNull()
                            & F.col(f"__hit{i}").isNull()
                        ).cast("long")
                    ).alias(f"__orph{i}"),
                )
            ],
        )
        reports.append(
            agg.select(
                F.inline(
                    F.array(
                        *[
                            F.struct(
                                F.lit(
                                    f"{fact}.{fk}->{dim}.{dk}"
                                ).alias("relationship"),
                                F.col("n_rows"),
                                F.col(f"__nulls{i}").alias("n_null_keys"),
                                F.col(f"__orph{i}").alias("n_orphans"),
                            )
                            for i, (fk, dim, dk) in enumerate(edges)
                        ]
                    )
                )
            )
        )
    out = reduce(lambda a, b: a.unionByName(b), reports)
    return out.select(
        "*",
        ((F.col("n_null_keys") == 0) & (F.col("n_orphans") == 0)).alias(
            "passed"
        ),
    )


REFERENTIAL_INTEGRITY_SQL = "\nUNION ALL\n".join(
    f"""SELECT '{fact}.{fk}->{dim}.{dk}' AS relationship,
       (SELECT count(*) FROM {fact})::BIGINT AS n_rows,
       (SELECT count(*) FROM {fact} WHERE {fk} IS NULL)::BIGINT
           AS n_null_keys,
       (SELECT count(*) FROM {fact} f
        WHERE f.{fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{dk} = f.{fk})
       )::BIGINT AS n_orphans,
       (SELECT count(*) FROM {fact} WHERE {fk} IS NULL) = 0
       AND (SELECT count(*) FROM {fact} f
            WHERE f.{fk} IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM {dim} d
                              WHERE d.{dk} = f.{fk})) = 0 AS passed"""
    for fact, fk, dim, dk in _RI_EDGES
)


def monthly_first_vs_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per month: orders and revenue split into first-time vs repeat
    customers — the acquisition-vs-retention revenue mix every retail
    dashboard tracks next to the MoM strip.

    An order is "first" iff it is its customer's earliest (ties broken
    by o_orderkey so exactly ONE order per customer is first, both
    engines agreeing). Plan: one o_custkey window (min struct over the
    customer's orders — high-cardinality key) flags first orders, then
    one month groupBy; money in integer cents, shares are
    exact-integer ratios.
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        cents("o_totalprice").alias("price_cents"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    w = Window.partitionBy("o_custkey")
    first_key = F.min(F.struct("o_orderdate", "o_orderkey")).over(w)[
        "o_orderkey"
    ]
    flagged = orders.withColumn(
        "is_first", F.col("o_orderkey") == first_key
    )
    return flagged.groupBy("month").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("is_first").cast("long")).alias("n_first"),
        (
            F.sum(F.when(F.col("is_first"), F.col("price_cents")).otherwise(0))
            .cast("double") / 100.0
        ).alias("first_revenue"),
        (
            F.sum(
                F.when(~F.col("is_first"), F.col("price_cents")).otherwise(0)
            ).cast("double") / 100.0
        ).alias("repeat_revenue"),
        (
            F.sum(F.col("is_first").cast("long")).cast("double")
            / F.count("*")
        ).alias("first_share"),
    )


MONTHLY_FIRST_VS_REPEAT_SQL = f"""
WITH flagged AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           {cents_sql('o_totalprice')} AS price_cents,
           (o_orderkey = first_value(o_orderkey) OVER
                (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey)) AS is_first
    FROM orders
)
SELECT month, count(*)::BIGINT AS n_orders,
       sum(is_first::INT)::BIGINT AS n_first,
       sum(CASE WHEN is_first THEN price_cents ELSE 0 END)::DOUBLE / 100.0
           AS first_revenue,
       sum(CASE WHEN NOT is_first THEN price_cents ELSE 0 END)::DOUBLE / 100.0
           AS repeat_revenue,
       sum(is_first::INT)::DOUBLE / count(*) AS first_share
FROM flagged GROUP BY month
"""


# ---------------------------------------------------------------------------
# Cohort lifetime value + exact-sum OLS
# ---------------------------------------------------------------------------


def customer_clv_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value matrix: customers grouped by first-order
    month, each cohort's revenue tracked by months-since-acquisition
    (offset), with cumulative revenue per cohort customer — the
    retention-economics triangle every subscription/retail dashboard
    draws.

    Month arithmetic stays in EXACT integers (year*12 + month), never
    float month-diffs. Plan: one o_custkey window flags each customer's
    cohort month (high-cardinality key — same shape as
    monthly_first_vs_repeat), one (cohort, offset) groupBy contracts to
    a months x months triangle, and the cumulative window runs over
    that TINY frame partitioned by cohort. Money in integer cents;
    ratios are exact-int divisions (float policy: emit raw).
    """
    orders = t(spark, sf_dir, "orders").select(
        "o_custkey",
        cents("o_totalprice").alias("price_cents"),
        (
            F.year("o_orderdate") * F.lit(12)
            + F.month("o_orderdate")
        ).cast("long").alias("ym"),
    )
    w = Window.partitionBy("o_custkey")
    flagged = orders.withColumn("cohort_ym", F.min("ym").over(w))
    cells = (
        flagged.groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("month_offset")
        )
        .agg(
            F.count_distinct("o_custkey").alias("active_customers"),
            F.sum("price_cents").alias("rev_cents"),
        )
    )
    cohort_sizes = cells.where(F.col("month_offset") == 0).select(
        "cohort_ym", F.col("active_customers").alias("cohort_size")
    )
    wc = (
        Window.partitionBy("cohort_ym")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ym_str = F.concat_ws(
        "-",
        F.floor((F.col("cohort_ym") - 1) / 12).cast("string"),
        F.lpad(
            ((F.col("cohort_ym") - 1) % 12 + 1).cast("string"), 2, "0"
        ),
    )
    return (
        cells.join(F.broadcast(cohort_sizes), "cohort_ym")
        .withColumn("cum_rev_cents", F.sum("rev_cents").over(wc))
        .select(
            ym_str.alias("cohort_month"),
            "month_offset",
            "active_customers",
            (F.col("rev_cents").cast("double") / 100.0).alias("revenue"),
            (
                F.col("cum_rev_cents").cast("double")
                / F.col("cohort_size")
                / 100.0
            ).alias("cum_ltv_per_customer"),
        )
    )


CUSTOMER_CLV_COHORT_SQL = f"""
WITH o AS (
    SELECT o_custkey, {cents_sql('o_totalprice')}::BIGINT AS price_cents,
           (date_part('year', o_orderdate) * 12
            + date_part('month', o_orderdate))::BIGINT AS ym
    FROM orders
),
flagged AS (
    SELECT *, min(ym) OVER (PARTITION BY o_custkey) AS cohort_ym FROM o
),
cells AS (
    SELECT cohort_ym, ym - cohort_ym AS month_offset,
           count(DISTINCT o_custkey)::BIGINT AS active_customers,
           sum(price_cents)::BIGINT AS rev_cents
    FROM flagged GROUP BY 1, 2
),
sizes AS (
    SELECT cohort_ym, active_customers AS cohort_size
    FROM cells WHERE month_offset = 0
)
SELECT concat_ws('-', ((c.cohort_ym - 1) // 12)::VARCHAR,
                 lpad((((c.cohort_ym - 1) % 12) + 1)::VARCHAR, 2, '0'))
           AS cohort_month,
       c.month_offset, c.active_customers,
       c.rev_cents::DOUBLE / 100.0 AS revenue,
       sum(c.rev_cents) OVER (PARTITION BY c.cohort_ym ORDER BY c.month_offset
                              ROWS UNBOUNDED PRECEDING)::DOUBLE
           / s.cohort_size / 100.0 AS cum_ltv_per_customer
FROM cells c JOIN sizes s USING (cohort_ym)
"""


def ship_delay_ols_slope(
    spark: SparkSession, sf_dir: str, *, decimal_sums: bool = False
) -> DataFrame:
    """Exact-sum OLS per return flag: regress ship delay (days) on
    line-item quantity — slope, intercept, and Pearson r from the five
    classic sufficient statistics — the "does bigger quantity ship
    slower?" regression an ops analyst fits, done the
    MAP-REDUCE-friendly way.

    Determinism: the sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²)
    are LONG sums of small integers (quantity <= 50, delay < ~4000
    days) — associative, partitioning-independent, exact. Slope /
    intercept / r are then single closed-form double expressions on
    identical operands in both engines (sqrt is IEEE
    correctly-rounded) — bit-identical, no tolerance. Plan: ONE
    orderkey equi-join + one 3-group agg with map-side combine; nothing
    else. At 100 TB sums of squares outgrow BIGINT ~1e18 rows — the
    swap is ``decimal_sums=True``: per-row terms stay exact LONGs
    (x*y <= ~2e5) and are cast to DECIMAL(38,0) only for ACCUMULATION
    (same associativity, 38-digit headroom); the closed forms run in
    decimal and cast to double at the very end, so at any scale where
    both paths are exact they are bit-equal (property-tested).

    Bound on the decimal path (ADVICE r8): the 38-digit headroom claim
    covers the SUMS; the closed-form products (``n*sxy``, ``sx*sy``,
    ``n*sxx``, ...) also evaluate in decimal(38,0), and with per-row
    terms <= ~2e5 those products grow as ~2e5 * R^2 for R rows per
    group — they hit the 38-digit cap around R ~ 1e16..1e17, where
    (ANSI off) Spark returns a silent NULL slope/r rather than raising.
    At the documented 100 TB scale (~6e11 rows TOTAL) that leaves
    >10,000x headroom per group; a deployment pushing past ~1e16 rows
    per group must compute the closed forms under ANSI (loud overflow)
    or pre-aggregate. The LONG path's bound is the per-row-sum one
    documented above (~1e18 rows).
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        "l_shipdate",
        F.round("l_quantity").cast("long").alias("x"),
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_returnflag",
        "x",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("y"),
    )
    return _ols_sufficient_stats(j, decimal_sums=decimal_sums)


def _ols_sufficient_stats(
    j: DataFrame, *, decimal_sums: bool = False
) -> DataFrame:
    """Slope/intercept/r per ``l_returnflag`` from exact sufficient-
    statistic sums over (x, y) LONG columns; see
    :func:`ship_delay_ols_slope` for the accumulation-type contract."""
    if decimal_sums:
        def acc(c):
            return c.cast("decimal(38,0)")
    else:
        def acc(c):
            return c
    s = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(acc(F.col("x"))).alias("sx"),
        F.sum(acc(F.col("y"))).alias("sy"),
        F.sum(acc(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(acc(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(acc(F.col("y") * F.col("y"))).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den_x = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    slope = num / den_x
    return s.select(
        "l_returnflag",
        "n",
        slope.alias("slope_days_per_unit"),
        (
            (
                F.col("sy").cast("double")
                - slope * F.col("sx").cast("double")
            )
            / F.col("n").cast("double")
        ).alias("intercept_days"),
        (num / F.sqrt(den_x * den_y)).alias("pearson_r"),
    )


SHIP_DELAY_OLS_SQL = """
WITH j AS (
    SELECT o.l_returnflag AS l_returnflag, o.x AS x,
           date_diff('day', od.o_orderdate::DATE, o.l_shipdate::DATE)::BIGINT
               AS y
    FROM (
        SELECT l_orderkey, l_returnflag, l_shipdate,
               round(l_quantity)::BIGINT AS x
        FROM lineitem
    ) o JOIN orders od ON o.l_orderkey = od.o_orderkey
),
s AS (
    SELECT l_returnflag, count(*)::BIGINT AS n,
           sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
           sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx,
           sum(y * y)::BIGINT AS syy
    FROM j GROUP BY 1
)
SELECT l_returnflag, n,
       (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE
           AS slope_days_per_unit,
       (sy::DOUBLE - ((n * sxy - sx * sy)::DOUBLE
                      / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
           / n::DOUBLE AS intercept_days,
       (n * sxy - sx * sy)::DOUBLE
           / sqrt((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE)
           AS pearson_r
FROM s
"""


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier): cheapest-for-their-size parts
# ---------------------------------------------------------------------------

#: Price-range buckets for the distributed prefix-max pass. The cross-
#: bucket prefix frame is exactly this many rows, so the one
#: unpartitioned window below is O(64) regardless of corpus size.
_SKYLINE_BUCKETS = 64

#: Sentinel below any real ``p_size`` (TPC-H sizes are >= 1; any long
#: would do — it only absorbs the "no cheaper point exists" NULL).
_NO_PREDECESSOR = -(1 << 62)


def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts on the (price ↓, size ↑) Pareto frontier — every part for
    which no other part is at most as expensive AND at least as large
    with one of the two strict. The "best value for bulk" shortlist a
    sourcing team reads; the same dominance shape ranks training
    sources on (cost, quality) in a data-pipeline scorecard.

    Dominance is an all-pairs predicate (the oracle states it as a
    NOT EXISTS anti-join — O(N²) and fine at oracle scale, unrunnable
    at 100 TB), but a 2-D skyline collapses to order statistics:

    1. **Contraction** — group by exact price cents, keep ``max(size)``:
       only the largest part at each price can be on the frontier (an
       equal-price larger part strictly dominates). Output is bounded
       by the PRICE DOMAIN (~200k distinct values under TPC-H's price
       formula at any SF), not the corpus.
    2. **Bucketed prefix max** — a point survives iff its size beats
       the max size over all STRICTLY cheaper points. Computed without
       a corpus-wide single-partition sort: uniform price-range buckets
       from a broadcast 1-row min/max frame; an in-bucket RANGE-frame
       running max (``rangeBetween(unboundedPreceding, -1)`` on the
       cent key = strictly-cheaper semantics, partitioned by bucket);
       and a cross-bucket exclusive prefix max over the O(64)-row
       per-bucket-max frame (the only unpartitioned window — 64 rows
       by construction, same bounded class as the O(days) series
       folds). Spark's ``greatest`` skips NULLs, so the two
       predecessor maxes combine without an engine-portability hazard
       (the oracle never evaluates this expression).
    3. **Broadcast semi-join** — frontier points (≤ distinct prices,
       in practice tiny) rejoin the part scan to recover full rows;
       equal (price, size) duplicates all survive, matching strict
       dominance in the oracle.

    Scale: one corpus scan, one shuffle on the price contraction, one
    bucket-key shuffle over the contraction, and a broadcast join back.
    Nothing downstream of the scan is corpus-sized.
    """
    p = (
        t(spark, sf_dir, "part")
        .where(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_retailprice", "p_size")
    )
    # cached (optimization r16): the price contraction feeds the range
    # aggregate, the in-bucket window AND the cross-bucket prefix —
    # without the cache each reference re-ran the part scan + groupBy
    # (census: 5 executing part scans). Price-domain-bounded (~200k
    # rows at any SF), so the cache is trivially small.
    pts = (
        p.select(
            cents("p_retailprice").alias("price_c"),
            F.col("p_size").cast("long").alias("size"),
        )
        .groupBy("price_c")
        .agg(F.max("size").alias("max_size"))
        .transform(pin)
    )
    rng = pts.agg(F.min("price_c").alias("__lo"), F.max("price_c").alias("__hi"))
    b = pts.crossJoin(F.broadcast(rng)).withColumn(
        "bucket",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(_SKYLINE_BUCKETS - 1),
                F.floor(
                    (F.col("price_c") - F.col("__lo"))
                    * _SKYLINE_BUCKETS
                    / (F.col("__hi") - F.col("__lo") + 1)
                ),
            )
        ),
    )
    w_cheaper = (
        Window.partitionBy("bucket")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    local = b.withColumn("__prev_in_bucket", F.max("max_size").over(w_cheaper))
    w_prefix = (
        Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = (
        b.groupBy("bucket")
        .agg(F.max("max_size").alias("__bmax"))
        .withColumn("__prev_buckets", F.max("__bmax").over(w_prefix))
        .select("bucket", "__prev_buckets")
    )
    frontier = (
        local.join(F.broadcast(prefix), "bucket")
        .where(
            F.col("max_size")
            > F.coalesce(
                F.greatest("__prev_in_bucket", "__prev_buckets"),
                F.lit(_NO_PREDECESSOR),
            )
        )
        .select("price_c", "max_size")
    )
    return p.join(
        F.broadcast(frontier),
        (cents("p_retailprice") == F.col("price_c"))
        & (F.col("p_size").cast("long") == F.col("max_size")),
        "left_semi",
    ).select("p_partkey", "p_retailprice", "p_size")


PART_PRICE_SIZE_SKYLINE_SQL = """
SELECT p.p_partkey, p.p_retailprice, p.p_size
FROM part p
WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_retailprice IS NOT NULL AND q.p_size IS NOT NULL
      AND q.p_retailprice <= p.p_retailprice
      AND q.p_size >= p.p_size
      AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
  )
"""


def part_price_size_date_skyline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """3-D Pareto frontier (VERDICT r10 #5): parts that are
    simultaneously undominated on (price ↓, size ↑, ship-date recency ↑)
    — no other part is at most as expensive AND at least as large AND
    shipped at least as recently, with at least one strict. The third
    axis is ``last_ship_day`` = the part's most recent lineitem ship
    date (a freshness signal: a part that hasn't shipped in years is a
    worse sourcing candidate at equal price/size). Parts that never
    shipped carry no recency and are excluded (inner join).

    The 2-D prefix-max trick (:func:`part_price_size_skyline`) doesn't
    extend — the set of undominated (size, date) pairs among cheaper
    points is a STAIRCASE, not a scalar. The standard contraction +
    per-bucket dominance sweep, kept fully declarative:

    1. **Contraction** — per-part ``max(l_shipdate)`` (key-grain), then
       group by (exact price cents, size) keeping ``max(day)``: an
       equal-(price, size) later-shipping part strictly dominates.
       Output bounded by price-domain × size-domain, never the corpus.
    2. **Level explode** — each contraction row fans out to size levels
       ``s = 1..size`` (TPC-H sizes are small dense ints; a general
       deployment rank-compresses sizes first). At level ``s`` the rows
       present are exactly the points with ``size >= s``, so a
       running max of ``day`` over STRICTLY CHEAPER rows at level
       ``s = p.size`` answers "best date among cheaper, at-least-as-big
       points" with one partitioned RANGE-frame window — the 2-D
       staircase query becomes an equi-indexed 1-D prefix max. Explode
       factor ≤ |size domain| (50), applied to the contraction only.
    3. **Three dominance tests, all partitioned or bounded**:
       in-bucket strictly-cheaper (window over (bucket, s), RANGE to
       -1 on the cent key); cross-bucket (exclusive prefix max over the
       O(buckets × sizes) per-(bucket, level) max grid — ≤ 3,200 rows
       by construction, broadcast back as an equi-join); same-price
       strictly-larger-size (suffix-strict RANGE frame over the
       price-partitioned contraction). A point survives iff every
       test's predecessor max is NULL or < its own day (weak-date kill:
       the other axis is already strictly better).
    4. **Broadcast semi-join back** on (price_c, size, day) recovers
       full rows; exact (price, size, date) duplicates all survive,
       matching the oracle's strict-dominance NOT EXISTS.

    Scale: one lineitem scan (key-grain agg), one part scan, shuffles
    only on contraction-sized frames, one O(3k)-row broadcast, and a
    broadcast semi-join back. Nothing downstream of the scans is
    corpus-sized; no python islands; no unpartitioned corpus sort.
    """
    ls = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(
            F.datediff(
                F.max(F.to_date("l_shipdate")),
                F.lit("1970-01-01").cast("date"),
            ).cast("long").alias("last_ship_day")
        )
    )
    base = (
        t(spark, sf_dir, "part")
        .where(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .select("p_partkey", "p_retailprice", "p_size")
        .join(ls, "p_partkey")
        .select(
            "p_partkey",
            "p_retailprice",
            "p_size",
            "last_ship_day",
            cents("p_retailprice").alias("price_c"),
            F.col("p_size").cast("long").alias("size"),
        )
        # pinned (optimization r16): base feeds the (price, size)
        # contraction AND the final semi-join back — as bare references
        # the lineitem max-shipdate agg + part join re-executed per
        # consumer (census: 5 part + 5 lineitem scans for ONE query).
        # Part-key-grain narrow rows; eager checkpoint rather than
        # .persist() so the materialized layout is the AQE-coalesced
        # final plan, not the frozen 32-partition pre-AQE shuffle (the
        # quantiles arrangement lesson — a persist here measured
        # slower).
        .transform(pin)
    )
    pts = (
        base.groupBy("price_c", "size")
        .agg(F.max("last_ship_day").alias("day"))
        # contraction-grain (price-domain x size-domain); feeds rng,
        # the level explode (2 refs) — pinned for the same reason
        .transform(pin)
    )
    rng = pts.agg(F.min("price_c").alias("__lo"), F.max("price_c").alias("__hi"))
    b = pts.crossJoin(F.broadcast(rng)).withColumn(
        "bucket",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.lit(_SKYLINE_BUCKETS - 1),
                F.floor(
                    (F.col("price_c") - F.col("__lo"))
                    * _SKYLINE_BUCKETS
                    / (F.col("__hi") - F.col("__lo") + 1)
                ),
            )
        ),
    ).select("bucket", "price_c", "size", "day")
    lv = b.select(
        "bucket", "price_c", "size", "day",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("size"))).alias("s"),
    )
    w_in = (
        Window.partitionBy("bucket", "s")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    # grid of per-(bucket, level) maxima -> exclusive cross-bucket prefix
    w_pref = (
        Window.partitionBy("s")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = (
        lv.groupBy("bucket", "s")
        .agg(F.max("day").alias("__bmax"))
        .withColumn("__prev_buckets", F.max("__bmax").over(w_pref))
        .select("bucket", "s", "__prev_buckets")
    )
    # own-level rows (s == size) carry the in-bucket strictly-cheaper max
    cand = (
        lv.withColumn("__prev_in_bucket", F.max("day").over(w_in))
        .where(F.col("s") == F.col("size"))
    )
    w_price = (
        Window.partitionBy("price_c")
        .orderBy("size")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    cand = cand.withColumn("__prev_same_price", F.max("day").over(w_price))
    frontier = (
        cand.join(F.broadcast(pref), ["bucket", "s"])
        .where(
            F.col("day")
            > F.coalesce(
                F.greatest(
                    "__prev_in_bucket", "__prev_buckets", "__prev_same_price"
                ),
                F.lit(_NO_PREDECESSOR),
            )
        )
        .select(
            F.col("price_c").alias("__f_price_c"),
            F.col("size").alias("__f_size"),
            F.col("day").alias("__f_day"),
        )
    )
    return base.join(
        F.broadcast(frontier),
        (F.col("price_c") == F.col("__f_price_c"))
        & (F.col("size") == F.col("__f_size"))
        & (F.col("last_ship_day") == F.col("__f_day")),
        "left_semi",
    ).select("p_partkey", "p_retailprice", "p_size", "last_ship_day")


PART_PRICE_SIZE_DATE_SKYLINE_SQL = """
WITH ls AS (
    SELECT l_partkey,
           date_diff('day', DATE '1970-01-01', max(l_shipdate)::DATE)::BIGINT
               AS last_ship_day
    FROM lineitem GROUP BY 1
),
base AS (
    SELECT p.p_partkey, p.p_retailprice, p.p_size, ls.last_ship_day
    FROM part p JOIN ls ON p.p_partkey = ls.l_partkey
    WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL
)
SELECT b.p_partkey, b.p_retailprice, b.p_size, b.last_ship_day
FROM base b
WHERE NOT EXISTS (
    SELECT 1 FROM base q
    WHERE q.p_retailprice <= b.p_retailprice
      AND q.p_size >= b.p_size
      AND q.last_ship_day >= b.last_ship_day
      AND (q.p_retailprice < b.p_retailprice
           OR q.p_size > b.p_size
           OR q.last_ship_day > b.last_ship_day)
)
"""


_KM_EPOCH = "1992-01-01"
_SURV_GRID = 1_000_000   # micro-nat quantization of ln(1 - hazard)


def customer_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of customer re-order gaps — "what
    fraction of customers have NOT yet re-ordered after t days?", the
    survival-analysis form of retention (churn models, re-engagement
    SLAs, inventory cadence). Each order contributes one observation:
    the gap to the customer's next order (an EVENT at t = gap days) or,
    for a customer's last order, the right-CENSORED interval to the
    dataset's final order date. KM: S(t) = Π_{u<=t} (1 − d_u/n_u) over
    event times u, with d = events at u and n = observations still at
    risk (duration >= u; censored-at-u counted at risk, the standard
    events-before-censoring tie rule).

    Determinism discipline (the ``doc_unigram_surprisal`` pattern for
    products): ``hazard`` is an exact long ratio (raw per float
    policy); the survival PRODUCT runs as an exact-long cumsum of
    micro-nat terms — ``round(ln(1 − d/n) · 1e6)`` is one libm call on
    identical operands per event time (cross-engine agreement ~1e-15,
    absorbed by the micro grid), and the cumulative sum is
    order-independent long addition — then one ``exp`` on the identical
    quotient, rounded to 1e-6. A risk set emptied by its last event
    time (d = n) short-circuits to survival 0.0 via a prefix flag
    instead of ln(0).

    Scale: one per-customer window over the orders scan (key-
    partitioned), a duration-grain groupBy with map-side combine, and
    prefix windows over the O(|distinct gap days|) CONTRACTION — the
    ``monthly_revenue_mom`` bounded-frame class, never data-sized.
    """
    return _km_curve(_km_observations(spark, sf_dir), strata=[])


def _km_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t_days, event) observation rows from the orders table: one per
    order — the gap to the customer's next order (event) or the
    censored interval from the last order to the dataset's final order
    date."""
    day = F.datediff(
        F.col("o_orderdate"), F.lit(_KM_EPOCH).cast("timestamp")
    ).cast("long")
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    base = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", day.alias("day")
    )
    obs = base.withColumn("next_day", F.lead("day").over(w))
    # censoring horizon off the PRE-window frame (optimization r16):
    # the lead window never changes ``day``, so max(day) over obs ==
    # max(day) over base — the old obs-side aggregate replayed the
    # whole customer window (+ its exchange and sort) just to take a
    # max. The branch is now a one-column scan + agg. (Caching obs to
    # share the window pass was measured and rejected — the
    # 32-partition cache freeze; OPTIMIZATION_r16.md, Measured and
    # rejected.)
    max_day = base.agg(F.max("day").alias("__max_day"))
    return (
        obs.crossJoin(F.broadcast(max_day))
        .select(
            "o_custkey",
            F.coalesce(
                F.col("next_day") - F.col("day"),
                F.col("__max_day") - F.col("day"),
            ).alias("t_days"),
            F.col("next_day").isNotNull().cast("long").alias("event"),
        )
    )


def _km_curve(obs: DataFrame, *, strata: list[str]) -> DataFrame:
    """The KM estimator over (t_days, event) observations, optionally
    stratified: all windows partition by ``strata``, so each stratum's
    curve is an independent O(|its gap days|) frame and adding strata
    ADDS parallelism instead of widening any single task (the global
    curve is the strata=[] degenerate case)."""
    per_t = obs.groupBy(*strata, "t_days").agg(
        F.sum("event").alias("n_events"),
        F.count("*").alias("n_obs"),
    )
    tw = Window.partitionBy(*strata).orderBy("t_days")
    # at-risk as a SUFFIX sum over the duration-grain contraction (one
    # window, no second pass over the observations for a global total)
    suffix = Window.partitionBy(*strata).orderBy(
        F.desc("t_days")
    ).rowsBetween(Window.unboundedPreceding, 0)
    hazard = F.col("n_events").cast("double") / F.col(
        "n_at_risk"
    ).cast("double")
    curve = (
        per_t.withColumn("n_at_risk", F.sum("n_obs").over(suffix))
        .where(F.col("n_events") > 0)
        .withColumn("hazard", hazard)
        .withColumn(
            "w_micro",
            F.when(
                F.col("n_events") == F.col("n_at_risk"), F.lit(None)
            ).otherwise(
                F.round(
                    F.log(F.lit(1.0) - F.col("hazard")) * _SURV_GRID, 0
                ).cast("long")
            ),
        )
        .withColumn(
            "zeroed",
            F.max(
                (F.col("n_events") == F.col("n_at_risk")).cast("int")
            ).over(tw),
        )
        .withColumn("cum_micro", F.sum("w_micro").over(tw))
    )
    survival = F.when(F.col("zeroed") == 1, F.lit(0.0)).otherwise(
        F.round(
            F.exp(
                F.col("cum_micro").cast("double") / F.lit(float(_SURV_GRID))
            ),
            6,
        )
    )
    return curve.select(
        *strata,
        "t_days",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        "hazard",
        survival.alias("survival"),
    )


def segment_reorder_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier re-order survival STRATIFIED by customer market
    segment — the comparative form a retention analysis actually reads
    ("does AUTOMOBILE churn faster than BUILDING?"). Same estimator and
    determinism discipline as :func:`customer_reorder_survival`; the
    segment joins in via the customer dimension (broadcast at test SF;
    a plain key-shuffle dim join at scale) and every window partitions
    by segment, so stratification ADDS parallelism — per-stratum curves
    are independent contraction-sized frames, the partitioned-window
    shape the global curve cannot have."""
    seg = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    obs = _km_observations(spark, sf_dir).join(seg, "o_custkey")
    return _km_curve(obs, strata=["segment"])


def _km_sql_core(obs_cte: str, strata: str = "") -> str:
    """The estimator's SQL (mirrors ``_km_curve``); ``strata`` is a
    trailing-comma'd column list, e.g. ``"segment,"``, empty for the
    global curve."""
    part = f"PARTITION BY {strata.rstrip(',')}" if strata else ""
    return f"""
per_t AS (
    SELECT {strata} t_days, sum(event)::BIGINT AS n_events,
           count(*)::BIGINT AS n_obs
    FROM ({obs_cte}) GROUP BY ALL
),
curve AS (
    SELECT {strata} t_days, n_events,
           sum(n_obs) OVER (
               {part} ORDER BY t_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           )::BIGINT AS n_at_risk
    FROM per_t
),
ev AS (
    SELECT {strata} t_days, n_events, n_at_risk,
           n_events::DOUBLE / n_at_risk::DOUBLE AS hazard,
           CASE WHEN n_events = n_at_risk THEN NULL
                ELSE round(ln(1.0 - n_events::DOUBLE / n_at_risk::DOUBLE)
                           * {_SURV_GRID})::BIGINT END AS w_micro,
           max(CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END)
               OVER ({part} ORDER BY t_days) AS zeroed
    FROM curve WHERE n_events > 0
)
SELECT {strata} t_days, n_at_risk, n_events, hazard,
       CASE WHEN zeroed = 1 THEN 0.0
            ELSE round(exp((sum(w_micro) OVER ({part} ORDER BY t_days))::DOUBLE
                           / {float(_SURV_GRID)}), 6) END AS survival
FROM ev
"""


_KM_OBS_SQL = f"""
WITH o AS (
    SELECT o_custkey, o_orderkey,
           date_diff('day', TIMESTAMP '{_KM_EPOCH}', o_orderdate)::BIGINT
               AS day
    FROM orders
),
nx AS (
    SELECT o_custkey, day,
           lead(day) OVER (PARTITION BY o_custkey
                           ORDER BY day, o_orderkey) AS next_day,
           max(day) OVER () AS max_day
    FROM o
),
obs AS (
    SELECT o_custkey,
           coalesce(next_day - day, max_day - day) AS t_days,
           (next_day IS NOT NULL)::BIGINT AS event
    FROM nx
)"""

CUSTOMER_REORDER_SURVIVAL_SQL = f"""{_KM_OBS_SQL},
{_km_sql_core("SELECT t_days, event FROM obs")}
"""

SEGMENT_REORDER_SURVIVAL_SQL = f"""{_KM_OBS_SQL},
{_km_sql_core(
    "SELECT c.c_mktsegment AS segment, o.t_days, o.event "
    "FROM obs o JOIN customer c ON c.c_custkey = o.o_custkey",
    strata="segment,",
)}
"""


ANALYTICS_SPECS = [
    QuerySpec("customer_reorder_survival", customer_reorder_survival,
              CUSTOMER_REORDER_SURVIVAL_SQL, ("survival-kaplan-meier",)),
    QuerySpec("segment_reorder_survival", segment_reorder_survival,
              SEGMENT_REORDER_SURVIVAL_SQL,
              ("survival-kaplan-meier-stratified",)),
    # pivot_table / price_stats lead: they were the only analytics entries outside
    # the driver's round-1 correctness window (see VERDICT round 1), so they get
    # priority placement for driver evidence.
    QuerySpec("order_priority_pivot_table", order_priority_pivot_table,
              ORDER_PRIORITY_PIVOT_SQL, ("pivot-explicit-values",)),
    QuerySpec("lineitem_price_stats", lineitem_price_stats,
              LINEITEM_PRICE_STATS_SQL, ("stats-closed-form",)),
    QuerySpec("order_gaps_lag_lead", order_gaps_lag_lead,
              ORDER_GAPS_SQL, ("window-lag-lead",)),
    QuerySpec("customer_rank_battery", customer_rank_battery,
              CUSTOMER_RANK_SQL,
              ("window-ntile", "window-percent-rank", "window-cume-dist")),
    QuerySpec("rolling_weekly_revenue", rolling_weekly_revenue,
              ROLLING_WEEKLY_SQL, ("window-range-frame",)),
    QuerySpec("customers_both_years", customers_both_years,
              CUSTOMERS_BOTH_YEARS_SQL, ("set-intersect",)),
    QuerySpec("customers_1996_only", customers_1996_only,
              CUSTOMERS_1996_ONLY_SQL, ("set-except",)),
    QuerySpec("order_value_outliers_zscore", order_value_outliers_zscore,
              ORDER_VALUE_OUTLIERS_SQL, ("grouped-zscore-outliers",)),
    QuerySpec("order_value_mad_outliers", order_value_mad_outliers,
              ORDER_VALUE_MAD_OUTLIERS_SQL, ("robust-mad-outliers",),
              touched_round=16),  # r16: AUDIT row changed; r9 addition: composed-percentile robust stats
    QuerySpec("rfm_customer_segments", rfm_customer_segments,
              RFM_CUSTOMER_SEGMENTS_SQL, ("rfm-quartile-segmentation",),
              touched_round=16),  # r16: AUDIT row changed; r7: exact_percentiles_scalable rework
    QuerySpec("monthly_revenue_mom", monthly_revenue_mom,
              MONTHLY_REVENUE_MOM_SQL, ("seasonality-mom-trailing",)),
    QuerySpec("customer_segment_scd2", customer_segment_scd2,
              CUSTOMER_SEGMENT_SCD2_SQL, ("scd2-gaps-and-islands",),
              touched_round=16),  # r16: AUDIT row changed; r7: exact_percentiles_scalable rework
    QuerySpec("referential_integrity_report", referential_integrity_report,
              REFERENTIAL_INTEGRITY_SQL, ("dq-relationship-tests",),
              touched_round=7),  # r7: fused one-scan-per-fact rewrite
    QuerySpec("monthly_first_vs_repeat", monthly_first_vs_repeat,
              MONTHLY_FIRST_VS_REPEAT_SQL, ("acquisition-retention-mix",)),
    QuerySpec("customer_clv_cohort", customer_clv_cohort,
              CUSTOMER_CLV_COHORT_SQL, ("cohort-ltv-triangle",)),
    QuerySpec("ship_delay_ols_slope", ship_delay_ols_slope,
              SHIP_DELAY_OLS_SQL, ("ols-sufficient-stats",)),
    QuerySpec("part_price_size_skyline", part_price_size_skyline,
              PART_PRICE_SIZE_SKYLINE_SQL, ("skyline-pareto-frontier",),
              touched_round=16),  # r16: AUDIT row changed; r10 addition: dominance via bucketed prefix max
    QuerySpec("part_price_size_date_skyline", part_price_size_date_skyline,
              PART_PRICE_SIZE_DATE_SKYLINE_SQL, ("skyline-3d-staircase",),
              touched_round=16),  # r16: AUDIT row changed; r11 addition: k-D via level-exploded staircase
]
