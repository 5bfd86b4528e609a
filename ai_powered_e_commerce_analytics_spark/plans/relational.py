"""Relational query battery: reference-parity KPIs + general operators.

The reference's domain tables don't exist in the driver testdata, so the
KPI queries run on the FIXTURES.md §6 mapping: ``orders``/``lineitem`` are
the priced rows, ``customer``→users, ``supplier``→shops, and the nullable
LLM ``sentiment`` is derived with a deterministic CASE rule (priority /
returnflag), exercising the exact same operator graph as the reference's
sentiment pipeline (avg + null-skipping boolean sums + conditional ratio +
global min-max normalize; SURVEY.md §2.4-2.5).

All money aggregation uses the exact-cents policy (see spec.py): sums are
exact long arithmetic, averages are deterministic IEEE divisions of exact
integers — bit-identical to the DuckDB oracle with no rounding anywhere.

Scale notes are on each query; the common ones:
- every KPI is ONE groupBy().agg() -> one hash shuffle, map-side combine;
- global min/max is a 2-row agg broadcast back (no 1-partition window);
- small dimension sides of joins are broadcast explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import likeness_score, with_minmax_normalized
from ..functions.core import pin, unordered_pair_rows
from .spec import (
    QuerySpec,
    cents,
    cents_sql,
    event_date,
    event_hour_str,
    event_ts_us,
    t,
)

# Deterministic nullable-sentiment rules (stand-ins for LLM output; the
# null branch mirrors failed LLM batches, data_transformer.py:100).
# Column objects can't be built at import time (need an active session),
# so these are thunks.
def _order_sentiment():
    return F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(True)
    ).when(
        F.col("o_orderpriority").isin("4-NOT SPECIFIED", "5-LOW"), F.lit(False)
    )


def _line_sentiment():
    return F.when(F.col("l_returnflag") == "N", F.lit(True)).when(
        F.col("l_returnflag") == "R", F.lit(False)
    )


_ORDER_SENTIMENT_SQL = (
    "CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN TRUE "
    "WHEN o_orderpriority IN ('4-NOT SPECIFIED','5-LOW') THEN FALSE "
    "ELSE NULL END"
)
_LINE_SENTIMENT_SQL = (
    "CASE WHEN l_returnflag = 'N' THEN TRUE "
    "WHEN l_returnflag = 'R' THEN FALSE ELSE NULL END"
)


def _review_kpis_exact(gold: DataFrame, key: str, avg_alias: str) -> DataFrame:
    """The reference KPI fold (A1/A2+A4+C1+C2) with exact-cents averaging.

    One groupBy().agg() per table (the reference runs two passes + a join,
    data_transformer.py:113-128 — survey §4.1 flags the missed fusion).
    """
    s = F.col("sentiment")
    agg = gold.groupBy(key).agg(
        (
            (F.sum("price_cents").cast("double") / F.count("*")) / 100.0
        ).alias(avg_alias),
        F.sum(F.when(s, 1).otherwise(0)).alias("positive_reviews"),
        F.sum(F.when(~s, 1).otherwise(0)).alias("negative_reviews"),
    )
    agg = agg.withColumn(
        "likeness_score",
        likeness_score(F.col("positive_reviews"), F.col("negative_reviews")),
    )
    return with_minmax_normalized(
        agg, "likeness_score", "normalized_likeness_score"
    )


_KPI_TAIL_SQL = """
likeness AS (
    SELECT *,
           (positive_reviews / (CASE WHEN negative_reviews > 0
                                     THEN negative_reviews ELSE 1 END))::DOUBLE
               AS likeness_score
    FROM agg
),
normed AS (
    SELECT *,
           min(likeness_score) OVER () AS mn,
           max(likeness_score) OVER () AS mx
    FROM likeness
)
"""

_KPI_SELECT_SQL = """
SELECT {key}, {avg_alias},
       positive_reviews, negative_reviews,
       likeness_score,
       CASE WHEN mx = mn THEN 0.0
            ELSE (likeness_score - mn) / (mx - mn) END
           AS normalized_likeness_score
FROM normed
"""


# ---------------------------------------------------------------------------
# Reference KPI parity (A1-A5, C1-C5, J1-J2)
# ---------------------------------------------------------------------------


def user_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("id"),
        cents("o_totalprice").alias("price_cents"),
        _order_sentiment().alias("sentiment"),
    )
    return _review_kpis_exact(gold, "id", "average_spent")


USER_KPIS_SQL = f"""
WITH gold AS (
    SELECT o_custkey AS id, {cents_sql("o_totalprice")} AS price_cents,
           {_ORDER_SENTIMENT_SQL} AS sentiment
    FROM orders
),
agg AS (
    SELECT id,
           (sum(price_cents)::DOUBLE / count(*)) / 100.0 AS average_spent,
           sum(CASE WHEN sentiment THEN 1 ELSE 0 END)::BIGINT AS positive_reviews,
           sum(CASE WHEN NOT sentiment THEN 1 ELSE 0 END)::BIGINT AS negative_reviews
    FROM gold GROUP BY id
),
{_KPI_TAIL_SQL}
{_KPI_SELECT_SQL.format(key="id", avg_alias="average_spent")}
"""


def shop_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    gold = t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("shop_id"),
        cents("l_extendedprice").alias("price_cents"),
        _line_sentiment().alias("sentiment"),
    )
    return _review_kpis_exact(gold, "shop_id", "average_profit")


SHOP_KPIS_SQL = f"""
WITH gold AS (
    SELECT l_suppkey AS shop_id, {cents_sql("l_extendedprice")} AS price_cents,
           {_LINE_SENTIMENT_SQL} AS sentiment
    FROM lineitem
),
agg AS (
    SELECT shop_id,
           (sum(price_cents)::DOUBLE / count(*)) / 100.0 AS average_profit,
           sum(CASE WHEN sentiment THEN 1 ELSE 0 END)::BIGINT AS positive_reviews,
           sum(CASE WHEN NOT sentiment THEN 1 ELSE 0 END)::BIGINT AS negative_reviews
    FROM gold GROUP BY shop_id
),
{_KPI_TAIL_SQL}
{_KPI_SELECT_SQL.format(key="shop_id", avg_alias="average_profit")}
"""


def date_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Date kept as a STRING group key — reference parity (§2.5 C7).
    return (
        t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("date"))
        .agg(
            (
                (F.sum(cents("o_totalprice")).cast("double") / F.count("*"))
                / 100.0
            ).alias("average_profit_per_day")
        )
    )


DATE_KPIS_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m-%d') AS date,
       (sum({cents_sql("o_totalprice")})::DOUBLE / count(*)) / 100.0
           AS average_profit_per_day
FROM orders GROUP BY 1
"""


def gold_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1: fact LEFT JOIN broadcast(sentiments) — at 100 TB the narrow
    # 2-column sentiment side broadcasts; the fact side never shuffles.
    orders = t(spark, sf_dir, "orders")
    sentiments = orders.select(
        F.col("o_orderkey").alias("item_id"), _order_sentiment().alias("sentiment")
    )
    return orders.select(
        F.col("o_orderkey").alias("item_id"),
        "o_custkey",
        F.col("o_totalprice").alias("price"),
    ).join(F.broadcast(sentiments), "item_id", "left")


GOLD_ENRICHMENT_JOIN_SQL = f"""
SELECT o.o_orderkey AS item_id, o.o_custkey,
       o.o_totalprice AS price, s.sentiment
FROM orders o
LEFT JOIN (SELECT o_orderkey, {_ORDER_SENTIMENT_SQL} AS sentiment
           FROM orders) s
  ON o.o_orderkey = s.o_orderkey
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P8/J4: left-anti residue (retry set difference, ollama_client.py:91).
    customer, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def acctbal_minmax_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # C2+A5 standalone: scalable min-max normalize (broadcast agg, §7.9).
    # min/max are selections of stored doubles and the ratio is one IEEE
    # expression on identical operands -> raw emit, no rounding.
    df = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return with_minmax_normalized(df, "c_acctbal", "normalized")


ACCTBAL_MINMAX_NORMALIZED_SQL = """
WITH m AS (SELECT c_custkey, c_acctbal,
                  min(c_acctbal) OVER () mn, max(c_acctbal) OVER () mx
           FROM customer)
SELECT c_custkey, c_acctbal,
       CASE WHEN mx = mn THEN 0.0
            ELSE (c_acctbal - mn) / (mx - mn) END AS normalized
FROM m
"""


# ---------------------------------------------------------------------------
# Row-id / batching / pools (P3, P4, F1 prep)
# ---------------------------------------------------------------------------


def item_id_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P3 oracle-checkable form: row_number over a stable key. (The no-sort
    # zipWithIndex path is operators.enrich.assign_item_ids(order_by=None).)
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.row_number()
        .over(Window.orderBy("o_orderkey"))
        .cast("long")
        .alias("item_id"),
    )


ITEM_ID_ASSIGNMENT_SQL = """
SELECT o_orderkey,
       row_number() OVER (ORDER BY o_orderkey) AS item_id
FROM orders
"""


def item_id_assignment_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3's 100 TB form under the same oracle: range-partitioned two-pass
    id composition (operators.enrich.assign_item_ids_ranged) must produce
    EXACTLY the ids of ``row_number() OVER (ORDER BY ...)`` — without the
    window form's single-task global sort."""
    from ..operators.enrich import assign_item_ids_ranged

    return assign_item_ids_ranged(
        t(spark, sf_dir, "orders").select("o_orderkey"), ["o_orderkey"]
    )


def batch_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F1: the 25-row batch contract as a checkable plan: batch_id =
    # (rn-1) div 25, then per-batch cardinality (tail batch < 25).
    rn = F.row_number().over(Window.orderBy("o_orderkey")).cast("long")
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", ((rn - 1) / 25).cast("long").alias("batch_id"))
        .groupBy("batch_id")
        .agg(
            F.count("*").alias("batch_rows"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
    )


BATCH_ASSIGNMENT_SQL = """
WITH ids AS (
    SELECT o_orderkey,
           (row_number() OVER (ORDER BY o_orderkey) - 1) // 25 AS batch_id
    FROM orders
)
SELECT batch_id, count(*)::BIGINT AS batch_rows,
       min(o_orderkey) AS first_key, max(o_orderkey) AS last_key
FROM ids GROUP BY batch_id
"""


def pool_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P4 modulo pool index (collector.py:41-86); the seeded-pool VALUE
    # lookup is engine-side (operators.enrich.assign_from_pool) — the
    # oracle checks the deterministic index contract.
    rn = F.row_number().over(Window.orderBy("o_orderkey")).cast("long")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.pmod(rn - 1, F.lit(5000)).cast("long").alias("user_pool_idx"),
        F.pmod(rn - 1, F.lit(10000)).cast("long").alias("shop_pool_idx"),
    )


POOL_ASSIGNMENT_SQL = """
SELECT o_orderkey,
       (row_number() OVER (ORDER BY o_orderkey) - 1) % 5000 AS user_pool_idx,
       (row_number() OVER (ORDER BY o_orderkey) - 1) % 10000 AS shop_pool_idx
FROM orders
"""


# ---------------------------------------------------------------------------
# Set ops / limits / windows (U1, L2, §2.8 extension)
# ---------------------------------------------------------------------------


def union_all_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # U1 vertical union — duplicates preserved (reference extend/append).
    orders = t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderstatus") == "F")
    b = orders.where(F.col("o_totalprice") > 200000)
    return a.unionByName(b).select(
        "o_orderkey", "o_orderstatus", F.col("o_totalprice").alias("price")
    )


UNION_ALL_ORDERS_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice AS price
FROM orders WHERE o_orderstatus = 'F'
UNION ALL
SELECT o_orderkey, o_orderstatus, o_totalprice AS price
FROM orders WHERE o_totalprice > 200000
"""


def top100_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    # L2/top-k. Stored doubles are bit-identical in both engines, so raw
    # ordering + unique-key tiebreak is deterministic. Spark compiles
    # orderBy+limit to TakeOrderedAndProject (per-partition heap + merge,
    # no global sort).
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
        .orderBy(F.desc("price"), "o_orderkey")
        .limit(100)
    )


TOP100_ORDERS_SQL = """
SELECT o_orderkey, o_totalprice AS price
FROM orders ORDER BY price DESC, o_orderkey LIMIT 100
"""


def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ranking window (beyond-reference §2.8): top-3 orders per customer.
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .where(F.col("rank") <= 3)
    )


TOP3_ORDERS_PER_CUSTOMER_SQL = """
SELECT * FROM (
    SELECT o_custkey, o_orderkey, o_totalprice AS price,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rank
    FROM orders
) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# TPC-H-style analytics (scan/agg/join muscle; bench headliners)
# ---------------------------------------------------------------------------
# Exact-cents decomposition: l_extendedprice/l_discount/l_tax are
# 2-decimal, so price*(1-disc) is an exact 4-decimal integer and
# price*(1-disc)*(1+tax) an exact 6-decimal integer — long sums are exact
# (q1 charge at sf0.1: ~6e16 << 2^63) and the final divisions are
# deterministic. No float accumulation anywhere.


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    pc = cents("l_extendedprice")
    dc = cents("l_discount")          # discount in hundredths (0..100)
    tc = cents("l_tax")
    qty = F.round("l_quantity").cast("long")  # quantities are integers
    n = F.count("*")
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        qty.alias("qty"),
        pc.alias("pc"),
        (pc * (100 - dc)).alias("disc_e4"),
        (pc * (100 - dc) * (100 + tc)).alias("charge_e6"),
        dc.alias("dc"),
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        (F.sum("pc").cast("double") / 100.0).alias("sum_base_price"),
        (F.sum("disc_e4").cast("double") / 1e4).alias("sum_disc_price"),
        (F.sum("charge_e6").cast("double") / 1e6).alias("sum_charge"),
        (F.sum("qty").cast("double") / n).alias("avg_qty"),
        ((F.sum("pc").cast("double") / n) / 100.0).alias("avg_price"),
        ((F.sum("dc").cast("double") / n) / 100.0).alias("avg_disc"),
        n.alias("count_order"),
    )


TPCH_Q1_SQL = f"""
WITH li AS (
    SELECT l_returnflag, l_linestatus,
           round(l_quantity)::BIGINT AS qty,
           {cents_sql("l_extendedprice")} AS pc,
           {cents_sql("l_discount")} AS dc,
           {cents_sql("l_tax")} AS tc
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
)
SELECT l_returnflag, l_linestatus,
       sum(qty)::BIGINT AS sum_qty,
       sum(pc)::DOUBLE / 100.0 AS sum_base_price,
       sum(pc * (100 - dc))::DOUBLE / 1e4 AS sum_disc_price,
       sum(pc * (100 - dc) * (100 + tc))::DOUBLE / 1e6 AS sum_charge,
       sum(qty)::DOUBLE / count(*) AS avg_qty,
       (sum(pc)::DOUBLE / count(*)) / 100.0 AS avg_price,
       (sum(dc)::DOUBLE / count(*)) / 100.0 AS avg_disc,
       count(*)::BIGINT AS count_order
FROM li GROUP BY l_returnflag, l_linestatus
"""


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # customer (small, broadcast) ⋈ orders ⋈ lineitem; one shuffle on
    # o_orderkey for the join+agg; top-10 via TakeOrdered.
    customer = t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    disc_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg((F.sum(disc_e4).cast("double") / 1e4).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


TPCH_Q3_SQL = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority,
       sum({cents_sql("l_extendedprice")} * (100 - {cents_sql("l_discount")}))::DOUBLE / 1e4
           AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 6-table join; all dims broadcast (region/nation/customer/supplier
    # are tiny), so lineitem⋈orders is the only shuffle join.
    region = t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    customer = t(spark, sf_dir, "customer")
    supplier = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    disc_e4 = cents("l_extendedprice") * (100 - cents("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(
            F.broadcast(customer),
            (orders.o_custkey == customer.c_custkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum(disc_e4).cast("double") / 1e4).alias("revenue"))
    )


TPCH_Q5_SQL = f"""
SELECT n_name,
       sum({cents_sql("l_extendedprice")} * (100 - {cents_sql("l_discount")}))::DOUBLE / 1e4
           AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# Events (streaming-flavored semantics as batch-checkable queries)
# ---------------------------------------------------------------------------


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ST4 extension: tumbling 1h window as a batch groupBy — the streaming
    # twin (streaming/jobs.py) uses window()+watermark; same fold.
    # ts encoding is generator-dependent (ntz µs today, long ns before);
    # event_hour_str adapts (spec.py).
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            event_hour_str(ev).alias("hour"),
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(cents("value")).cast("double") / 100.0).alias("sum_value"),
            (
                (F.sum(cents("value")).cast("double") / F.count("*")) / 100.0
            ).alias("avg_value"),
        )
    )


EVENTS_HOURLY_ROLLUP_SQL = f"""
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       count(*)::BIGINT AS n_events,
       sum({cents_sql("value")})::DOUBLE / 100.0 AS sum_value,
       (sum({cents_sql("value")})::DOUBLE / count(*)) / 100.0 AS avg_value
FROM events GROUP BY 1, 2
"""


def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Sessionization via gap rule (30 min): lag + conditional count.
    # Gap arithmetic in exact integer MICROSECONDS on both engines — no
    # float near the threshold. The stateful-streaming twin is in
    # streaming/jobs.py; this is the deterministic batch formulation.
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    raw = t(spark, sf_dir, "events")
    ev = (
        raw.withColumn("ts_us", event_ts_us(raw))
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
    )
    return (
        ev.withColumn(
            "new_session",
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") > 1800 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("long").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


EVENTS_USER_SESSIONS_SQL = """
WITH g AS (
    SELECT user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY epoch_us(ts), event_id)
               AS gap_us
    FROM events
)
SELECT user_id,
       sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000 THEN 1 ELSE 0 END)::BIGINT
           AS n_sessions,
       count(*)::BIGINT AS n_events
FROM g GROUP BY user_id
"""


def events_session_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session revenue attribution: sessionize (30-min gap rule,
    same contract as events_user_sessions) and fold each session's
    purchase value — the session-grain revenue table a funnel dashboard
    joins against.

    Plan: ONE user_id shuffle serves both windows (gap flag, then the
    running session counter over the same sort), then a (user, session)
    groupBy that partial-aggregates map-side. Money in integer cents
    (spec.py float policy).
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    raw = t(spark, sf_dir, "events")
    ev = (
        raw.select(
            "user_id", "event_id", "event_type", "value",
            event_ts_us(raw).alias("ts_us"),
        )
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") > 1800 * 1_000_000), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
    )
    purchase_cents = F.when(
        F.col("event_type") == "purchase", cents("value")
    ).otherwise(F.lit(0))
    return ev.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts_us").alias("start_us"),
        F.max("ts_us").alias("end_us"),
        (F.sum(purchase_cents).cast("double") / 100.0).alias("revenue"),
    )


EVENTS_SESSION_REVENUE_SQL = f"""
WITH g AS (
    SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
    SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                       THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING
           )::BIGINT AS session_id
    FROM g
)
SELECT user_id, session_id, count(*)::BIGINT AS n_events,
       min(ts_us) AS start_us, max(ts_us) AS end_us,
       sum(CASE WHEN event_type = 'purchase'
                THEN {cents_sql('value')} ELSE 0 END)::DOUBLE / 100.0
           AS revenue
FROM s GROUP BY user_id, session_id
"""


SESSION_PATH_LEN = 3
SESSION_PATH_TOPK = 10


def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K session-opening paths: the ordered first 3 event types of
    each session (30-min gap rule shared with events_user_sessions),
    ranked by how many sessions open that way — the entry-path rollup a
    product-analytics dashboard leads with.

    Plan: the same ONE user_id shuffle serves the gap window, the
    session counter, and the within-session row_number; the path fold is
    a (user, session)-grain groupBy (map-side combined), and the global
    top-K is ``orderBy().limit()`` — Spark plans TakeOrderedAndProject,
    a per-partition partial top-K merged on the driver, never a global
    sort. Path strings are exact; counts are exact longs; ties break on
    the path string, so the K-boundary is deterministic cross-engine.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    raw = t(spark, sf_dir, "events")
    ev = (
        raw.select(
            "user_id", "event_id", "event_type",
            event_ts_us(raw).alias("ts_us"),
        )
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("gap_us").isNull()
                | (F.col("gap_us") > 1800 * 1_000_000),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("new_session")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "session_id").orderBy(
                    "ts_us", "event_id"
                )
            ),
        )
        .where(F.col("rn") <= SESSION_PATH_LEN)
    )
    paths = ev.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts_us", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(SESSION_PATH_TOPK)
    )


SESSION_PATH_TOPK_SQL = f"""
WITH g AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
), s AS (
    SELECT *, sum(CASE WHEN gap_us IS NULL OR gap_us > 1800000000
                       THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS UNBOUNDED PRECEDING
           )::BIGINT AS session_id
    FROM g
), r AS (
    SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts_us, event_id) AS rn
    FROM s
), paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts_us, event_id) AS path
    FROM r WHERE rn <= {SESSION_PATH_LEN}
    GROUP BY user_id, session_id
)
SELECT path, count(*)::BIGINT AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT {SESSION_PATH_TOPK}
"""


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # JSON path extraction from the props column (semi-structured scan).
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        t(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.sum(F.when(F.col("k") > 50, 1).otherwise(0)).alias("n_big_k"),
        )
    )


EVENTS_PROPS_EXTRACT_SQL = """
SELECT event_type, count(*)::BIGINT AS n_events,
       sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
       sum(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
                THEN 1 ELSE 0 END)::BIGINT AS n_big_k
FROM events GROUP BY event_type
"""


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every unordered pair of parts
    bought in the same order, how many orders contain both — the input
    to "frequently bought together" recommenders.

    Plan: ONE shuffle on ``l_orderkey`` (groupBy + collect_set), then
    in-basket pair expansion — the same no-self-join bucket-pairing
    shape as the LSH dedup plans, via the codegen posexplode+slice
    helper (``unordered_pair_rows``, optimization r15 — the old
    transform×transform HOF ran interpreted). Baskets are small (≤ a
    few dozen parts), so per-group expansion is O(basket²) tiny; a
    self-join on orderkey would shuffle the table twice and hit the
    same pairs. The count groupBy shuffles only pair rows.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.collect_set("l_partkey").alias("parts")
    )
    return (
        unordered_pair_rows(baskets, "parts", "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
    )


COPURCHASE_PAIRS_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       count(*)::BIGINT AS n_orders
FROM d a JOIN d b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph (iterative, exact fixed-point)
# ---------------------------------------------------------------------------

PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 2
PAGERANK_TOP_K = 20
_PR_GRID = 1_000_000   # micro-rank units: exact long mass accumulation


def _pr_round(
    edges: DataFrame, ndeg: DataFrame, ranks: DataFrame, teleport
) -> DataFrame:
    """ONE PageRank round (route mass along edges, damped node update)
    — the pre-checkpoint round body, shared by the iteration loop and
    the plan-audit probe (plans/probes.py) so the audited shape IS the
    executed shape. shuffle_hash hints per the AQE-broadcast-OOM note
    in :func:`copurchase_pagerank`.

    ``wdeg`` RIDES the ranks frame (optimization r16): each round's
    output is built from ``ndeg`` anyway (it is the node table), so
    emitting the static per-node out-degree alongside ``r`` costs one
    pinned long per node and deletes the per-round node-grain
    ranks ⋈ ndeg attach join the r15 shape still paid (2 ShuffledHashJoin
    per round → 1; the r14 shape before that attached degrees at EDGE
    grain — a 2.2M-row join per round). ``round(r·w/wdeg)`` sees
    identical operands in every shape, so every routed-mass long is
    unchanged."""
    contribs = edges.join(
        ranks.hint("shuffle_hash"), edges["src"] == ranks["node"]
    ).select(
        "dst",
        F.round(F.col("r") * F.col("w") / F.col("wdeg"), 0)
        .cast("long")
        .alias("c"),
    )
    insum = contribs.groupBy("dst").agg(F.sum("c").alias("m"))
    return (
        ndeg.join(
            insum.hint("shuffle_hash"),
            ndeg["nsrc"] == insum["dst"],
            "left",
        )
        .select(
            F.col("nsrc").alias("node"),
            (
                teleport
                + F.round(
                    F.lit(PAGERANK_DAMPING) * F.coalesce("m", F.lit(0)),
                    0,
                ).cast("long")
            ).alias("r"),
            "wdeg",
        )
    )


def copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the co-purchase graph (edges =
    ``copurchase_pairs``, both directions, weight = co-order count):
    the product-centrality score behind "customers also buy" ranking.

    Iterative-determinism contract (same discipline as
    ``kmeans_lloyd_clusters``): rank mass lives in micro-units LONGS.
    Per edge, the routed mass ``round(r*w/W)`` rounds ONCE on identical
    operands in both engines (degree W stays an exact long — a double
    degree would be accumulation-order-dependent); per node the damped
    update ``round(0.15e6/N) + round(0.85*Σ)`` rounds once more. All
    sums are associative long sums → identical ranks under any
    partitioning, micro-exact across engines — no float tolerance in
    the gate.

    Plan: edges + degrees build once (cached pre-partitioned on the
    node key — part-grain, tiny next to lineitem) with ONE l_orderkey
    shuffle from the basket expansion; each iteration is an edges⋈ranks
    hash join on ``src`` plus a ``dst`` partial-agg. Both per-round
    joins read co-partitioned cached sides, so the only per-round
    exchange is the edge-grain contribs agg — the canonical
    distributed-PageRank shape (see the pin-layout note in the body).
    Top-K via TakeOrderedAndProject; ``node`` breaks exact rank ties.
    """
    pairs = copurchase_pairs(spark, sf_dir)
    edges = (
        pairs.select(
            F.col("part_a").alias("src"),
            F.col("part_b").alias("dst"),
            F.col("n_orders").alias("w"),
        )
        .unionByName(
            pairs.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
                F.col("n_orders").alias("w"),
            )
        )
    )
    # shuffle_hash hints on every node-grain side: Catalyst cannot
    # estimate the post-expansion edge list (observed: AQE broadcast the
    # 2M-row sf0.1 edge side and OOM'd the driver build), and at cluster
    # scale the node dimension itself outgrows a broadcast. Node-keyed
    # shuffle joins are the canonical distributed-PageRank shape.
    #
    # Pin layout (optimization r16, correcting the r15 claim): the
    # SYMMETRIZED edge list pins pre-partitioned on ``src`` via
    # .persist(), NOT localCheckpoint — a checkpointed frame comes back
    # as a LogicalRDD reporting UnknownPartitioning under AQE (measured:
    # every executed round re-exchanged edges AND ndeg, 4 exchanges +
    # 2 ShuffledHashJoin rebuilds per round, at any scale), while a
    # cached plan KEEPS its hashpartitioning because
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
    # defaults false. With edges/ndeg/each round's ranks all cached on
    # their node key, the routing join and the damped-update join are
    # co-partitioned on BOTH sides and the only per-round exchange left
    # is the inherent edge-grain contribs groupBy(dst) (measured: 4
    # exchanges -> 1 per executed round). Persist is safe here where
    # the CC/BPE loops need true lineage truncation: PAGERANK_ITERS is
    # a fixed 2, so the logical plan grows linearly over two rounds,
    # and a lost executor recovers cached partitions via lineage.
    # Node-grain ``ndeg`` (one exchange-free agg off the pinned edges)
    # serves as degree table AND node table (``groupBy src`` emits each
    # node exactly once), and the ranks frame carries ``wdeg`` so each
    # round reads ndeg exactly once — see _pr_round.
    edges = edges.repartition("src").persist()
    ndeg = (
        edges.groupBy("src").agg(F.sum("w").alias("wdeg")).select(
            F.col("src").alias("nsrc"), "wdeg"
        )
    ).persist()
    n_nodes = ndeg.count()  # O(1) driver scalar; materializes both pins

    init = F.round(F.lit(float(_PR_GRID)) / F.lit(n_nodes), 0).cast("long")
    teleport = F.round(
        F.lit((1.0 - PAGERANK_DAMPING) * _PR_GRID) / F.lit(n_nodes), 0
    ).cast("long")
    # ranks carry the static wdeg (optimization r16, see _pr_round):
    # one extra pinned long per node buys a join-free routing round.
    ranks = ndeg.select(
        F.col("nsrc").alias("node"), init.alias("r"), "wdeg"
    )
    for _ in range(PAGERANK_ITERS):
        # persist, not checkpoint: keeps hashpartitioning(node) visible
        # to the next round's routing join (see the pin-layout note)
        ranks = _pr_round(edges, ndeg, ranks, teleport).persist()
    return (
        ranks.select(
            F.col("node").alias("part_key"),
            F.col("r").alias("rank_micro"),
            (F.col("r").cast("double") / F.lit(float(_PR_GRID))).alias(
                "rank"
            ),
        )
        .orderBy(F.desc("rank_micro"), "part_key")
        .limit(PAGERANK_TOP_K)
    )


def _pr_sql() -> str:
    def step(prev: str, out: str) -> str:
        return f"""
c_{out} AS (
    SELECT e.dst, sum(round(p.r * e.w / e.wdeg)::BIGINT)::BIGINT AS m
    FROM ew e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst
),
{out} AS (
    SELECT n.node,
           (round({(1.0 - PAGERANK_DAMPING) * _PR_GRID} / nn.n)::BIGINT
            + round({PAGERANK_DAMPING} * coalesce(c.m, 0))::BIGINT) AS r
    FROM nodes n CROSS JOIN nn LEFT JOIN c_{out} c ON n.node = c.dst
)"""

    return f"""
WITH pairs AS ({COPURCHASE_PAIRS_SQL}),
edges AS (
    SELECT part_a AS src, part_b AS dst, n_orders AS w FROM pairs
    UNION ALL
    SELECT part_b, part_a, n_orders FROM pairs
),
deg AS (SELECT src, sum(w)::BIGINT AS wdeg FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, e.w, d.wdeg FROM edges e JOIN deg d USING (src)),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
r0 AS (
    SELECT node, round({float(_PR_GRID)} / nn.n)::BIGINT AS r
    FROM nodes CROSS JOIN nn
),
{step("r0", "r1")},
{step("r1", "r2")}
SELECT node AS part_key, r AS rank_micro,
       r::DOUBLE / {float(_PR_GRID)} AS rank
FROM r2
ORDER BY rank_micro DESC, part_key
LIMIT {PAGERANK_TOP_K}
"""


COPURCHASE_PAGERANK_SQL = _pr_sql()


def salted_distinct_quantities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase hot-key ``collect_set`` under the oracle gate:
    ``l_returnflag`` has only 3 values, so a plain
    ``groupBy.agg(collect_set)`` funnels ~a third of the table through
    ONE reduce task — the canonical skew pathology. ``salted_collect_set``
    (functions/skew.py) assembles each hot key's set from 8 salted
    partials instead; the salting must be invisible in the result.

    Emits order-insensitive scalars of the set (count/min/max/sum —
    quantities are integer-valued doubles, so the sum is exact in any
    order), proving set semantics without hashing raw arrays.
    """
    from ..functions.skew import salted_collect_set

    sets = salted_collect_set(
        t(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity"),
        "l_returnflag",
        "l_quantity",
        buckets=8,
    )
    s = F.col("l_quantity_set")
    return sets.select(
        "l_returnflag",
        F.size(s).cast("long").alias("n_distinct_qty"),
        F.array_min(s).alias("min_qty"),
        F.array_max(s).alias("max_qty"),
        F.aggregate(s, F.lit(0.0), lambda acc, x: acc + x).alias("sum_distinct_qty"),
    )


SALTED_DISTINCT_QUANTITIES_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_quantity)::BIGINT AS n_distinct_qty,
       min(l_quantity) AS min_qty,
       max(l_quantity) AS max_qty,
       sum(DISTINCT l_quantity)::DOUBLE AS sum_distinct_qty
FROM lineitem GROUP BY l_returnflag
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: a user counts
    at each stage only if the stage event happens STRICTLY AFTER their
    entry into the previous stage (classic product-analytics funnel, an
    operator family the reference lacks entirely).

    Plan: ONE shuffle on ``user_id``, then the three stage times as
    successive whole-partition window minimums over the same partition
    (no joins — each stage's condition references the previous stage's
    window column): first-view time, first click after it, first
    purchase after that. A per-user contraction then a global fold.
    Output is the single global funnel row (stage counts + exact-ratio
    conversion rates), so the result never grows with data.
    """
    raw = t(spark, sf_dir, "events")
    ev = raw.select(
        "user_id", "event_type", event_ts_us(raw).alias("ts_us")
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t1",
            F.min(F.when(F.col("event_type") == "view", F.col("ts_us"))).over(w),
        )
        .withColumn(
            "t2",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts_us") > F.col("t1")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts_us") > F.col("t2")),
                    F.col("ts_us"),
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    n1 = F.sum(F.when(F.col("t1").isNotNull(), 1).otherwise(0)).cast("long")
    n2 = F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0)).cast("long")
    n3 = F.sum(F.when(F.col("t3").isNotNull(), 1).otherwise(0)).cast("long")
    return per_user.agg(
        n1.alias("n_view"),
        n2.alias("n_click_after_view"),
        n3.alias("n_purchase_after_click"),
        (n2.cast("double") / n1).alias("view_to_click"),
        (n3.cast("double") / n2).alias("click_to_purchase"),
    )


EVENTS_FUNNEL_SQL = """
WITH ev AS (
    SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
),
s1 AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
    FROM ev GROUP BY user_id
),
s2 AS (
    SELECT ev.user_id,
           min(CASE WHEN event_type = 'click' AND ts_us > t1 THEN ts_us END) AS t2
    FROM ev JOIN s1 ON ev.user_id = s1.user_id GROUP BY ev.user_id
),
s3 AS (
    SELECT ev.user_id,
           min(CASE WHEN event_type = 'purchase' AND ts_us > t2 THEN ts_us END) AS t3
    FROM ev JOIN s2 ON ev.user_id = s2.user_id GROUP BY ev.user_id
)
SELECT sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_view,
       sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_click_after_view,
       sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_purchase_after_click,
       sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
           / sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS view_to_click,
       sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
           / sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS click_to_purchase
FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention: users grouped by first-activity date, and
    for each day offset the count still active — the (cohort × offset)
    retention matrix every growth dashboard is built on.

    Plan: distinct (user, date) activity pairs (one shuffle), first-date
    per user (same key, exchange reused), one join back, one matrix
    groupBy. Output is |cohorts| × |offsets| rows — date-bounded, not
    data-bounded.
    """
    raw = t(spark, sf_dir, "events")
    active = (
        raw.select("user_id", event_date(raw).alias("d")).distinct()
    )
    first = active.groupBy("user_id").agg(F.min("d").alias("cohort_date"))
    return (
        active.join(first, "user_id")
        .select(
            "cohort_date",
            F.datediff(F.col("d"), F.col("cohort_date")).alias("day_offset"),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


RETENTION_COHORTS_SQL = """
WITH active AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
first AS (
    SELECT user_id, min(d) AS cohort_date FROM active GROUP BY user_id
)
SELECT cohort_date, (d - cohort_date)::INT AS day_offset,
       count(*)::BIGINT AS n_active
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
"""


def salted_skew_join_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue through :func:`salted_join` — the skew-safe join
    path (functions/skew.py) under the oracle gate: salting + right-side
    replication must be invisible in the result. Money aggregated in
    integer cents (spec.py float policy)."""
    from ..functions.skew import salted_join

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = t(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        salted_join(li, part, "l_partkey", buckets=4)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("revenue"),
        )
    )


SALTED_SKEW_JOIN_SQL = """
SELECT p_brand, count(*)::BIGINT AS n_items,
       sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def bloom_pruned_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand revenue of a selective part slice (~2% of parts), with
    the FACT SCAN pre-pruned by the explicit Bloom runtime filter
    (operators/bloom.py) built from the filtered dimension keys — the
    pruning must be invisible in the result (no false negatives; false
    positives die in the real join), which is exactly what the oracle
    gate proves. At 100 TB this is the shape where the dimension slice
    is too large to broadcast as raw keys but its ~10-bits-per-key
    bitset is not: ~98% of fact rows never reach the join exchange.
    Money in integer cents (spec.py float policy)."""
    from ..operators.bloom import bloom_semi_prune

    part_f = t(spark, sf_dir, "part").where(F.col("p_size") == 1).select(
        "p_partkey", "p_brand"
    )
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pruned = bloom_semi_prune(li, "l_partkey", part_f, "p_partkey")
    return (
        pruned.join(part_f, pruned["l_partkey"] == part_f["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("revenue"),
        )
    )


BLOOM_PRUNED_PART_REVENUE_SQL = """
SELECT p_brand, count(*)::BIGINT AS n_items,
       sum(l_quantity)::BIGINT AS sum_qty,
       sum(round(l_extendedprice * 100)::BIGINT) / 100.0 AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 1
GROUP BY p_brand
"""


WAU_DAYS = 7
MAU_DAYS = 28


def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DAU / WAU / MAU per day over a dense day spine — the
    active-user strip at the top of every product dashboard, with
    missing days reading 0.

    Plan: activity contracts FIRST to distinct (user, day) — at 100 TB
    of events that's the frame that moves, not events — then each
    activity row fans out to the ≤MAU_DAYS spine days whose trailing
    window contains it (broadcast day-spine band join, bounded
    fan-out — the range_join pattern at day grain) and one groupBy(day)
    computes all three distinct counts conditionally (Spark plans the
    multi-distinct agg via a single Expand). Exact by construction;
    the sketch swap at extreme scale is per-day HLL unions
    (approx_distinct_customers shows the verified-bound pattern).
    """
    ev = t(spark, sf_dir, "events")
    # cached (optimization r16): the distinct (user, day) contraction
    # feeds the spine bounds AND the band join, and the spine is read
    # again by the final zero-fill — as bare references each re-ran the
    # events scan + distinct (census: 3 executing scans).
    activity = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", event_date(ev).alias("act_date"))
        .distinct()
        .transform(pin)
    )
    bounds = activity.agg(
        F.min("act_date").alias("min_d"), F.max("act_date").alias("max_d")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("min_d", "max_d", F.expr("interval 1 day"))
        ).alias("day")
    )
    # INNER join with the broadcast spine (activity streams, spine
    # builds — an outer join here would force the big side onto the
    # build), then zero-fill empty days by LEFT-joining the day-grain
    # aggregate back onto the spine — the gapfill pattern.
    joined = activity.join(
        F.broadcast(spine),
        (F.col("act_date") <= F.col("day"))
        & (F.col("act_date") > F.date_sub(F.col("day"), MAU_DAYS)),
    )
    per_day = joined.groupBy("day").agg(
        F.count_distinct(
            F.when(F.col("act_date") == F.col("day"), F.col("user_id"))
        ).alias("dau"),
        F.count_distinct(
            F.when(
                F.col("act_date") > F.date_sub(F.col("day"), WAU_DAYS),
                F.col("user_id"),
            )
        ).alias("wau"),
        F.count_distinct("user_id").alias("mau"),
    )
    return spine.join(per_day, "day", "left").select(
        "day",
        F.coalesce("dau", F.lit(0)).alias("dau"),
        F.coalesce("wau", F.lit(0)).alias("wau"),
        F.coalesce("mau", F.lit(0)).alias("mau"),
    )


EVENTS_ACTIVE_USERS_SQL = f"""
WITH activity AS (
    SELECT DISTINCT user_id, ts::DATE AS act_date
    FROM events WHERE user_id IS NOT NULL
),
bounds AS (SELECT min(act_date) AS min_d, max(act_date) AS max_d
           FROM activity),
spine AS (
    SELECT unnest(generate_series(min_d, max_d, INTERVAL 1 DAY))::DATE
        AS day
    FROM bounds
),
per_day AS (
    SELECT s.day,
           count(DISTINCT CASE WHEN a.act_date = s.day
                               THEN a.user_id END)::BIGINT AS dau,
           count(DISTINCT CASE WHEN a.act_date > s.day - {WAU_DAYS}
                               THEN a.user_id END)::BIGINT AS wau,
           count(DISTINCT a.user_id)::BIGINT AS mau
    FROM activity a
    JOIN spine s ON a.act_date <= s.day AND a.act_date > s.day - {MAU_DAYS}
    GROUP BY s.day
)
SELECT s.day,
       coalesce(p.dau, 0)::BIGINT AS dau,
       coalesce(p.wau, 0)::BIGINT AS wau,
       coalesce(p.mau, 0)::BIGINT AS mau
FROM spine s LEFT JOIN per_day p USING (day)
"""


def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series resampling: the hourly rollup joined onto a
    COMPLETE hour × event-type spine, zero-filling hours with no events
    — the gap-filling step every downstream forecaster/alerting system
    needs (a missing hour must read as 0, not as an absent row), and an
    operator Spark has no native verb for.

    Plan: the spine derives from a 1-row (min, max) hour-index
    aggregate exploded through ``sequence`` and cross-joined with the
    distinct event types — ALL dimension-sized frames (hours × types),
    joined LEFT against the already-aggregated rollup, which is itself
    O(hours × types). The corpus-scale work is exactly the rollup's one
    exchange; the gap-fill adds only tiny-frame joins. Hour strings are
    rebuilt from the integer hour index with pure date arithmetic
    (date_add from epoch + lpad), timezone-independent in both engines.
    """
    ev = t(spark, sf_dir, "events")
    us = ev.select(event_ts_us(ev).alias("us"))
    bounds = us.agg(
        F.expr("min(us DIV 3600000000)").alias("min_h"),
        F.expr("max(us DIV 3600000000)").alias("max_h"),
    )
    spine = bounds.select(
        F.explode(F.sequence("min_h", "max_h")).alias("h")
    )
    types = (
        ev.where(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
    )
    hour_str = F.concat(
        F.date_format(
            F.date_add(
                F.lit("1970-01-01").cast("date"),
                F.expr("CAST(h DIV 24 AS INT)"),
            ),
            "yyyy-MM-dd",
        ),
        F.lit(" "),
        F.lpad(F.pmod(F.col("h"), F.lit(24)).cast("string"), 2, "0"),
        F.lit(":00:00"),
    )
    grid = spine.crossJoin(types).select(
        hour_str.alias("hour"), "event_type"
    )
    roll = events_hourly_rollup(spark, sf_dir).select(
        "hour", "event_type", "n_events", "sum_value"
    )
    return grid.join(roll, ["hour", "event_type"], "left").select(
        "hour",
        "event_type",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


EVENTS_HOURLY_GAPFILL_SQL = f"""
WITH r AS ({EVENTS_HOURLY_ROLLUP_SQL}),
b AS (
    SELECT min(epoch_us(ts) // 3600000000) AS min_h,
           max(epoch_us(ts) // 3600000000) AS max_h
    FROM events
),
spine AS (SELECT unnest(range(min_h, max_h + 1)) AS h FROM b),
types AS (SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL),
grid AS (
    SELECT strftime(DATE '1970-01-01' + (h // 24)::INT, '%Y-%m-%d')
               || ' ' || lpad((h % 24)::VARCHAR, 2, '0') || ':00:00' AS hour,
           t.event_type
    FROM spine s CROSS JOIN types t
)
SELECT g.hour, g.event_type,
       coalesce(r.n_events, 0)::BIGINT AS n_events,
       coalesce(r.sum_value, 0.0)::DOUBLE AS sum_value
FROM grid g LEFT JOIN r ON r.hour = g.hour AND r.event_type = g.event_type
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix: counts of consecutive
    (prev_event → next_event) pairs within each user's event-time
    stream — the Markov-chain input behind path analysis and funnel
    discovery (which transitions actually happen, vs the funnel's
    assumed view→click→purchase ordering).

    Plan: ONE shuffle on ``user_id`` (high-cardinality key — no
    low-cardinality window hazard) for the lag, then a tiny
    (|event_types|²)-group aggregation with map-side combine. Ordering
    is the same total (ts_us, event_id) key as the sessionization
    family, so the matrix is deterministic cross-engine.
    """
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    raw = t(spark, sf_dir, "events")
    ev = raw.select(
        "user_id", "event_id", "event_type", event_ts_us(raw).alias("ts_us")
    ).withColumn("prev_event", F.lag("event_type").over(w))
    return (
        ev.where(F.col("prev_event").isNotNull())
        .groupBy("prev_event", F.col("event_type").alias("next_event"))
        .agg(F.count("*").alias("n_transitions"))
    )


EVENTS_TRANSITION_MATRIX_SQL = """
WITH g AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id
                                 ORDER BY epoch_us(ts), event_id)
               AS prev_event
    FROM events
)
SELECT prev_event, event_type AS next_event, count(*)::BIGINT AS n_transitions
FROM g WHERE prev_event IS NOT NULL
GROUP BY 1, 2
"""


RELATIONAL_SPECS = [
    QuerySpec("user_kpis", user_kpis, USER_KPIS_SQL, ("A2", "A4", "C1", "C2", "A5")),
    QuerySpec("shop_kpis", shop_kpis, SHOP_KPIS_SQL, ("A1", "A4", "C1", "C2")),
    QuerySpec("date_kpis", date_kpis, DATE_KPIS_SQL, ("A3", "C7")),
    QuerySpec(
        "gold_enrichment_join",
        gold_enrichment_join,
        GOLD_ENRICHMENT_JOIN_SQL,
        ("J1", "F8"),
    ),
    QuerySpec(
        "customers_without_orders",
        customers_without_orders,
        CUSTOMERS_WITHOUT_ORDERS_SQL,
        ("J4", "P8"),
    ),
    QuerySpec(
        "acctbal_minmax_normalized",
        acctbal_minmax_normalized,
        ACCTBAL_MINMAX_NORMALIZED_SQL,
        ("C2", "A5"),
    ),
    QuerySpec("item_id_assignment", item_id_assignment, ITEM_ID_ASSIGNMENT_SQL, ("P3",)),
    QuerySpec(
        "item_id_assignment_ranged",
        item_id_assignment_ranged,
        ITEM_ID_ASSIGNMENT_SQL,
        ("P3", "scale-two-pass"),
    ),
    QuerySpec("batch_assignment", batch_assignment, BATCH_ASSIGNMENT_SQL, ("F1",)),
    QuerySpec("pool_assignment", pool_assignment, POOL_ASSIGNMENT_SQL, ("P4",)),
    QuerySpec("union_all_orders", union_all_orders, UNION_ALL_ORDERS_SQL, ("U1",)),
    QuerySpec("top100_orders", top100_orders, TOP100_ORDERS_SQL, ("L2",)),
    QuerySpec(
        "top3_orders_per_customer",
        top3_orders_per_customer,
        TOP3_ORDERS_PER_CUSTOMER_SQL,
        ("window-rank",),
    ),
    QuerySpec("tpch_q1_pricing_summary", tpch_q1_pricing_summary, TPCH_Q1_SQL, ("A1-A5",)),
    QuerySpec("tpch_q3_shipping_priority", tpch_q3_shipping_priority, TPCH_Q3_SQL, ("J1", "L2")),
    QuerySpec("tpch_q5_local_supplier_volume", tpch_q5_local_supplier_volume, TPCH_Q5_SQL, ("J1",)),
    QuerySpec("events_hourly_rollup", events_hourly_rollup, EVENTS_HOURLY_ROLLUP_SQL, ("ST4",)),
    QuerySpec("events_user_sessions", events_user_sessions, EVENTS_USER_SESSIONS_SQL, ("ST4", "window")),
    QuerySpec("events_props_extract", events_props_extract, EVENTS_PROPS_EXTRACT_SQL, ("semi-structured",)),
    QuerySpec("events_funnel", events_funnel, EVENTS_FUNNEL_SQL, ("funnel",)),
    QuerySpec(
        "events_session_revenue",
        events_session_revenue,
        EVENTS_SESSION_REVENUE_SQL,
        ("session-revenue",),
    ),
    QuerySpec(
        "events_transition_matrix",
        events_transition_matrix,
        EVENTS_TRANSITION_MATRIX_SQL,
        ("path-analysis",),
    ),
    QuerySpec(
        "session_path_topk",
        session_path_topk,
        SESSION_PATH_TOPK_SQL,
        ("path-analysis-topk",),
    ),
    QuerySpec(
        "copurchase_pagerank",
        copurchase_pagerank,
        COPURCHASE_PAGERANK_SQL,
        ("graph-pagerank-iterative",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "events_active_users",
        events_active_users,
        EVENTS_ACTIVE_USERS_SQL,
        ("dau-wau-mau",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "events_hourly_gapfill",
        events_hourly_gapfill,
        EVENTS_HOURLY_GAPFILL_SQL,
        ("timeseries-gapfill",),
    ),
    QuerySpec(
        "salted_distinct_quantities",
        salted_distinct_quantities,
        SALTED_DISTINCT_QUANTITIES_SQL,
        ("skew-two-phase-agg",),
    ),
    QuerySpec(
        "copurchase_pairs",
        copurchase_pairs,
        COPURCHASE_PAIRS_SQL,
        ("market-basket",),
    ),
    QuerySpec("retention_cohorts", retention_cohorts, RETENTION_COHORTS_SQL, ("cohort-retention",)),
    QuerySpec(
        "salted_skew_join_brand_revenue",
        salted_skew_join_brand_revenue,
        SALTED_SKEW_JOIN_SQL,
        ("skew-salted-join",),
    ),
    QuerySpec(
        "bloom_pruned_part_revenue",
        bloom_pruned_part_revenue,
        BLOOM_PRUNED_PART_REVENUE_SQL,
        ("bloom-runtime-filter",),
        touched_round=8,
    ),
]
