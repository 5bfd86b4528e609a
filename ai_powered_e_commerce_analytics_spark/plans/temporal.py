"""Temporal join operators: as-of join and bounded range join.

Spark has no ASOF JOIN or INTERVAL JOIN operator; both are re-expressed
here in their scalable DataFrame forms over the events table (the
reference has no temporal joins at all — SURVEY.md §2.3 — so these are
north-star training-pipeline operators, oracle-gated like everything
else):

- **as-of join** (`asof_last_click_before_purchase`): the union+window
  form — interleave both sides into one frame, one window pass with
  `last(..., ignorenulls=True)` carries the most recent left-side
  attributes forward. ONE shuffle on the partition key, no join at all,
  no per-row probing. This is the canonical distributed as-of plan
  (point lookups against the latest-prior row).

- **range join** (`range_join_clicks_before_purchase`): equi-bucketed
  band join — quantize the time axis into buckets the width of the band
  (1 h), join on (user, bucket) with each probe row exploded to the two
  candidate buckets, then apply the exact range residual. Turns an
  O(n·m)-per-key interval join into an equi-join Spark executes as a
  plain shuffled hash join.

Scale notes (100 TB):
- Both plans shuffle each input exactly once on (user_id [, bucket]).
  Per-user data is tiny (no giant-key risk here; a hot key would take
  the salting path in functions/skew.py).
- The bucketed range join's fan-out is exactly 2× the probe side —
  independent of data volume — and the bucket width equals the band, so
  every candidate pair lands in at most one matching bucket pair.
- The events timestamp is normalized to exact integer MICROSECONDS at
  the scan by spec.event_ts_us — adaptive to the generator's encoding
  (TIMESTAMP_NTZ today, int64 ns in earlier rounds) and session-
  timezone-independent — so all ordering/band membership is computed in
  the same µs domain in BOTH engines (DuckDB via epoch_us), and µs
  longs survive nullable pandas float64 round-trips exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.core import share
from .spec import QuerySpec, cents, cents_sql, event_ts_us, t

_HOUR_US = 3_600_000_000


def asof_last_click_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """For every purchase, the user's most recent click at-or-before it.

    Union+window as-of: clicks and purchases interleave in one ordered
    window per user; `last(click_attr, ignorenulls)` over rows-unbounded-
    preceding carries the latest click forward onto each purchase row.
    Ties on ts (none in the data, but contract anyway) order clicks
    BEFORE purchases so an exactly-simultaneous click is visible.

    Timestamps are truncated to µs at the scan (see module docstring);
    data is unique per user at µs grain, so the as-of order is total.
    """
    raw = t(spark, sf_dir, "events")
    ev = (
        raw.where(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            event_ts_us(raw).alias("ts_us"),
            "event_id",
            "event_type",
            "value",
        )
    )
    is_purchase = (F.col("event_type") == "purchase").cast("int")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", is_purchase, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_value = F.when(F.col("event_type") == "click", F.col("value"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    return (
        ev.withColumn(
            "last_click_value", F.last(click_value, ignorenulls=True).over(w)
        )
        .withColumn(
            "last_click_ts_us", F.last(click_ts, ignorenulls=True).over(w)
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "ts_us", "last_click_ts_us",
            "last_click_value",
        )
    )


ASOF_LAST_CLICK_SQL = """
WITH ev AS (
    SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
    FROM events WHERE event_type IN ('click', 'purchase')
)
SELECT event_id, user_id, ts_us, last_click_ts_us, last_click_value
FROM (
    SELECT *,
        last_value(CASE WHEN event_type = 'click' THEN value END
                   IGNORE NULLS) OVER w AS last_click_value,
        last_value(CASE WHEN event_type = 'click' THEN ts_us END
                   IGNORE NULLS) OVER w AS last_click_ts_us
    FROM ev
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts_us, (event_type = 'purchase'), event_id
                 ROWS UNBOUNDED PRECEDING)
)
WHERE event_type = 'purchase'
"""


def range_join_clicks_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per purchase: count + value of the user's clicks in the prior hour.

    Band predicate c_ts ∈ [p_ts − 1h, p_ts) via hour-bucket equi-join:
    each purchase probes its own bucket and the previous one (explode
    ×2), each click sits in exactly one bucket, the residual applies the
    exact bounds. Left join keeps zero-click purchases (n_clicks = 0).
    """
    ev = t(spark, sf_dir, "events")
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id", event_ts_us(ev).alias("p_ts"), "event_id"
        )
        .withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.expr(f"p_ts DIV {_HOUR_US} - 1"),
                    F.expr(f"p_ts DIV {_HOUR_US}"),
                )
            ),
        )
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            event_ts_us(ev).alias("c_ts"),
            cents("value").alias("c_value_c"),
        )
        .withColumn("bucket", F.expr(f"c_ts DIV {_HOUR_US}"))
    )
    j = purchases.join(
        clicks,
        (purchases.user_id == clicks.c_user)
        & (purchases.bucket == clicks.bucket)
        & (clicks.c_ts >= purchases.p_ts - _HOUR_US)
        & (clicks.c_ts < purchases.p_ts),
        "left",
    )
    return j.groupBy("event_id", "user_id", "p_ts").agg(
        F.count("c_ts").alias("n_clicks"),
        (
            F.coalesce(F.sum("c_value_c"), F.lit(0)).cast("double") / 100.0
        ).alias("clicks_value"),
    ).select(
        "event_id",
        "user_id",
        F.col("p_ts").alias("ts_us"),
        "n_clicks",
        "clicks_value",
    )


RANGE_JOIN_CLICKS_SQL = f"""
SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
       count(c.ts)::BIGINT AS n_clicks,
       coalesce(sum({cents_sql('c.value')}), 0)::DOUBLE / 100.0
           AS clicks_value
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id, p.ts
"""


_DEDUP_WINDOW_US = 4 * _HOUR_US   # debounce horizon (telemetry dedup)


def events_dedup_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce: an event is suppressed when the SAME
    (user_id, event_type) emitted an event less than 4 h earlier — the
    batch twin of the streaming ``dropDuplicatesWithinWatermark``
    family (streaming/jobs.py): at compaction time the corpus re-runs
    this exact rule, so stream and batch share the dedup contract.

    Rule: gap to the immediately PREVIOUS raw event (lag), not to the
    previous surviving event — one window pass, no iteration, and the
    same decision every engine makes from the sorted sequence. Emits
    every event with its gap and the verdict so the drop is auditable.

    Scale: the window partitions by (user_id, event_type) — key
    cardinality grows WITH the data (users × types), so partitions stay
    small at any scale; this is the high-cardinality-safe window shape
    (contrast the per-source low-cardinality windows in sampling.py,
    which need the two-pass contraction).
    """
    ev = t(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "event_type", event_ts_us(ev).alias("ts_us")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_us", "event_id"
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    return base.withColumn("gap_us", gap).withColumn(
        "kept",
        F.coalesce(F.col("gap_us") >= _DEDUP_WINDOW_US, F.lit(True)),
    )


EVENTS_DEDUP_WITHIN_WINDOW_SQL = f"""
SELECT event_id, user_id, event_type, ts_us,
       ts_us - lag(ts_us) OVER w AS gap_us,
       coalesce(ts_us - lag(ts_us) OVER w >= {_DEDUP_WINDOW_US}, TRUE)
           AS kept
FROM (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      FROM events)
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts_us, event_id)
"""


def events_dwell_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time distribution per event type: exact p50/p90/p99 (plus
    count and mean) of the µs gap from the user's PREVIOUS event to
    this one — the engagement-latency card attributed to the event that
    ENDED the dwell.

    Plan: ONE user_id window computes the lag gap (high-cardinality
    key; µs order is total per user — module docstring), then the
    percentiles come from :func:`exact_percentiles_scalable`
    (plans/quantiles.py — distributed order statistics, NO
    full-value-map ``percentile`` aggregate even though an event type's
    gap population is corpus-order at 100 TB; gap values contract hard:
    distinct µs gaps ≪ events). Mean is an exact-integer ratio (float
    policy: emit raw); percentiles round(…,6) like every interpolated
    value.
    """
    from .quantiles import exact_percentiles_scalable

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        ev.select(
            "user_id", "event_id", "event_type", event_ts_us(ev).alias("ts_us")
        )
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .where(F.col("gap_us").isNotNull())
        # eager localCheckpoint: the gap frame feeds the stats agg AND
        # the percentile pass — one events scan + one user window.
        .transform(share, "checkpoint")
    )
    stats = gaps.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        (F.sum("gap_us").cast("double") / F.count("*")).alias("mean_gap_us"),
    )
    pcts = exact_percentiles_scalable(
        gaps, "gap_us", (0.5, 0.9, 0.99), ("__p50", "__p90", "__p99"),
        ("event_type",),
    ).select(
        "event_type",
        *[
            F.round(F.col(f"__p{p}"), 6).alias(f"p{p}_gap_us")
            for p in (50, 90, 99)
        ],
    )
    return stats.join(F.broadcast(pcts), "event_type").select(
        "event_type", "n_gaps", "p50_gap_us", "p90_gap_us", "p99_gap_us",
        "mean_gap_us",
    )


EVENTS_DWELL_PERCENTILES_SQL = """
WITH g AS (
    SELECT event_type,
           epoch_us(ts) - lag(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
               AS gap_us
    FROM events
)
SELECT event_type, count(*)::BIGINT AS n_gaps,
       round(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us,
       round(quantile_cont(gap_us, 0.9), 6) AS p90_gap_us,
       round(quantile_cont(gap_us, 0.99), 6) AS p99_gap_us,
       sum(gap_us)::DOUBLE / count(*) AS mean_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


TEMPORAL_SPECS = [
    QuerySpec("asof_last_click_before_purchase",
              asof_last_click_before_purchase,
              ASOF_LAST_CLICK_SQL, ("asof-join-union-window",)),
    QuerySpec("range_join_clicks_before_purchase",
              range_join_clicks_before_purchase,
              RANGE_JOIN_CLICKS_SQL, ("range-join-bucketed-band",)),
    QuerySpec("events_dedup_within_window",
              events_dedup_within_window,
              EVENTS_DEDUP_WITHIN_WINDOW_SQL, ("event-debounce-dedup",)),
    QuerySpec("events_dwell_percentiles",
              events_dwell_percentiles,
              EVENTS_DWELL_PERCENTILES_SQL, ("dwell-gap-percentiles",)),
]
