"""KPI aggregations (SURVEY.md §2.4 A1-A5, §2.5 C1-C5, §2.3 J2).

The reference computes each KPI table with TWO group-by passes over the
same grouping (mean, then boolean-sums) joined back together
(data_transformer.py:113-128) — a missed common-subexpression the survey
flags (§4.1). Here each KPI table is ONE ``groupBy().agg()``:

- one shuffle on the group key instead of two shuffles + a join,
- partial (map-side) aggregation halves shuffle bytes,
- null sentiments contribute 0 to both counters, matching Polars'
  null-skipping sum + ``~null = null`` (survey §7 decision 4).

At 100 TB: avg/sum are algebraic aggregates → tree-reduced with partial
combine; the only full-table exchange is the single hash partition on the
group key. The min-max normalization's global min/max is a 2-row agg
cross-joined back as a broadcast (see functions.with_minmax_normalized) —
no single-partition window funnel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import likeness_score, with_minmax_normalized


def review_kpis(
    gold: DataFrame,
    key: str,
    *,
    avg_col: str = "price",
    avg_alias: str = "average_profit",
    sentiment_col: str = "sentiment",
    normalize: bool = True,
) -> DataFrame:
    """Per-``key`` KPI table over the enriched (gold) frame.

    Mirrors ``generateUserKpis``/``generateShopKpis``
    (data_transformer.py:113-138): avg(price), positive/negative review
    counts, likeness score, min-max-normalized likeness score.
    """
    s = F.col(sentiment_col)
    agg = gold.groupBy(key).agg(
        F.avg(avg_col).alias(avg_alias),
        # Polars sum() skips nulls; when(...) emits 0 for null sentiment in
        # BOTH counters — identical totals (A4).
        F.sum(F.when(s, 1).otherwise(0)).alias("positive_reviews"),
        F.sum(F.when(~s, 1).otherwise(0)).alias("negative_reviews"),
    )
    agg = agg.withColumn(
        "likeness_score",
        likeness_score(F.col("positive_reviews"), F.col("negative_reviews")),
    )
    if normalize:
        agg = with_minmax_normalized(
            agg, "likeness_score", "normalized_likeness_score"
        )
    return agg


def user_kpis(gold: DataFrame) -> DataFrame:
    """A2+A4+C1+C2 keyed on user ``id`` (data_transformer.py:135-138)."""
    return review_kpis(gold, "id", avg_alias="average_spent")


def shop_kpis(gold: DataFrame) -> DataFrame:
    """A1+A4+C1+C2 keyed on ``shop_id`` (data_transformer.py:130-133)."""
    return review_kpis(gold, "shop_id", avg_alias="average_profit")


def date_kpis(gold: DataFrame, *, avg_col: str = "price") -> DataFrame:
    """A3: per-date mean, date kept as a raw string group key
    (data_transformer.py:140-143 — the reference never parses it).
    """
    return gold.groupBy("date").agg(
        F.avg(avg_col).alias("average_profit_per_day")
    )


#: Each KPI table's upsert key (main.py:53-55), keyed like :func:`all_kpis`.
KPI_KEYS = {"user_kpis": "id", "shop_kpis": "shop_id", "date_kpis": "date"}


def all_kpis(gold: DataFrame) -> dict[str, DataFrame]:
    """The reference's full KPI fan-out (main.py:53-55) off ONE cached
    enriched frame — the reference re-traverses it 4x (survey §4.1).
    The caller shares ``gold`` (``share(gold, "persist")``) inside a
    ``released()`` scope that outlives the three KPI plans.
    """
    return {
        "user_kpis": user_kpis(gold),
        "shop_kpis": shop_kpis(gold),
        "date_kpis": date_kpis(gold),
    }
