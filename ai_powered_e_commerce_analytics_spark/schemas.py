"""Canonical StructType schemas (SURVEY.md §1.4).

The reference declares schemas at contract edges (pydantic models
``etl_pipeline/src/etl_pipeline/models/models_schema.py:5-66``, Go structs
``Clients/go/internal/models/types.go:4-56``) and infers in the middle; the
Spark engine declares them everywhere — streaming file sources require it,
and inferSchema on JSON is a full extra pass at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Medallion tables (reference data model)
# ---------------------------------------------------------------------------

#: Raw collected products (reference types.go:16-27 + collector.py:41-86).
BRONZE_PRODUCTS = T.StructType(
    [
        T.StructField("product_name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("quantity", T.LongType()),
        T.StructField("category", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("availability", T.BooleanType()),
        T.StructField("discount_percentage", T.DoubleType()),
        # Date stays a string: the reference groups on the raw string and
        # never parses it (data_transformer.py:141).
        T.StructField("date", T.StringType()),
        T.StructField("id", T.StringType()),       # user uuid (pool of 5000)
        T.StructField("shop_id", T.StringType()),  # shop_{i} (pool of 10000)
    ]
)

#: Enriched products = bronze + review-generation output
#: (reference MergedResponse, types.go:42-56).
SILVER_REVIEWS = T.StructType(
    list(BRONZE_PRODUCTS.fields)
    + [
        T.StructField("item_id", T.LongType()),  # global 1-based row number
        T.StructField("classification", T.StringType()),
        T.StructField("review", T.StringType()),
    ]
)

#: LLM sentiment output (reference models_schema.py:5-12). ``sentiment``
#: is nullable — failed LLM batches yield None (data_transformer.py:100).
SENTIMENTS = T.StructType(
    [
        T.StructField("item_id", T.LongType(), nullable=False),
        T.StructField("sentiment", T.BooleanType(), nullable=True),
    ]
)

#: gold = silver + sentiment, appended in place by ``enrich_sentiments``
#: (the reference's left join on item_id, data_transformer.py:150).
GOLD_FINAL = T.StructType(
    list(SILVER_REVIEWS.fields) + [T.StructField("sentiment", T.BooleanType())]
)

#: Per-user KPIs (reference README.md:117-119, models_schema.py:54-61).
USER_KPIS = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("average_spent", T.DoubleType()),
        T.StructField("positive_reviews", T.LongType()),
        T.StructField("negative_reviews", T.LongType()),
        T.StructField("likeness_score", T.DoubleType()),
        T.StructField("normalized_likeness_score", T.DoubleType()),
    ]
)

#: Per-shop KPIs (README.md:121-123, models_schema.py:44-51).
SHOP_KPIS = T.StructType(
    [
        T.StructField("shop_id", T.StringType()),
        T.StructField("average_profit", T.DoubleType()),
        T.StructField("positive_reviews", T.LongType()),
        T.StructField("negative_reviews", T.LongType()),
        T.StructField("likeness_score", T.DoubleType()),
        T.StructField("normalized_likeness_score", T.DoubleType()),
    ]
)

#: Per-date KPIs (README.md:126-129, models_schema.py:64-66).
DATE_KPIS = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("average_profit_per_day", T.DoubleType()),
    ]
)

#: LLM review-generation response rows (reference types.go:29-39).
REVIEWS = T.StructType(
    [
        T.StructField("item_id", T.LongType(), nullable=False),
        T.StructField("classification", T.StringType()),
        T.StructField("review", T.StringType()),
    ]
)

# ---------------------------------------------------------------------------
# Driver testdata tables (/root/testdata/sf*/; TESTDATA.md)
# ---------------------------------------------------------------------------

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# ---------------------------------------------------------------------------
# Multimodal column plumbing (beyond-parity; BASELINE.json north star)
# ---------------------------------------------------------------------------

#: Opaque media payload + typed metadata. Decode is stubbed (no image/audio
#: libs in the container) but schema/partitioning/UDF shape are real.
MEDIA_ASSET = T.StructType(
    [
        T.StructField("asset_id", T.LongType(), nullable=False),
        T.StructField("media_type", T.StringType()),   # image|audio|video
        T.StructField("content", T.BinaryType()),      # opaque payload
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def validate_columns(df, required: list[str]) -> list[str]:
    """Return the missing columns (reference ``validate_dataframe``,
    etl_pipeline/src/etl_pipeline/utils/tools.py:97-115 — logs and returns
    a bool; we return the missing set so callers can raise with context).
    """
    return [c for c in required if c not in df.columns]
