"""Enrichment operator family (SURVEY.md §2.10 F1-F7, §2.2 P3-P4)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.operators.enrich import (
    StubLLMClient,
    assign_from_pool,
    assign_item_ids,
    enrich_reviews,
    enrich_sentiments,
    make_shop_pool,
    make_user_pool,
    retry_residuals,
)


@pytest.fixture(scope="module")
def items(spark):
    rows = [
        (i, f"review {'great' if i % 3 == 0 else 'awful'} product {i}", f"desc {i}", "Electronics")
        for i in range(1, 64)  # 63 rows: exercises the non-multiple-of-25 tail (F1)
    ]
    return spark.createDataFrame(
        rows, "item_id long, review string, description string, category string"
    )


def test_enrich_wave_call_many_fallback(spark, items):
    # 63 rows / batch_size 10 -> 7 chunks -> waves of 4+3 through the
    # stub's call_many; the garbage wave result for chunk 0 must fall
    # back to the per-batch retry path and still come back correct.
    out = enrich_sentiments(
        items.repartition(1),
        lambda: StubLLMClient(invalid_wave_batches=frozenset({0})),
        batch_size=10,
        concurrency=4,
    ).collect()
    assert sorted(r.item_id for r in out) == list(range(1, 64))
    assert all(r.sentiment == (r.item_id % 3 == 0) for r in out)


def test_enrich_wave_misaligned_client_drops_no_rows(spark, items):
    # A duck-typed client returning FEWER wave results than batches must
    # not silently drop the trailing batches — they fall back to the
    # per-batch path and every input id still comes back exactly once.
    out = enrich_sentiments(
        items.repartition(1),
        lambda: StubLLMClient(wave_truncate=1),
        batch_size=10,
        concurrency=4,
    ).collect()
    assert sorted(r.item_id for r in out) == list(range(1, 64))


def test_assign_item_ids_does_not_mutate_input_schema(spark):
    # StructType.add mutates in place and DataFrame.schema is cached —
    # the helper must COPY before adding, or the caller's frame grows a
    # phantom item_id column.
    df = spark.createDataFrame([(1,), (2,)], "v long")
    assign_item_ids(df).collect()
    assert df.columns == ["v"]
    df.select(*df.columns).collect()  # must not raise UNRESOLVED_COLUMN


def test_stub_sentiments_deterministic(spark, items):
    out = enrich_sentiments(items).orderBy("item_id").collect()
    assert len(out) == 63
    for r in out:
        assert r.sentiment == (r.item_id % 3 == 0)


def test_batch_tail_handling(spark, items):
    # 63 rows -> batches of 25/25/13 per partition; all ids come back once.
    out = enrich_sentiments(items.repartition(1))
    ids = [r.item_id for r in out.collect()]
    assert sorted(ids) == list(range(1, 64))


def test_failed_batch_null_fill(spark, items):
    # Batch 0 in each task fails all attempts -> null sentiments with REAL ids.
    out = enrich_sentiments(
        items.repartition(1),
        client_factory=lambda: StubLLMClient(fail_batches=frozenset({0})),
        max_attempts=2,
    ).collect()
    nulls = [r.item_id for r in out if r.sentiment is None]
    assert len(nulls) == 25  # exactly the failed batch
    assert sorted(r.item_id for r in out) == list(range(1, 64))


def test_retry_residuals_reenriches_null_rows(spark, items):
    # Batch 1 fails its one attempt and is null-filled; the driver-level
    # pass enriches exactly those rows again and keeps the others.
    enriched = enrich_sentiments(
        items.repartition(1),
        client_factory=lambda: StubLLMClient(fail_batches=frozenset({1})),
        max_attempts=1,
    ).cache()
    assert enriched.where(F.col("sentiment").isNull()).count() == 25
    fixed = retry_residuals(enriched, lambda df: enrich_sentiments(df))
    out = fixed.orderBy("item_id").collect()
    assert sorted(r.item_id for r in out) == list(range(1, 64))
    assert all(r.sentiment == (r.item_id % 3 == 0) for r in out)
    assert fixed.columns == items.columns + ["sentiment"]
    enriched.unpersist()


def test_enrich_appends_in_place(spark, items):
    # The answer is appended to the rows read: every input column keeps
    # its values, a same-named column is replaced, and only the prompt
    # fields reach the client.
    from ai_powered_e_commerce_analytics_spark.operators.enrich import (
        StubLLMClient as Stub,
    )

    class PromptOnly(Stub):
        def call_many(self, method, batches, indices, concurrency=4):
            if any(set(r) != {"item_id", "review"} for b in batches for r in b):
                raise ValueError("non-prompt field sent to the client")
            return super().call_many(method, batches, indices, concurrency)

    src = items.withColumn("sentiment", F.lit(None).cast("boolean"))
    out = enrich_sentiments(src, PromptOnly, max_attempts=1)
    assert out.columns == items.columns + ["sentiment"]
    got = {r.item_id: r for r in out.collect()}
    assert len(got) == 63
    for want in items.collect():
        row = got[want.item_id]
        assert row[: len(want)] == tuple(want)
        assert row.sentiment == (want.item_id % 3 == 0)


def test_enrich_reviews_schema(spark, items):
    out = enrich_reviews(items.drop("review"))
    rows = out.collect()
    assert len(rows) == 63
    assert all(r.classification == "electronics" for r in rows)
    assert all(r.review for r in rows)


def test_assign_item_ids_ordered(spark):
    df = spark.createDataFrame([(c,) for c in "dcba"], "k string")
    out = assign_item_ids(df, order_by=["k"]).orderBy("item_id").collect()
    assert [(r.k, r.item_id) for r in out] == [
        ("a", 1), ("b", 2), ("c", 3), ("d", 4),
    ]


def test_assign_item_ids_zipwithindex(spark):
    df = spark.range(0, 1000).withColumnRenamed("id", "v").repartition(7)
    out = assign_item_ids(df)
    got = out.agg(
        F.count("*"), F.min("item_id"), F.max("item_id"), F.count_distinct("item_id")
    ).first()
    assert tuple(got) == (1000, 1, 1000, 1000)


def test_pool_assignment_deterministic(spark):
    users = make_user_pool(50, seed=42)
    assert users == make_user_pool(50, seed=42)  # seeded determinism
    df = spark.range(0, 120).withColumnRenamed("id", "v")
    a = assign_from_pool(df, users, "uid", order_by=["v"], seed=42)
    b = assign_from_pool(df, users, "uid", order_by=["v"], seed=42)
    pa = {r.v: r.uid for r in a.collect()}
    pb = {r.v: r.uid for r in b.collect()}
    assert pa == pb
    # modulo wrap: rows 120 over pool 50 -> each pool entry used 2-3 times
    counts = pd.Series(list(pa.values())).value_counts()
    assert set(counts.unique()) <= {2, 3}
    assert len(counts) == 50
    # shop pool shape (collector.py:23)
    assert make_shop_pool(10)[3] == "shop_3"
