"""exact_percentiles_scalable vs Spark's own exact ``percentile``.

The helper must reproduce the full-value-map aggregate's interpolated
output EXACTLY (it replaces it inside hash-gated oracle queries), while
keeping that aggregate out of the executed plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.plans.quantiles import (
    exact_percentiles_scalable,
)
from ai_powered_e_commerce_analytics_spark.plans.spec import cents, t

QS = (0.25, 0.50, 0.75)
NAMES = ("q25", "q50", "q75")


def _exact(df, col, group_cols=()):
    aggs = [
        F.expr(f"percentile({col}, {q})").alias(n) for q, n in zip(QS, NAMES)
    ]
    return (
        df.groupBy(*group_cols).agg(*aggs)
        if group_cols
        else df.agg(*aggs)
    )


def _assert_same(got, want, group_cols=()):
    key = lambda r: tuple(r[g] for g in group_cols)  # noqa: E731
    gm = {key(r): r for r in got.collect()}
    wm = {key(r): r for r in want.collect()}
    assert set(gm) == set(wm)
    for k, w in wm.items():
        for n in NAMES:
            assert gm[k][n] == w[n], (k, n, gm[k][n], w[n])


def test_ungrouped_matches_percentile(spark, sf_dir):
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("v"))
    )
    got = exact_percentiles_scalable(spend, "v", QS, NAMES)
    _assert_same(got, _exact(spend, "v"))


def test_grouped_matches_percentile(spark, sf_dir):
    yearly = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey", F.year("o_orderdate").cast("int").alias("yr"))
        .agg(F.sum(cents("o_totalprice")).alias("v"))
    )
    got = exact_percentiles_scalable(yearly, "v", QS, NAMES, ("yr",))
    _assert_same(got, _exact(yearly, "v", ("yr",)), ("yr",))


@pytest.mark.parametrize("n", [1, 2, 3, 7])
def test_tiny_groups_and_duplicates(spark, n):
    # n=1: pos collapses to rank 0 for every q; duplicates exercise the
    # value-run rank intervals (one dv row covering both target ranks).
    rows = [(i % max(1, n // 2),) for i in range(n)]
    df = spark.createDataFrame(rows, "v long")
    got = exact_percentiles_scalable(df, "v", QS, NAMES)
    _assert_same(got, _exact(df, "v"))


def test_nulls_ignored_and_empty(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "v long")
    got = exact_percentiles_scalable(df, "v", QS, NAMES)
    _assert_same(got, df.where("v is not null").agg(
        *[F.expr(f"percentile(v, {q})").alias(n) for q, n in zip(QS, NAMES)]
    ))
    # ungrouped global agg over empty input: one all-null row, exactly
    # like percentile() itself
    empty = spark.createDataFrame([], "v long")
    _assert_same(
        exact_percentiles_scalable(empty, "v", QS, NAMES), _exact(empty, "v")
    )


@pytest.mark.parametrize(
    "qname",
    ["customer_revenue_pareto", "rfm_customer_segments",
     "customer_segment_scd2", "shipping_sla_percentiles",
     "order_value_winsorized_stats", "customer_order_value_quartiles",
     "order_value_mad_outliers"],
)
def test_percentile_trio_plan_pins(spark, sf_dir, qname):
    """The cutoff/SLA queries must keep the full-value-map exact
    ``percentile`` aggregate OUT of their executed plans (VERDICT r6
    item 1) — the values come from exact_percentiles_scalable."""
    from ai_powered_e_commerce_analytics_spark.plans import registry

    df = registry.query_map()[qname](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    assert not re.search(r"(?<!approx_)\bpercentile\(", plan), qname


def test_quartiles_query_takes_window_regime(spark, sf_dir):
    """customer_order_value_quartiles (r9, the VERDICT r8 ask) must run
    the WINDOW percentile regime: a Window node on the customer grain,
    no rank-base broadcast-of-driver-state artifacts (the plan is built
    with zero driver collects), and no mapInPandas python island."""
    from ai_powered_e_commerce_analytics_spark.plans import registry

    df = registry.query_map()["customer_order_value_quartiles"](
        spark, sf_dir
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "mapInPandas" not in plan.lower()
    assert "percentile(" not in plan.lower()


def test_no_exact_percentile_aggregate_in_plan(spark, sf_dir):
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).alias("v"))
    )
    got = exact_percentiles_scalable(spend, "v", QS, NAMES)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "percentile(" not in plan.lower()


def test_plan_probes_cover_iterative_queries(spark, sf_dir):
    """Probe-drift guard: every PLAN_PROBES entry names a registry query
    and builds a real pre-checkpoint round (exchanges > 0 — the empty
    post-checkpoint shape is exactly what probes exist to avoid)."""
    import re

    from ai_powered_e_commerce_analytics_spark.plans import registry
    from ai_powered_e_commerce_analytics_spark.plans.probes import (
        PLAN_PROBES,
    )

    names = {q.name for q in registry.QUERIES}
    assert set(PLAN_PROBES) <= names
    # one representative per distinct probe builder (they share bodies)
    for qname in ("copurchase_pagerank", "dedup_components",
                  "kmeans_lloyd_clusters"):
        plan = (
            PLAN_PROBES[qname](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert len(re.findall(r"\bExchange\b", plan)) > 0, qname


# ---------------------------------------------------------------------------
# Property: the helper IS percentile(), on arbitrary grouped long data
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PSETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# values with heavy duplication, negatives, and extremes; 2 small groups
rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),
        st.integers(min_value=-(2**40), max_value=2**40).map(
            lambda v: v % 7 - 3 if abs(v) < 1000 else v  # force dup mass
        ),
    ),
    min_size=1,
    max_size=40,
)


@given(data=rows)
@settings(**_PSETTINGS)
def test_property_grouped_equals_percentile(spark, data):
    df = spark.createDataFrame(data, "g int, v long")
    want = {
        r["g"]: tuple(r[n] for n in NAMES)
        for r in _exact(df, "v", ("g",)).collect()
    }
    # BOTH strategies must be bit-identical to percentile() on the
    # same arbitrary data — the spill is a plan change, not a
    # semantics change.
    for strat in ("auto", "window"):
        got = {
            r["g"]: tuple(r[n] for n in NAMES)
            for r in exact_percentiles_scalable(
                df, "v", QS, NAMES, ("g",), strategy=strat
            ).collect()
        }
        assert got == want, strat


def test_null_group_key_mixed_with_values(spark):
    # A NULL group key alongside non-null keys must not crash the
    # driver-side rank-base fold (a (group, pid) sort would compare
    # None to str and raise TypeError) and must produce percentile()'s
    # own null-group row.
    rows = [("a", float(v)) for v in range(1, 8)]
    rows += [(None, float(v)) for v in (10, 20, 30, 40)]
    rows += [("b", 5.0), ("b", 15.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = exact_percentiles_scalable(df, "v", QS, NAMES, ("g",))
    _assert_same(got, _exact(df, "v", ("g",)), ("g",))


def test_counts_col_path_matches_raw_path(spark):
    # The pre-contracted entry (callers that build the distinct-value
    # contraction for their own stats) must agree with the raw path and
    # with percentile() itself — including multiplicities > 1.
    rows = [("a", v) for v in (1.0, 1.0, 2.0, 5.0, 5.0, 5.0, 9.0)]
    rows += [("b", v) for v in (3.0, 4.0, 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    contracted = df.groupBy("g", "v").agg(F.count("*").alias("cnt"))
    raw = exact_percentiles_scalable(df, "v", QS, NAMES, ("g",))
    pre = exact_percentiles_scalable(
        contracted, "v", QS, NAMES, ("g",), counts_col="cnt"
    )
    _assert_same(pre, raw, ("g",))
    _assert_same(pre, _exact(df, "v", ("g",)), ("g",))


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_interleaved_helper_calls_keep_both_persists(spark):
    # ADVICE r7: a second helper call must not free the first call's
    # arrangement before it is consumed. Two in-flight helper plans in
    # one scope are both exact; the scope frees both on exit.
    from ai_powered_e_commerce_analytics_spark.functions.core import released

    before = _persisted(spark)
    a = spark.createDataFrame([(i,) for i in range(101)], "v long")
    b = spark.createDataFrame([(i * 3,) for i in range(57)], "v long")
    with released(spark):
        got_a = exact_percentiles_scalable(a, "v", QS, NAMES)  # build A
        got_b = exact_percentiles_scalable(b, "v", QS, NAMES)  # build B
        # optimization r16: each arranged frame is an eager CHECKPOINT
        # (so AQE sizes its partitions), already materialized at build
        assert len(_persisted(spark) - before) == 2
        # consume A AFTER B was built — its arrangement must still be live
        _assert_same(got_a, _exact(a, "v"))
        _assert_same(got_b, _exact(b, "v"))
    assert _persisted(spark) == before


def test_evicted_broadcasts_are_destroyed(spark):
    # VERDICT r8: unpersist alone leaves driver-side broadcast metadata
    # alive until GC. Scope exit must destroy shared broadcasts without
    # blocking, and free shared frames, persisted and checkpointed.
    from pyspark import StorageLevel

    from ai_powered_e_commerce_analytics_spark.functions.core import (
        released,
        share,
    )

    class FakeBroadcast:
        blocking = None

        def destroy(self, blocking=True):
            self.blocking = blocking

    before = _persisted(spark)
    with released(spark):
        fake = share(FakeBroadcast(), "persist")
        bc = share(spark.sparkContext.broadcast({1: 2}), "persist")
        kept = share(spark.range(10), "persist")
        kept.count()
        share(spark.range(10), "checkpoint")
        assert len(_persisted(spark) - before) == 2
    assert fake.blocking is False  # never stall the scope's exit
    assert not bc._jbroadcast.isValid()
    assert kept.storageLevel == StorageLevel.NONE
    assert _persisted(spark) == before


def test_grain_guard_raises_on_high_cardinality(spark):
    # strategy="range" is the loud-failure mode: per-row grain (groups
    # ~= rows), far over the tiny cap -> ValueError, never driver OOM
    df = spark.createDataFrame([(i, i % 97) for i in range(500)], "g long, v long")
    with pytest.raises(ValueError, match="subtotal rows"):
        exact_percentiles_scalable(
            df, "v", QS, NAMES, ("g",),
            max_driver_subtotals=50, strategy="range",
        )
    # same call with the cap lifted: exact values per group
    got = exact_percentiles_scalable(
        df.where("g < 20"), "v", QS, NAMES, ("g",)
    )
    _assert_same(got, _exact(df.where("g < 20"), "v", ("g",)), ("g",))


def test_auto_spills_to_window_fold_above_cap(spark):
    # default strategy="auto": the over-cap grain silently spills to
    # the per-group window plan and still returns exact values
    df = spark.createDataFrame(
        [(i % 120, float((i * 37) % 251)) for i in range(600)],
        "g long, v double",
    )
    got = exact_percentiles_scalable(
        df, "v", QS, NAMES, ("g",), max_driver_subtotals=50
    )
    _assert_same(got, _exact(df, "v", ("g",)), ("g",))


def test_mixed_grain_truncated_big_group_still_refuses_spill(spark):
    # VERDICT r9 #2: one HUGE group (3200 distinct values -> spans most
    # of the 32 range partitions, far over _MAX_SPILL_GROUP_SPAN) mixed
    # with 200 singleton groups. The rows-per-group AVERAGE says
    # "group-driven" (201 groups x 4 > ~230 subtotal rows), and the
    # limit(cap+1) sample the old guard read its span from can easily
    # truncate the big group's subtotal rows, UNDERstating its span and
    # silently spilling its whole distinct-value run into ONE window
    # task. The discriminator now folds max-span exactly over the full
    # subtotal frame, so auto must refuse LOUDLY regardless of what the
    # arbitrary sample contained.
    rows = [("big", float(i)) for i in range(3200)]
    rows += [(f"t{j:03d}", float(j)) for j in range(200)]
    df = spark.createDataFrame(rows, "g string, v double")
    # The fixture's 8 shuffle partitions cap ANY group's range span at 8
    # — under _MAX_SPILL_GROUP_SPAN, where spilling is legitimately
    # tolerated. 32 range partitions let the big group span ~31, the
    # refusal regime.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try:
        with pytest.raises(ValueError, match="partition-driven"):
            exact_percentiles_scalable(
                df, "v", QS, NAMES, ("g",), max_driver_subtotals=20
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )


def test_partition_driven_overflow_raises_even_on_auto(spark):
    # one group spanning many partitions: the cap blows on partition
    # count, not grain cardinality — spilling to a per-group window
    # would funnel everything into ONE window partition, so auto must
    # stay a loud error (code-review r8 finding)
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(500)], "g string, v double"
    )
    # AQE would coalesce this toy arrangement to ~1 partition and hide
    # the regime; at 100 TB the partition count is real
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        with pytest.raises(ValueError, match="partition-driven"):
            exact_percentiles_scalable(
                df, "v", QS, NAMES, ("g",), max_driver_subtotals=4
            )
        # ungrouped: same regime, same loud error
        with pytest.raises(ValueError, match="partition-driven"):
            exact_percentiles_scalable(
                df, "v", QS, NAMES, (), max_driver_subtotals=4
            )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )


def test_window_strategy_matches_percentile(spark):
    # explicit strategy="window": no arrangement attempt, exact values
    # — including duplicate runs, a NULL group key, and NULL values
    rows = [("a", float(v)) for v in (1, 1, 2, 5, 5, 5, 9)]
    rows += [("b", float(v)) for v in (3, 4, 4)]
    rows += [(None, 7.0), (None, 2.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = exact_percentiles_scalable(
        df, "v", QS, NAMES, ("g",), strategy="window"
    )
    _assert_same(got, _exact(df, "v", ("g",)), ("g",))
    # pre-contracted entry takes the window path too
    contracted = df.where("v is not null").groupBy("g", "v").agg(
        F.count("*").alias("cnt")
    )
    pre = exact_percentiles_scalable(
        contracted, "v", QS, NAMES, ("g",),
        counts_col="cnt", strategy="window",
    )
    _assert_same(pre, got, ("g",))


def test_count_col_matches_exact_counts_on_both_paths(spark):
    # count_col exposes the group totals both regimes already hold
    # internally (code review r9: a caller re-aggregating + joining
    # for counts pays a whole extra exchange). NULL values must be
    # excluded from the count, matching percentile semantics.
    rows = [("a", float(v)) for v in (1, 1, 2, 5, 5, 5, 9)]
    rows += [("b", float(v)) for v in (3, 4, 4)]
    rows += [(None, 7.0), (None, 2.0), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    expect = {
        (r["g"],): r["n"]
        for r in df.where("v is not null")
        .groupBy("g").agg(F.count("*").alias("n")).collect()
    }
    for strat in ("range", "window"):
        got = exact_percentiles_scalable(
            df, "v", QS, NAMES, ("g",), strategy=strat, count_col="n"
        )
        vals = {(r["g"],): r["n"] for r in got.collect()}
        assert vals == expect, (strat, vals)
        # the percentile columns are untouched by the extra output
        _assert_same(
            got.drop("n"), _exact(df, "v", ("g",)), ("g",)
        )


def test_window_strategy_plan_has_no_collect_or_broadcast(spark):
    # the spill path must be driver-free: no mapInPandas walk, no
    # broadcast rank targets — window exchange on the group keys only
    df = spark.createDataFrame(
        [(i % 7, float(i)) for i in range(100)], "g long, v double"
    )
    plan = exact_percentiles_scalable(
        df, "v", QS, NAMES, ("g",), strategy="window"
    )._jdf.queryExecution().executedPlan().toString()
    assert "mapInPandas" not in plan and "MapInPandas" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "Window" in plan
