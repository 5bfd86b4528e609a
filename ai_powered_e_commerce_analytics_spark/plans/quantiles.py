"""Scalable EXACT percentiles (the 100 TB swap for ``percentile``).

Spark's exact ``percentile`` aggregate materializes a full value->count
map in ONE aggregation buffer — a driver/executor-memory killer once the
aggregated grain is no longer dimension-sized. But several queries
(Pareto deciles, RFM quartiles, SCD2 tier cutoffs) need exact,
interpolated, cross-engine-deterministic cutoffs: an approx sketch would
change bucket membership at the boundaries and break oracle hash parity.

:func:`exact_percentiles_scalable` computes the SAME interpolated value
as ``percentile`` / DuckDB ``quantile_cont`` with bounded memory
everywhere, via distributed order statistics:

1. **Distinct-value contraction**: ``groupBy(group, value).count()`` —
   the only corpus-sized shuffle, and a contracting one (runs of equal
   values collapse to one row carrying a count).
2. **Range arrangement**: ``repartitionByRange(group, value)`` +
   ``sortWithinPartitions`` makes every physical partition a contiguous
   slice of each group's value order (the ``pack_sequences_greedy``
   prefix decomposition, plans/pretrain.py:209).
3. **Global rank = partition base + local prefix**: per-(partition,
   group) subtotal counts are one tiny agg — O(partitions x groups)
   rows — collected, folded driver-side into per-partition cumulative
   BASES, and broadcast; a ZERO-SHUFFLE ``mapInPandas`` walk over the
   already-sorted partitions adds the local running count (the
   ``pack_sequences_greedy`` offset pattern — a window would re-
   exchange the frame on (pid, group) for nothing). Every value-run
   now knows the exact 0-indexed global rank interval it covers.
4. **Rank-target lookup**: each requested quantile q over a group of n
   values needs the order statistics at ``floor(q*(n-1))`` and
   ``ceil(q*(n-1))``. Group totals n fall out of the SAME subtotal
   fold (no second scan), so the O(groups x quantiles) target frame is
   built driver-side — its ``q*(n-1)`` is the identical IEEE double
   expression Spark's Percentile evaluates — and broadcast-joined
   against the ranked runs, then one interpolation ``(1-frac)*lo +
   frac*hi`` (Percentile.getPercentile's exact formula; callers
   round(…,6) per the spec.py float policy, proven cross-engine by
   order_value_percentiles).

No aggregation buffer ever holds more than one row per distinct value
per partition — EXECUTOR memory is bounded regardless of grain size,
the property the full-value-map aggregate lacks. The DRIVER, however,
sees O(partitions x groups) subtotal rows in the rank-base fold, which
grows with the grain's cardinality: ``max_driver_subtotals`` guards
that collect. When the cap blows BECAUSE the grain is high-cardinality
(distinct groups dominate the subtotal frame), the helper SPILLS to
the complementary distributed plan instead of failing: a per-group
window fold (:func:`_windowed_percentiles` — one shuffle on the group
keys, cumsum rank + the same IEEE rank-target arithmetic, zero driver
state), fed the already-materialized contraction so the corpus scan is
not repaid. The two regimes partition the grain space: few big groups
-> range arrangement (a per-group window would funnel the corpus
through a handful of window partitions); many small groups ->
per-group windows (each partition holds whole small groups, bounded by
the largest group's distinct values, and the driver never sees a
subtotal row). A cap overflow that is PARTITION-driven (few groups x
huge partition count) stays a loud error — neither plan's bound
improves by spilling there. All current consumers aggregate at
dimension-sized grains and take the range path; ``strategy=`` lets a
caller with a known high-cardinality grain (per-customer at TPC-H
scale) pick ``"window"`` up front and skip the doomed arrangement
attempt.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.core import release, share

#: Widest per-group range-partition span (computed exactly, as a
#: distributed agg over the full subtotal frame) the auto spill will
#: hand to the per-group window plan. A group spanning S range
#: partitions carries roughly S partitions' worth of distinct values,
#: all of which land in ONE window task after the spill — so auto only
#: spills when EVERY group stays a small multiple of a partition.
#: Callers who know their widest group fits an executor force
#: strategy="window" instead.
_MAX_SPILL_GROUP_SPAN = 16


def release_arranged_cache() -> None:
    """No-op kept for perfbench/workloads.py:22, which imports it."""


def exact_percentiles_scalable(
    df: DataFrame,
    value_col: str,
    qs: Sequence[float],
    out_names: Sequence[str],
    group_cols: Sequence[str] = (),
    counts_col: str | None = None,
    max_driver_subtotals: int = 1_000_000,
    strategy: str = "auto",
    count_col: str | None = None,
    mean_col: str | None = None,
) -> DataFrame:
    """Exact interpolated percentiles of ``value_col`` per group.

    Returns one row per group: ``group_cols + [out_names...]`` (double),
    bit-matching ``percentile(value_col, q)`` / DuckDB ``quantile_cont``
    on every tested SF, without a full-value-map aggregate in the plan.
    Nulls in ``value_col`` are ignored (``percentile`` semantics);
    groups with zero non-null values are omitted.

    ``counts_col``: pass when ``df`` is ALREADY the distinct-value
    contraction — one row per (group, value) carrying its multiplicity
    — to skip step 1 (callers that need the contraction for their own
    stats build it once, checkpoint it, and share it).

    ``count_col``: name of an extra LONG output column carrying each
    group's non-null value count. Both regimes already materialize the
    group totals internally (the range path's driver fold, the window
    path's ``__n`` window constant), so exposing them is free — a
    caller that also wants counts would otherwise re-aggregate the
    corpus and JOIN on the group keys, a whole extra exchange at
    exactly the high-cardinality grains this helper exists for
    (code review r9 on ``customer_order_value_quartiles``).

    ``max_driver_subtotals``: cap on the O(partitions x groups) rank-
    base rows the driver collects for the range path.

    ``mean_col``: name of an extra DOUBLE output column carrying each
    group's mean value ``Σ value·cnt / Σ cnt``. Both regimes piggyback
    it on state they already materialize (the range path's per-(pid,
    group) subtotal fold gains one weighted-sum column riding the SAME
    collect; the window path adds one more window constant on the SAME
    window partition) — zero extra jobs, where the caller would
    otherwise pay a separate corpus aggregation plus a join
    (optimization r16: ``order_value_mad_outliers``' MeanAD fallback
    scale). Exactness is the CALLER's contract, exactly like the
    interpolated outputs: when every ``value·cnt`` product and every
    running sum is exactly representable in double (integer cents,
    half-cent deviations — the current consumers), partial-sum order
    cannot change the result, so the driver-side fold and a
    corpus-grain aggregation are bit-identical.

    ``strategy``: ``"auto"`` (default) runs the range-arrangement plan
    and spills to the per-group window plan when a cap overflow is
    group-cardinality-driven (partition-driven overflows still raise —
    see the module docstring's regime discriminator); ``"range"``
    raises ValueError at the cap unconditionally (loud-failure mode
    for callers that sized the cap deliberately); ``"window"`` goes
    straight to the per-group window plan — the right opening move for
    a known high-cardinality grain, where the arrangement attempt
    would only waste a scan before spilling.
    """
    assert len(qs) == len(out_names)
    assert strategy in ("auto", "range", "window")
    gc = list(group_cols)
    spark = df.sparkSession

    # -- 1. distinct-value contraction ---------------------------------
    if counts_col is None:
        dv = (
            df.select(*gc, value_col)
            .where(F.col(value_col).isNotNull())
            .groupBy(*gc, value_col)
            .agg(F.count("*").alias("__cnt"))
        )
    else:
        dv = df.select(
            *gc, value_col, F.col(counts_col).cast("long").alias("__cnt")
        ).where(F.col(value_col).isNotNull())

    if strategy == "window":
        return _windowed_percentiles(
            dv, value_col, qs, out_names, gc, count_col=count_col,
            mean_col=mean_col,
        )

    # -- 2. range arrangement (partition = contiguous value slice) -----
    # Pinned via eager checkpoint, not .persist() (optimization r16):
    # a cached plan keeps the exchange's RAW partition count
    # (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning is
    # false by default), so the arrangement froze at
    # spark.sql.shuffle.partitions — 32 near-empty partitions at bench
    # scale, each a Python task in the rank walk and a task in every
    # downstream stage. The checkpoint materializes the AQE FINAL plan,
    # so the range exchange coalesces by bytes like every other
    # exchange: partition count now scales with the contraction's size
    # instead of a constant (guide §2 — scale-adaptive partitioning;
    # AQE coalescing merges only ADJACENT partitions, so each partition
    # stays a contiguous (group, value) range and the rank math is
    # untouched). share() also honours the reliable-checkpoint knob.
    arranged = share(
        dv.repartitionByRange(*gc, value_col)
        .sortWithinPartitions(*gc, value_col)
        .withColumn("__pid", F.spark_partition_id()),
        "checkpoint",
    )

    # -- 3a. per-(pid, group) subtotals -> per-partition rank bases ----
    # limit(cap+1) bounds what ever reaches the driver: an over-cap
    # grain raises BEFORE building a huge local list, not after.
    #
    # The subtotals fold PER PARTITION in a mapInPandas pass instead of
    # a groupBy("__pid", gc) aggregate (optimization r16): every
    # partition holds exactly one __pid by construction, so the
    # "aggregation" is partition-local — the groupBy form still planned
    # a full exchange + second agg stage (one extra job per helper
    # call) only to move rows that were already grouped. Sums are the
    # identical exact int64 folds; the optional weighted sums are
    # float64 (pandas' pairwise summation == any other order under the
    # mean_col exactness contract). Output stays O(groups) per
    # partition — the same bound the aggregate had.
    import pandas as pd

    dv_types = dict(dv.dtypes)

    def _key_of(k):
        if not isinstance(k, tuple):
            k = (k,)
        return tuple(None if pd.isna(v) else v for v in k)

    def _subtotal_fold(batches):
        # Per-row work stays vectorized (guide §4.2): each batch folds
        # through ONE pandas groupby; Python touches only the per-batch
        # GROUP totals (O(groups), small by the helper's own regime).
        pid = None
        subs: dict[tuple, int] = {}
        wsubs: dict[tuple, float] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            cols = {"__cnt": pdf["__cnt"]}
            if mean_col is not None:
                cols["__w"] = pdf[value_col].astype("float64") * pdf["__cnt"]
            bf = pd.DataFrame(cols)
            if gc:
                gsum = bf.groupby(
                    [pdf[g] for g in gc], sort=False, dropna=False
                ).sum()
                for k, row in gsum.iterrows():
                    nk = _key_of(k)
                    subs[nk] = subs.get(nk, 0) + int(row["__cnt"])
                    if mean_col is not None:
                        wsubs[nk] = wsubs.get(nk, 0.0) + float(row["__w"])
            else:
                subs[()] = subs.get((), 0) + int(bf["__cnt"].sum())
                if mean_col is not None:
                    wsubs[()] = wsubs.get((), 0.0) + float(bf["__w"].sum())
        if pid is None:
            return
        out = {"__pid": [pid] * len(subs)}
        for i, g in enumerate(gc):
            out[g] = [k[i] for k in subs]
        out["__sub"] = list(subs.values())
        if mean_col is not None:
            out["__wsub"] = [wsubs[k] for k in subs]
        yield pd.DataFrame(out)

    sub_schema = ", ".join(
        ["__pid int"]
        + [f"{g} {dv_types[g]}" for g in gc]
        + ["__sub long"]
        + (["__wsub double"] if mean_col is not None else [])
    )
    subtotal_frame = arranged.mapInPandas(_subtotal_fold, schema=sub_schema)
    subtotals = subtotal_frame.limit(max_driver_subtotals + 1).collect()
    def _gkey(row):
        return tuple(row[g] for g in gc)

    if len(subtotals) > max_driver_subtotals:
        # Discriminate WHY the cap blew before spilling. The range
        # arrangement gives each group >= one subtotal row per
        # partition it spans, so the frame's rows-per-group ratio is
        # an average partition-SPAN estimate: near 1 -> many small
        # groups, the window regime; large -> groups individually
        # span many range partitions, i.e. each group's distinct
        # values are a multiple of a shuffle partition — a per-group
        # window partition would be that multiple in ONE task, so
        # auto does NOT silently spill there (a caller who knows the
        # largest group fits an executor can still force
        # strategy='window').
        #
        # The AVERAGE ratio alone is blind to a MIXED grain (ADVICE
        # r8): one huge group plus many small ones averages "small",
        # yet the window plan would put the huge group's whole
        # distinct-value run in one task. So the spill additionally
        # requires the WIDEST group span to stay window-task-sized
        # (<= _MAX_SPILL_GROUP_SPAN range partitions' worth of
        # distinct values). The discriminator statistics are computed
        # EXACTLY, as one tiny distributed agg over the FULL subtotal
        # frame (the arrangement is persisted and the (pid x group)
        # grain is what overflowed — its per-group fold is a single
        # collected row): a sample-derived span from the arbitrary
        # limit(cap+1) subset can be UNDERstated when the limit
        # truncates a huge group's rows, letting a corpus-sized window
        # task sneak past "auto" — the exact executor-OOM regime this
        # guard refuses (VERDICT r9 #2).
        stats = subtotal_frame.groupBy(*gc).agg(
            F.count("*").alias("__span")
        ).agg(
            F.max("__span").alias("__max_span"),
            F.count("*").alias("__groups"),
            F.sum("__span").alias("__rows"),
        ).collect()[0]
        max_span = int(stats["__max_span"])
        groups_seen = int(stats["__groups"])
        total_rows = int(stats["__rows"])
        group_driven = (
            bool(gc)
            and groups_seen * 4 > total_rows
            and max_span <= _MAX_SPILL_GROUP_SPAN
        )
        if strategy == "auto" and group_driven:
            # Reuse the materialized arrangement (persisted, and just
            # computed by the subtotal job) as the pre-contracted
            # input: the window fold re-shuffles on the group keys
            # anyway, but the corpus scan + contraction are not
            # repaid.
            return _windowed_percentiles(
                arranged.drop("__pid"), value_col, qs, out_names, gc,
                count_col=count_col,
            )
        release(arranged)
        raise ValueError(
            f"exact_percentiles_scalable: grain {gc} produced "
            f"{total_rows} (partition x group) subtotal rows, over the "
            f"{max_driver_subtotals} cap ({groups_seen} distinct "
            f"groups, widest spanning {max_span} range partitions) — "
            + (
                "the overflow is partition-driven (at least one group "
                "spans many range partitions), so auto will not spill: "
                "a per-group window would put each group's whole "
                "distinct-value run in one task. Coalesce the input, "
                "raise max_driver_subtotals, or — if the largest "
                "group's distinct values fit one executor — force "
                "strategy='window'"
                if not group_driven
                else "use strategy='window' (per-group window fold), "
                "or raise max_driver_subtotals deliberately"
            )
        )

    running: dict[tuple, int] = {}
    wsum: dict[tuple, float] = {}
    base_map: dict[tuple, int] = {}
    # pid order IS value order within a group (range partitioner), so a
    # pid-sorted fold yields each partition's base rank — `running` is
    # keyed by group, so interleaving groups across the single pid-ordered
    # pass is fine. Sorting by pid ALONE also keeps NULL group keys safe:
    # a (group-key, pid) sort would compare None against non-null values
    # and raise TypeError.
    for row in sorted(subtotals, key=lambda r: r["__pid"]):
        k = _gkey(row)
        base_map[(row["__pid"], *k)] = running.get(k, 0)
        running[k] = running.get(k, 0) + row["__sub"]
        if mean_col is not None:
            wsum[k] = wsum.get(k, 0.0) + row["__wsub"]
    bc = share(spark.sparkContext.broadcast(base_map), "persist")

    # -- 3b. global rank interval of each value-run (zero shuffle) -----
    # The partitions are already sorted by (group, value); a pandas walk
    # carries per-group running counts across Arrow batches exactly like
    # pack_sequences_greedy's offset pass. NaN-safe group keys: pandas
    # surfaces NULL group values as NaN/None — normalize to None so the
    # key matches the collected subtotal rows. Per-ROW work is fully
    # vectorized (optimization r16 — the old walk built a Python key
    # tuple and dict update per value-run, guide §4.2): Python now
    # touches only each batch's O(groups) first-appearance keys; the
    # base/carry attach is one numpy gather over the groupby ordinals,
    # and the reordered carry additions are exact int64 arithmetic.
    import numpy as np

    def _ranked_walk(batches):
        carry: dict[tuple, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["__pid"].iloc[0])
            if gc:
                gb = pdf.groupby(gc, sort=False, dropna=False)
                local_before = gb["__cnt"].cumsum() - pdf["__cnt"]
                gids = gb.ngroup().to_numpy()
                first = pdf.loc[~pd.Series(gids).duplicated().to_numpy()]
                norm_keys = [
                    _key_of(vals) for vals in zip(*(first[g] for g in gc))
                ]
                gtotals = pdf["__cnt"].groupby(gids).sum().sort_index()
            else:
                local_before = pdf["__cnt"].cumsum() - pdf["__cnt"]
                gids = np.zeros(len(pdf), dtype="int64")
                norm_keys = [()]
                gtotals = pd.Series([int(pdf["__cnt"].sum())])
            base_per_gid = np.array(
                [
                    bc.value.get((pid, *k), 0) + carry.get(k, 0)
                    for k in norm_keys
                ],
                dtype="int64",
            )
            start = pd.Series(base_per_gid[gids], index=pdf.index) + (
                local_before
            )
            for k, tot in zip(norm_keys, gtotals):
                carry[k] = carry.get(k, 0) + int(tot)
            out = pdf.assign(
                __start=start, __end=start + pdf["__cnt"] - 1
            )
            yield out[[*gc, value_col, "__start", "__end"]]

    ranked_schema = ", ".join(
        [f"{g} {dv_types[g]}" for g in gc]
        + [f"{value_col} {dv_types[value_col]}", "__start long", "__end long"]
    )
    ranked = arranged.mapInPandas(_ranked_walk, schema=ranked_schema)

    # -- 4. rank targets (O(groups x quantiles)) + broadcast lookup ----
    # Group totals are the final fold state — no second input scan. The
    # float steps (q*(n-1), floor, frac) are the same IEEE-double ops
    # Spark's Percentile evaluates, so positions match bit-for-bit.
    tgt_rows = []
    for k, n in running.items():
        for qi, q in enumerate(qs):
            p = float(q) * (n - 1)
            lo = math.floor(p)
            row = (*k, qi, lo, math.ceil(p), p - lo, n)
            if mean_col is not None:
                row += (wsum[k] / n,)
            tgt_rows.append(row)
    tgt_schema = ", ".join(
        [f"__t_{g} {dv_types[g]}" for g in gc]
        + ["__qi int", "__lo long", "__hi long", "__frac double",
           "__n_total long"]
        + (["__mean double"] if mean_col is not None else [])
    )
    # ONE slice: the bare createDataFrame(list) parallelizes these few
    # rows across defaultParallelism slices, so the broadcast build ran
    # a 32-empty-task job per helper call (optimization r16 — measured
    # ~0.5-2 s of pure task dispatch in order_value_mad_outliers)
    tgt = spark.createDataFrame(
        spark.sparkContext.parallelize(tgt_rows, 1), schema=tgt_schema
    )
    cond = F.lit(True)
    for g in gc:
        cond = cond & F.col(g).eqNullSafe(F.col(f"__t_{g}"))
    lo_in = F.col("__lo").between(F.col("__start"), F.col("__end"))
    hi_in = F.col("__hi").between(F.col("__start"), F.col("__end"))
    hits = ranked.join(F.broadcast(tgt), cond & (lo_in | hi_in))
    v = F.col(value_col).cast("double")

    # ONE agg folds both the per-target order-statistic pick and the
    # qi->column pivot (the (group, qi) grain is tiny; a second
    # exchange for it would be pure stage latency).
    def _q(i: int):
        qi = F.col("__qi") == i
        vlo = F.max(F.when(qi & lo_in, v))
        vhi = F.max(F.when(qi & hi_in, v))
        frac = F.max(F.when(qi, F.col("__frac")))
        # Percentile.getPercentile's interpolation, exactly: frac == 0
        # (the common integer-position case) returns vlo, zero float ops.
        return F.when(frac == 0.0, vlo).otherwise(
            (F.lit(1.0) - frac) * vlo + frac * vhi
        )

    aggs = [_q(i).alias(out_names[i]) for i in range(len(qs))]
    if count_col is not None:
        aggs.append(F.max("__n_total").alias(count_col))
    if mean_col is not None:
        # per-group constant on every tgt row; each group has >= 1 hit
        # (rank __lo always falls inside some value-run), so max = the
        # value
        aggs.append(F.max("__mean").alias(mean_col))
    return hits.groupBy(*gc).agg(*aggs)


def _windowed_percentiles(
    dv: DataFrame,
    value_col: str,
    qs: Sequence[float],
    out_names: Sequence[str],
    gc: list[str],
    count_col: str | None = None,
    mean_col: str | None = None,
) -> DataFrame:
    """Per-group window fold over the distinct-value contraction ``dv``.

    The high-cardinality complement of the range-arrangement plan: ONE
    shuffle on the group keys co-locates each group, a cumulative-sum
    window over the (small) per-group distinct values assigns exact
    rank intervals, and the rank targets are evaluated INLINE — ``n``
    is a per-group window constant, so ``q*(n-1)`` / floor / ceil /
    frac run as Spark double expressions (the identical IEEE steps the
    range path folds driver-side; ``FLOOR``/``CEIL`` on double return
    LONG, matching ``math.floor``/``math.ceil``). No driver state, no
    broadcast, no join: each value-run row checks whether it covers a
    target order statistic and one groupBy folds the pick + pivot.

    Memory is bounded by the largest single group's distinct values
    (window partition) — the inverse of the range path's bound. With
    an EMPTY ``gc`` this degrades to a single window partition; the
    caller contract routes that regime to the range path.
    """
    from pyspark.sql import Window

    w_ord = (
        Window.partitionBy(*gc)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*gc)
    ranked = (
        dv.withColumn("__end", F.sum("__cnt").over(w_ord) - 1)
        .withColumn("__start", F.col("__end") - F.col("__cnt") + 1)
        .withColumn("__n", F.sum("__cnt").over(w_all))
    )
    if mean_col is not None:
        # one more constant on the SAME window partition — no new
        # exchange (mean_col caller contract: exact weighted sums)
        ranked = ranked.withColumn(
            "__mean",
            F.sum(F.col(value_col).cast("double") * F.col("__cnt")).over(
                w_all
            )
            / F.col("__n"),
        )
    v = F.col(value_col).cast("double")
    aggs = []
    for i, q in enumerate(qs):
        p = F.lit(float(q)) * (F.col("__n") - F.lit(1)).cast("double")
        lo = F.floor(p)
        hi = F.ceil(p)
        frac = p - lo.cast("double")
        vlo = F.max(F.when(lo.between(F.col("__start"), F.col("__end")), v))
        vhi = F.max(F.when(hi.between(F.col("__start"), F.col("__end")), v))
        fr = F.max(frac)  # per-group constant; max = the value
        aggs.append(
            F.when(fr == 0.0, vlo)
            .otherwise((F.lit(1.0) - fr) * vlo + fr * vhi)
            .alias(out_names[i])
        )
    if count_col is not None:
        aggs.append(F.max("__n").alias(count_col))  # per-group constant
    if mean_col is not None:
        aggs.append(F.max("__mean").alias(mean_col))  # per-group constant
    return ranked.groupBy(*gc).agg(*aggs)
