"""Plan-shape regression for the bounded-shuffle per-source selections.

The low-cardinality ``source`` key makes ``Window.partitionBy("source")``
a scale-killer (one task absorbs ~corpus/|sources| rows at 100 TB), so
``per_source_topk_sample``, ``token_budget_curriculum``, and
``pack_sequences_greedy`` must keep their two-pass contraction as the
EXECUTED plan — these tests fail if anyone reintroduces a window.
Value-level correctness is covered by the DuckDB oracle battery
(test_queries_oracle.py); here we pin the plan shape.
"""

from __future__ import annotations

import pytest

from ai_powered_e_commerce_analytics_spark.plans.pretrain import (
    pack_sequences_greedy,
)
from ai_powered_e_commerce_analytics_spark.plans.sampling import (
    per_source_topk_sample,
    token_budget_curriculum,
    weighted_sample_aes,
)


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.mark.parametrize(
    "build",
    [per_source_topk_sample, token_budget_curriculum, pack_sequences_greedy,
     weighted_sample_aes],
    ids=lambda f: f.__name__,
)
def test_no_per_source_window_in_plan(spark, sf_dir, build):
    plan = _formatted_plan(build(spark, sf_dir))
    assert "Window" not in plan, plan
    # The local contraction must be an Arrow-batched Python island.
    assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan, plan


def test_topk_contraction_bounds_rows(spark, sf_dir):
    # The merge stage's input is the contraction output: at most K rows
    # per (source, arrow-batch). With one batch per partition upper
    # bound, survivors ≤ K × |sources| × #partitions — and the final
    # answer is exactly the window form's.
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        PER_SOURCE_K,
        _gate,
    )
    from ai_powered_e_commerce_analytics_spark.plans.spec import t

    got = per_source_topk_sample(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("gate", "doc_id")
    want = (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            _gate(F.col("doc_id").cast("string")).alias("gate"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= PER_SOURCE_K)
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_curriculum_matches_window_form(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ai_powered_e_commerce_analytics_spark.functions import tokens
    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        TOKEN_BUDGET,
    )
    from ai_powered_e_commerce_analytics_spark.plans.spec import t
    from ai_powered_e_commerce_analytics_spark.plans.textops import STOPWORDS

    got = token_budget_curriculum(spark, sf_dir)

    docs = t(spark, sf_dir, "documents")
    toks = tokens("text")
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0)) * (
        1 - stop_ratio
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        quality.alias("quality_score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w)).where(
        F.col("cum_tokens") - F.col("n_tokens") < TOKEN_BUDGET
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_curriculum_contraction_edge_cases(spark, tmp_path):
    # The contraction must equal the window form on the awkward inputs:
    # (a) quality-score TIES broken only by doc_id, (b) a doc straddling
    # the budget boundary exactly, (c) single-doc sources, (d) a source
    # whose total tokens are under budget (everything selected).
    import os

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ai_powered_e_commerce_analytics_spark.functions import tokens
    from ai_powered_e_commerce_analytics_spark.plans import sampling
    from ai_powered_e_commerce_analytics_spark.plans.spec import t as t_
    from ai_powered_e_commerce_analytics_spark.plans.textops import STOPWORDS

    rows = []
    # (a) ties: 40 docs with IDENTICAL text (same quality, same tokens)
    for i in range(40):
        rows.append((100 + i, "alpha beta gamma delta epsilon " * 10, "ties"))
    # (b) boundary: docs of exactly 100 tokens each; budget 500 → the
    # 5th doc ENDS exactly at 500 and the 6th must be excluded
    for i in range(8):
        rows.append((200 + i, " ".join(f"w{j}" for j in range(100)), "edge"))
    # (c) single-doc source
    rows.append((300, "lonely document with some words here", "solo"))
    # (d) tiny source fully under budget
    for i in range(3):
        rows.append((400 + i, "short text", "tiny"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["lang"] = "en"
    pdf["n_chars"] = pdf["text"].str.len()
    sf = os.path.join(str(tmp_path), "sfZ")
    os.makedirs(sf)
    spark.createDataFrame(pdf).repartition(7).write.parquet(
        os.path.join(sf, "documents.parquet")
    )

    got = sorted(
        map(tuple, sampling.token_budget_curriculum(spark, sf).collect())
    )

    docs = t_(spark, sf, "documents")
    toks = tokens("text")
    stop_ratio = (
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast("double")
        / F.size(toks)
    )
    quality = F.least(F.lit(1.0), F.size(toks) / F.lit(100.0)) * (
        1 - stop_ratio
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        quality.alias("quality_score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("quality_score"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = sorted(
        map(
            tuple,
            scored.withColumn("cum_tokens", F.sum("n_tokens").over(w))
            .where(
                F.col("cum_tokens") - F.col("n_tokens")
                < sampling.TOKEN_BUDGET
            )
            .collect(),
        )
    )
    assert got == want
    # sanity on the planted semantics: the 'edge' source keeps exactly 5
    # docs (5 × 100 tokens fills the 500 budget; doc 6 starts AT 500)
    edge_rows = [r for r in got if r[1] == "edge"]
    assert len(edge_rows) == 5
    # the tiny source keeps everything
    assert len([r for r in got if r[1] == "tiny"]) == 3


def test_curriculum_contraction_under_skewed_partitioning(spark):
    # The superset property must hold under ANY physical partitioning:
    # plant a corpus where one source's best docs are scattered across
    # partitions and verify the selection over a 16-partition shuffle of
    # the input matches a single-partition run.
    import pandas as pd

    from ai_powered_e_commerce_analytics_spark.plans import sampling

    rows = []
    for s in range(3):
        for i in range(200):
            # quality proxy varies with i; tokens 5..25 words
            n_words = 5 + (i * 7) % 21
            rows.append(
                {
                    "doc_id": s * 1000 + i,
                    "text": " ".join(
                        f"w{j}" if j % 3 else "the" for j in range(n_words)
                    ),
                    "lang": "en",
                    "source": f"s{s}",
                    "n_chars": n_words * 3,
                }
            )
    pdf = pd.DataFrame(rows)
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        sf = os.path.join(tmp, "sfX")
        os.makedirs(sf)
        one = spark.createDataFrame(pdf).coalesce(1)
        one.write.parquet(os.path.join(sf, "documents.parquet"))
        single = sorted(
            map(tuple, sampling.token_budget_curriculum(spark, sf).collect())
        )
        many_dir = os.path.join(tmp, "sfY")
        os.makedirs(many_dir)
        spark.createDataFrame(pdf).repartition(16).write.parquet(
            os.path.join(many_dir, "documents.parquet")
        )
        many = sorted(
            map(
                tuple,
                sampling.token_budget_curriculum(spark, many_dir).collect(),
            )
        )
    assert single == many
    assert len(single) > 0


def test_weighted_sample_aes_matches_reference(spark, tmp_path):
    # Independent reference: the same A-ES construction computed with
    # hashlib + math on the driver. Selection identity (doc_id, rank)
    # must match exactly; e_micro itself is compared through the DuckDB
    # oracle battery instead (ln's last-ulp engine variance is absorbed
    # by the micro-nat grid, but the reference here re-derives it in a
    # THIRD engine, so assert on the order it induces, not the longs).
    import hashlib
    import math

    import pandas as pd

    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        AES_K,
        AES_SEED,
        _U_DEN,
    )

    rows = [
        (i, "web" if i % 3 else "books", 37 + (i * 61) % 900)
        for i in range(1, 241)
    ]
    pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"]).assign(
        text="x", lang="en"
    ).to_parquet(tmp_path / "documents.parquet", index=False)

    def clock(doc_id, w):
        h = int(
            hashlib.md5(f"{doc_id}#{AES_SEED}".encode()).hexdigest()[:15], 16
        )
        u = ((h % _U_DEN) + 1) / _U_DEN
        return round(-math.log(u) / w * 1e6)

    want = set()
    for src in ("web", "books"):
        ranked = sorted(
            ((clock(d, w), d) for d, s, w in rows if s == src),
        )[:AES_K]
        want |= {(d, src, i + 1) for i, (_, d) in enumerate(ranked)}

    got = {
        (r.doc_id, r.source, r.rk)
        for r in weighted_sample_aes(spark, str(tmp_path)).collect()
    }
    assert got == want


def test_weighted_sample_aes_weight_dominance(spark, tmp_path):
    # A document 10^7 times heavier than its peers draws a clock ~10^7
    # times smaller — it must head its source's sample (doc_id 0 also
    # wins any quantized-to-zero tie deterministically).
    import pandas as pd

    rows = [(0, "web", 10_000_000)] + [(i, "web", 1) for i in range(1, 60)]
    pd.DataFrame(rows, columns=["doc_id", "source", "n_chars"]).assign(
        text="x", lang="en"
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    top = [
        r
        for r in weighted_sample_aes(spark, str(tmp_path)).collect()
        if r.rk == 1
    ]
    assert len(top) == 1 and top[0].doc_id == 0


def test_weighted_allocated_allocation_arithmetic_exact(spark, sf_dir):
    """VERDICT r10 #6 done-condition: the Neyman/largest-remainder
    allocation is asserted EXACTLY against a pure-Python integer replay
    (no Spark, no DuckDB — independent arithmetic)."""
    import math

    import pandas as pd

    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        ALLOC_BUDGET,
        weighted_sample_allocated,
    )

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "source", "n_chars"]
    ]
    pdf = pdf[pdf["doc_id"].notna() & (pdf["n_chars"] > 0)]
    stats: dict[str, tuple[int, int, int]] = {}
    for src, g in pdf.groupby("source"):
        xs = [int(x) for x in g["n_chars"]]
        stats[src] = (len(xs), sum(xs), sum(x * x for x in xs))
    w = {
        s: int(math.floor(math.sqrt(n * ss - x * x) + 0.5))
        for s, (n, x, ss) in stats.items()
    }
    tw = max(sum(w.values()), 1)
    base = {s: (ALLOC_BUDGET * v) // tw for s, v in w.items()}
    rem = {s: (ALLOC_BUDGET * v) % tw for s, v in w.items()}
    leftover = ALLOC_BUDGET - sum(base.values())
    order = sorted(stats, key=lambda s: (-rem[s], s))
    expected = {
        s: base[s] + (1 if i < leftover else 0)
        for i, s in enumerate(order)
    }
    assert sum(expected.values()) == ALLOC_BUDGET

    out = weighted_sample_allocated(spark, sf_dir).collect()
    got = {}
    for r in out:
        got.setdefault(r["source"], r["k_alloc"])
        assert r["k_alloc"] == expected[r["source"]]
        assert r["rk"] <= r["k_alloc"]
    # every source with a positive allocation contributed exactly
    # min(k_alloc, stratum size) rows
    per_source = pd.DataFrame([(r["source"],) for r in out],
                              columns=["source"]).value_counts()
    for s, k in expected.items():
        want = min(k, stats[s][0])
        have = int(per_source.get((s,), 0))
        assert have == want, (s, k, want, have)


def test_weighted_allocated_corpus_side_stays_contracted(spark, sf_dir):
    """The global budget must not smuggle a per-source corpus window
    back in: the only Window that executes is the O(|sources|)
    largest-remainder rank; the corpus side stays the Arrow-batched
    two-pass contraction."""
    from ai_powered_e_commerce_analytics_spark.plans.probes import (
        executing_plan_census,
    )
    from ai_powered_e_commerce_analytics_spark.plans.sampling import (
        weighted_sample_allocated,
    )

    df = weighted_sample_allocated(spark, sf_dir)
    df.collect()
    # Walk the executed plan's nodes: the allocation is cached, and the
    # printed plan shows its adaptive build twice (final and initial
    # plan), so a text count sees the one window twice.
    census = executing_plan_census(df)
    assert census["nodes"].get("WindowExec") == 1, census
    assert census["nodes"].get("MapInPandasExec", 0) >= 1, census
