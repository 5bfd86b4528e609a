"""Embedding-drift monitor (VERDICT r12 #2): the cheap leading
indicator of the ANN retrain loop.

Contract under test:

- the oracle-gated ``embedding_drift_psi`` frame is internally
  consistent (micro longs are the truth, doubles derive from them);
- an index scores ZERO drift against its own training corpus;
- a planted re-embedding (per-dimension translation — the classic
  upstream model-version bump) trips the band while recall@k measured
  by the EXPENSIVE health check stays flat: translation preserves all
  pairwise L2 distances, so the moments monitor is strictly earlier
  than the recall monitor on this failure mode;
- the streamed covariance store carries the identical sufficient
  statistics (count / per-dim / diagonal rows), so drift read from the
  store is bit-identical to drift computed from the ingested rows.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.operators.ann_index import (
    build_ivfpq_index,
    check_index_drift,
    check_index_health,
)
from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
    COV_FP,
    EMBED_DIM,
    KNN_QUERIES,
    _emb,
    covariance_partials,
    drift_dim_sums,
    drift_frame,
    drift_sums_from_cov_sums,
    embedding_drift_psi,
)

from conftest import SF_DIR
from tests.test_streaming import _await

#: dims translated by the planted "model bump" and its size in σ units
_PLANT_DIMS = 8
_PLANT_SIGMA = 0.6


def _xfp_frame(df, col="emb"):
    return df.select(
        F.transform(
            col, lambda x: F.round(x * F.lit(COV_FP), 0).cast("long")
        ).alias("xfp")
    )


def test_drift_query_internally_consistent(spark):
    rows = embedding_drift_psi(spark, SF_DIR).collect()
    assert len(rows) == EMBED_DIM
    for r in rows:
        assert r["n_ref"] > 0 and r["n_cur"] > 0
        if r["shift_micro"] is None:
            assert r["drift_band"] == "degenerate"
            continue
        assert r["mean_shift"] == r["shift_micro"] / 1e6
        assert r["var_ratio"] == r["var_ratio_micro"] / 1e6
        want = (
            "stable"
            if r["shift_micro"] < 100_000
            else "moderate" if r["shift_micro"] < 250_000 else "major"
        )
        assert r["drift_band"] == want


def test_index_scores_zero_drift_on_its_training_corpus(spark, tmp_path):
    out = str(tmp_path / "idx")
    build_ivfpq_index(spark, SF_DIR, out, table="t_drift_zero", buckets=8)
    rows = check_index_drift(
        spark, out, _emb(spark, SF_DIR).select("vec_id", "emb")
    ).collect()
    assert len(rows) == EMBED_DIM
    assert all(r["shift_micro"] == 0 for r in rows)
    assert all(r["var_ratio_micro"] == 1_000_000 for r in rows)
    assert all(r["drift_band"] == "stable" for r in rows)


def _translated_corpus(spark):
    """The planted model bump: the first _PLANT_DIMS dimensions shift
    by _PLANT_SIGMA of their own std — far past the 0.25σ major band —
    while the translation is small relative to vector norms, so the
    geometry the index serves is near-unchanged."""
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values(
        "vec_id"
    )
    mat = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
    stds = mat.std(axis=0, ddof=0)
    shifted = mat.copy()
    shifted[:, :_PLANT_DIMS] += _PLANT_SIGMA * stds[:_PLANT_DIMS]
    return spark.createDataFrame(
        [
            (int(v), [float(x) for x in row])
            for v, row in zip(pdf["vec_id"], shifted)
        ],
        "vec_id long, emb array<double>",
    )


def test_planted_reembedding_trips_band_before_recall_degrades(
    spark, tmp_path
):
    out = str(tmp_path / "idx")
    build_ivfpq_index(spark, SF_DIR, out, table="t_drift_plant", buckets=8)
    base = _emb(spark, SF_DIR).select("vec_id", "emb")
    translated = _translated_corpus(spark)

    # 1. the cheap monitor fires: every planted dim reads major
    bands = {
        int(r["dim"]): r["drift_band"]
        for r in check_index_drift(spark, out, translated).collect()
    }
    assert all(bands[d] == "major" for d in range(_PLANT_DIMS)), bands
    assert all(
        bands[d] == "stable" for d in range(_PLANT_DIMS, EMBED_DIM)
    ), bands

    # 2. the expensive check does NOT: translation preserves pairwise
    # L2, so exact ground truth relabels nothing and served recall on
    # the re-embedded world stays at the clean index's level
    def _queries(c):
        return c.where(F.col("vec_id") < KNN_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
        )

    clean = check_index_health(
        spark, out, _queries(base), base, recall_floor=0.0
    )
    # the floor an operator would set: just under the healthy reading
    floor = clean["recall"] - 0.05
    drifted = check_index_health(
        spark,
        out,
        _queries(translated),
        translated,
        recall_floor=floor,
        drift_corpus=translated,
    )
    assert drifted["recall"] >= floor, (drifted["recall"], clean["recall"])
    assert not drifted["retrain_needed"]
    # 3. and the health report carries the pre-check that DID fire
    assert drifted["drift"]["n_drifted"] >= _PLANT_DIMS
    assert drifted["drift"]["bands"].get("major", 0) >= _PLANT_DIMS
    assert drifted["drift"]["max_shift_micro"] >= 250_000


def test_drift_sums_from_cov_sums_bit_identical(spark):
    """The covariance partials' count/per-dim/diagonal rows ARE the
    drift moments — the adapter recomputes nothing, so drift read off a
    covariance-sums frame (batch or streamed store) is bit-identical to
    the direct fold."""
    e = _xfp_frame(_emb(spark, SF_DIR))
    direct = drift_dim_sums(e)
    via_cov = drift_sums_from_cov_sums(
        covariance_partials(e).groupBy("i", "j").agg(F.sum("v").alias("v"))
    )
    assert sorted(tuple(r) for r in direct.collect()) == sorted(
        tuple(r) for r in via_cov.collect()
    )
    # and through the comparison frame too
    a = sorted(tuple(r) for r in drift_frame(direct, direct).collect())
    b = sorted(tuple(r) for r in drift_frame(via_cov, via_cov).collect())
    assert a == b and len(a) == EMBED_DIM


def test_drift_from_streamed_store_matches_batch(spark, tmp_path):
    """An ingest stream's covariance store already holds the drift
    sufficient statistics: drift_from_store against a frozen reference
    equals the batch drift over exactly the streamed rows."""
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        covariance_sums_stream,
        drift_from_store,
    )

    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet").sort_values(
        "vec_id"
    ).head(40)
    rows = [
        (int(v), [float(x) for x in e], "t")
        for v, e in zip(pdf["vec_id"], pdf["embedding"])
    ]
    schema = "vec_id long, embedding array<double>, ts string"
    src, out, ckpt = (str(tmp_path / d) for d in ("in", "store", "ck"))
    for i, chunk in enumerate((rows[:25], rows[25:])):
        spark.createDataFrame(chunk, schema).coalesce(1).write.mode(
            "overwrite"
        ).json(f"{src}/drop{i}")
        _await(covariance_sums_stream(spark, src, out, ckpt))

    ref = drift_dim_sums(_xfp_frame(_emb(spark, SF_DIR)))
    streamed = sorted(
        tuple(r) for r in drift_from_store(spark, out, ref).collect()
    )
    cur = drift_dim_sums(
        _xfp_frame(
            spark.createDataFrame(
                [(v, e) for v, e, _ in rows], "vec_id long, emb array<double>"
            )
        )
    )
    batch = sorted(tuple(r) for r in drift_frame(ref, cur).collect())
    assert streamed == batch and len(streamed) == EMBED_DIM


def test_degenerate_reference_dimension_reports_not_fudges(spark):
    """A zero-variance reference dimension cannot be standardized: the
    frame reports NULL metrics under the explicit 'degenerate' band
    instead of an epsilon fudge or a crash."""
    ref = spark.createDataFrame(
        [(0, 10, 100, 2000), (1, 10, 50, 250)], "d int, n long, s long, ss long"
    )
    # dim 1: mean = 5/FP, ss/n = 25/FP^2 -> var = 0 (constant column)
    cur = spark.createDataFrame(
        [(0, 4, 44, 500), (1, 4, 24, 144)], "d int, n long, s long, ss long"
    )
    rows = {r["d"] if "d" in r else r["dim"]: r for r in drift_frame(ref, cur).collect()}
    assert rows[1]["drift_band"] == "degenerate"
    assert rows[1]["shift_micro"] is None and rows[1]["var_ratio_micro"] is None
    assert rows[0]["drift_band"] in ("stable", "moderate", "major")
    assert rows[0]["shift_micro"] is not None


def test_rotation_class_drift_invisible_to_moments_caught_by_corr(spark):
    """The off-diagonal complement (embedding_corr_drift): negating one
    dimension — the simplest orthogonal transform — preserves every
    per-dimension mean and variance EXACTLY (symmetric marginal), so
    the moments monitor reads all-stable; but every correlation
    involving that dimension flips sign, and the correlation monitor
    flags the planted rho=1 pair at the maximum possible drift."""
    import hashlib

    from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
        _corr_frame,
        covariance_from_sums,
        covariance_partials,
    )

    def h(i, d):
        return (
            int.from_bytes(hashlib.md5(f"{i}:{d}".encode()).digest()[:4], "big")
            % 1000
        ) / 1000.0 - 0.4995

    n = 64
    clean = []
    for i in range(n):
        sign = 1.0 if i % 2 == 0 else -1.0
        v = [0.0] * EMBED_DIM
        v[0] = sign * (1.0 + (i // 2) / n)  # symmetric marginal, var > 0
        v[1] = v[0]                          # rho(0,1) = 1 by construction
        for d in range(2, EMBED_DIM):
            v[d] = h(i, d)
        clean.append(v)
    drifted = [[-row[0]] + row[1:] for row in clean]

    def frames(rows):
        df = spark.createDataFrame(
            [(i, r) for i, r in enumerate(rows)],
            "vec_id long, embedding array<double>",
        ).select(
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * COV_FP, 0).cast("long"),
            ).alias("xfp")
        )
        sums = covariance_partials(df).groupBy("i", "j").agg(
            F.sum("v").alias("v")
        )
        return drift_dim_sums(df), _corr_frame(covariance_from_sums(sums))

    dims_clean, corr_clean = frames(clean)
    dims_drift, corr_drift = frames(drifted)

    # 1. the per-dimension moments monitor sees NOTHING: negating a
    # symmetric marginal leaves every mean and variance bit-identical
    moments = drift_frame(dims_clean, dims_drift).collect()
    assert all(r["drift_band"] == "stable" for r in moments), moments
    assert all(r["shift_micro"] == 0 for r in moments)
    assert all(r["var_ratio_micro"] == 1_000_000 for r in moments)

    # 2. the correlation monitor flags it at maximum drift: the planted
    # rho(0,1)=1 pair flips to -1 (|delta| = 2)
    pairs = {
        (r["i"], r["j"]): r
        for r in corr_clean.select(
            "i", "j", F.col("corr").alias("corr_ref")
        )
        .join(
            corr_drift.select("i", "j", F.col("corr").alias("corr_cur")),
            ["i", "j"],
        )
        .select(
            "i",
            "j",
            F.round(
                F.abs(F.col("corr_cur") - F.col("corr_ref")) * 1_000_000, 0
            )
            .cast("long")
            .alias("dmicro"),
        )
        .collect()
    }
    assert pairs[(0, 1)]["dmicro"] == 2_000_000  # rho 1 -> -1
    # dims >= 2 keep their structure: nothing there crosses moderate
    quiet = [
        r["dmicro"] for (i, j), r in pairs.items() if i >= 2 and j >= 2
    ]
    assert quiet and max(quiet) == 0
