"""Persisted band-key corpus index (operators/corpus_index.py): the
full-history ingest dedup axis (VERDICT r14 next-round #4).

Covers: key-grain parity with the oracle-gated batch twin, the
DPP-probed match path, append idempotence + the replay shield,
generation compaction + sweep, and — end-to-end through
documents_ingest_stream — the past-watermark duplicate that the
windowed stateful dedup alone would admit, via BOTH layers (the
static stream-start pre-filter and the live foreachBatch check).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.operators.corpus_index import (
    append_corpus_keys,
    compact_corpus_index,
    dedup_against_index,
    init_corpus_index,
    load_corpus_index,
    sweep_corpus_index,
)
from ai_powered_e_commerce_analytics_spark.plans.textops import (
    LSH_BANDS,
    doc_band_keys,
)
from tests.test_streaming import _await

TEXT_A = (
    "optimistic concurrency control publishes a manifest generation and "
    "readers observe the previous state or the next one never a torn mix "
    "of data files across the atomic swap boundary"
)
# near-dup of TEXT_A: one trailing word changed — shares the bulk of its
# shingles, so at least one LSH band collides (deterministic: fixed
# hash seeds; asserted explicitly in test_near_dup_text_shares_a_band).
TEXT_A_NEAR = TEXT_A.replace("swap boundary", "swap frontier")
TEXT_B = (
    "dynamic partition pruning skips every key bucket the broadcast "
    "probe side does not touch so index scans cost matching buckets "
    "only instead of the complete history each batch"
)
TEXT_C = (
    "watermarks bound streaming state by event time and expire entries "
    "older than the delay threshold which is exactly why history needs "
    "a persisted key index beside the window"
)
TEXT_D = (
    "completely unrelated prose about greedy survivor selection under "
    "transitive minhash clustering with connected components computed "
    "in logarithmic rounds over narrow edge frames"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_near_dup_text_shares_a_band(spark):
    # the fixture premise every other test leans on, pinned explicitly
    keys = doc_band_keys(
        _docs(spark, [(1, TEXT_A), (2, TEXT_A_NEAR), (3, TEXT_D)])
    ).collect()
    by_doc = {}
    for r in keys:
        by_doc.setdefault(r.doc_id, set()).add((r.band, r.band_sig))
    assert len(by_doc[1]) == LSH_BANDS
    assert by_doc[1] & by_doc[2], "near-dup must share >= 1 band key"
    assert not by_doc[1] & by_doc[3], "unrelated text must share none"


def test_init_append_load_roundtrip(spark, tmp_path):
    out = str(tmp_path / "idx")
    m = init_corpus_index(
        spark, out, _docs(spark, [(1, TEXT_A), (2, TEXT_B), (3, "")])
    )
    assert m["generation"] == 0 and m["tokens"] == ["base"]
    idx = load_corpus_index(spark, out)
    rows = idx.collect()
    # shingle-less doc 3 emits nothing; banded docs emit LSH_BANDS each
    assert len(rows) == 2 * LSH_BANDS
    nkb = m["n_key_buckets"]
    assert all(0 <= r.kb < nkb for r in rows)
    with pytest.raises(ValueError, match="already exists"):
        init_corpus_index(spark, out)


def test_dedup_against_index_semantics(spark, tmp_path):
    out = str(tmp_path / "idx")
    init_corpus_index(spark, out, _docs(spark, [(1, TEXT_A), (2, TEXT_B)]))
    batch = _docs(
        spark,
        [(10, TEXT_A_NEAR), (11, TEXT_C), (12, "")],  # dup / fresh / short
    )
    kept = {
        r.doc_id
        for r in dedup_against_index(spark, out, batch).collect()
    }
    assert kept == {11, 12}


def test_dedup_against_index_probe_is_dpp_pruned(spark, tmp_path):
    # the 100 TB contract: the index scan must carry a dynamic-pruning
    # subquery on the kb partition column fed by the broadcast probe —
    # O(matching buckets) of index read per batch, never O(history).
    out = str(tmp_path / "idx")
    init_corpus_index(spark, out, _docs(spark, [(1, TEXT_A), (2, TEXT_B)]))
    survivors = dedup_against_index(
        spark, out, _docs(spark, [(10, TEXT_A_NEAR), (11, TEXT_C)])
    )
    plan = survivors._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_append_idempotent_and_replay_shield(spark, tmp_path):
    out = str(tmp_path / "idx")
    init_corpus_index(spark, out)
    assert load_corpus_index(spark, out) is None
    keys = doc_band_keys(_docs(spark, [(1, TEXT_A)])).select(
        "band", "band_sig"
    )
    n1 = append_corpus_keys(spark, out, keys, "batch_7")
    n2 = append_corpus_keys(spark, out, keys, "batch_7")  # replay
    assert n1 == n2 == LSH_BANDS
    assert load_corpus_index(spark, out).count() == LSH_BANDS
    # the replay shield: a batch must not see its own appended keys
    assert load_corpus_index(spark, out, exclude_token="batch_7") is None
    with pytest.raises(ValueError, match="bad token"):
        append_corpus_keys(spark, out, keys, "../evil")


def test_compact_sweep_and_post_compact_append(spark, tmp_path):
    out = str(tmp_path / "idx")
    init_corpus_index(spark, out, _docs(spark, [(1, TEXT_A)]))
    keys_b = doc_band_keys(_docs(spark, [(2, TEXT_B)])).select(
        "band", "band_sig"
    )
    append_corpus_keys(spark, out, keys_b, "batch_1")
    # duplicate append under a second token: compaction must fold it
    append_corpus_keys(spark, out, keys_b, "batch_2")
    before = {
        (r.band, r.band_sig)
        for r in load_corpus_index(spark, out).collect()
    }
    m = compact_corpus_index(spark, out)
    assert m["generation"] == 1 and m["tokens"] == ["base"]
    after = load_corpus_index(spark, out)
    assert {
        (r.band, r.band_sig) for r in after.collect()
    } == before
    assert after.count() == 2 * LSH_BANDS  # distinct folded the dup
    # old generation swept only on request, then gone
    assert os.path.exists(f"{out}/gen0")
    sweep_corpus_index(out)
    assert not os.path.exists(f"{out}/gen0")
    # appends keep working against the new generation
    keys_c = doc_band_keys(_docs(spark, [(3, TEXT_C)])).select(
        "band", "band_sig"
    )
    append_corpus_keys(spark, out, keys_c, "batch_3")
    assert load_corpus_index(spark, out).count() == 3 * LSH_BANDS


def test_operator_matches_oracle_gated_twin(spark, sf_dir, tmp_path):
    """The persisted path and the oracle-gated batch twin
    (plans/textops.dedup_against_corpus_index) must agree doc-for-doc:
    index the mod-split history slice of the fixture corpus, probe with
    the new slice, and compare survivors to the twin's accepted set."""
    from ai_powered_e_commerce_analytics_spark.plans.textops import (
        CORPUS_INDEX_NEW_MOD,
        dedup_against_corpus_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    is_new = F.col("doc_id") % CORPUS_INDEX_NEW_MOD == 0
    out = str(tmp_path / "idx")
    init_corpus_index(spark, out, docs.where(~is_new))
    kept = {
        r.doc_id
        for r in dedup_against_index(
            spark, out, docs.where(is_new)
        ).collect()
    }
    twin = dedup_against_corpus_index(spark, sf_dir).collect()
    accepted = {r.doc_id for r in twin if r.accepted}
    rejected = {r.doc_id for r in twin if not r.accepted}
    assert kept == accepted
    assert rejected, "fixture must exercise the rejection path"


def _write_doc_file(spark, src, rows):
    spark.createDataFrame(
        rows, "doc_id long, text string, ts string"
    ).coalesce(1).write.mode("append").json(src)


def test_ingest_static_prefilter_drops_past_watermark_dup(spark, tmp_path):
    """Three RUNS of the ingest job (shared checkpoint, 10 s watermark,
    hours between event times): by run 3 the original's LSH state has
    long expired, so without the index the near-dup would be accepted.
    The stream-START static pre-filter (layer 1) must drop it; a fresh
    doc in the same run must pass."""
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    init_corpus_index(spark, idx)

    def run():
        _await(
            documents_ingest_stream(
                spark, src, out, ckpt,
                watermark="10 seconds", corpus_index_dir=idx,
            )
        )

    _write_doc_file(spark, src, [(1, TEXT_A, "2024-01-01 00:00:00")])
    run()
    _write_doc_file(spark, src, [(2, TEXT_B, "2024-01-01 05:00:00")])
    run()
    _write_doc_file(
        spark, src,
        [(3, TEXT_A_NEAR, "2024-01-01 10:00:00"),
         (4, TEXT_C, "2024-01-01 10:00:01")],
    )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2, 4}
    # and the index learned the accepted docs' keys, not the reject's
    n_keys = load_corpus_index(spark, idx).count()
    assert n_keys == 3 * LSH_BANDS


def test_ingest_live_check_drops_same_run_expired_dup(spark, tmp_path):
    """ONE run, three micro-batches (maxFilesPerTrigger=1): the
    original is accepted in batch 0, its watermark state expires after
    batch 1's event time advances, and its near-dup arrives in batch 2.
    The static pre-filter was resolved when the index was EMPTY, so
    only the foreachBatch live check (layer 2) can drop it — the
    same-run past-watermark gap VERDICT r14 #4 names."""
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    init_corpus_index(spark, idx)
    # One file per micro-batch, FIFO by mtime. State eviction runs at
    # the END of a batch with the PREVIOUS batch's watermark, so the
    # original's expired key needs one spacer batch (doc 5) between the
    # watermark-advancing doc and the duplicate — the control test
    # below proves the windowed state alone then admits the dup.
    _write_doc_file(spark, src, [(1, TEXT_A, "2024-01-01 00:00:00")])
    _write_doc_file(spark, src, [(2, TEXT_B, "2024-01-01 05:00:00")])
    _write_doc_file(spark, src, [(5, TEXT_D, "2024-01-01 06:00:00")])
    _write_doc_file(
        spark, src,
        [(3, TEXT_A_NEAR, "2024-01-01 10:00:00"),
         (4, TEXT_C, "2024-01-01 10:00:01")],
    )
    _await(
        documents_ingest_stream(
            spark, src, out, ckpt,
            watermark="10 seconds", corpus_index_dir=idx,
            max_files_per_trigger=1,
        )
    )
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 5, 4}


def test_ingest_without_index_admits_past_watermark_dup(spark, tmp_path):
    """The control: the SAME same-run scenario with no corpus index
    admits the past-watermark near-dup — proving the gap is real and
    the index (not the windowed state) is what closes it."""
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    _write_doc_file(spark, src, [(1, TEXT_A, "2024-01-01 00:00:00")])
    _write_doc_file(spark, src, [(2, TEXT_B, "2024-01-01 05:00:00")])
    _write_doc_file(spark, src, [(5, TEXT_D, "2024-01-01 06:00:00")])
    _write_doc_file(
        spark, src, [(3, TEXT_A_NEAR, "2024-01-01 10:00:00")]
    )
    _await(
        documents_ingest_stream(
            spark, src, out, ckpt,
            watermark="10 seconds", max_files_per_trigger=1,
        )
    )
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 5, 3}


def _py_band_keys(text):
    """Pure-Python THIRD implementation of the shared band-key chain
    (tokens → 3-word shingles → md5-prefix hash mod 2^30 → 12
    universal-hash minhashes mod 2^61-1 → 3 concat band sigs) — written
    from the documented contract, not from either engine's expression
    tree. Spark and the DuckDB oracle share literal constants, so their
    agreement alone cannot catch an error baked into the shared
    derivation; this replay can (the retrieval-eval independent-replay
    pattern)."""
    import hashlib
    import re

    from ai_powered_e_commerce_analytics_spark.plans.textops import (
        _MH_A,
        _MH_B,
        LSH_BANDS,
        MERSENNE61,
        MINHASH_HASHES,
        SHINGLE_K,
    )

    if text is None or not text.strip():
        return []
    toks = re.split(r"\s+", text.strip())
    n = len(toks)
    shingles = {
        " ".join(toks[i:i + SHINGLE_K])
        for i in range(max(n - SHINGLE_K + 1, 0))
    }
    if not shingles:
        return []
    hs = [
        int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % (1 << 30)
        for s in shingles
    ]
    mh = [
        min((_MH_A[j] * h + _MH_B[j]) % MERSENNE61 for h in hs)
        for j in range(MINHASH_HASHES)
    ]
    rows = MINHASH_HASHES // LSH_BANDS
    return [
        (b, "_".join(str(mh[b * rows + r]) for r in range(rows)))
        for b in range(LSH_BANDS)
    ]


def test_band_keys_match_pure_python_replay(spark, sf_dir):
    """Every (doc_id, band, band_sig) Spark emits over the fixture
    corpus equals the independent Python recomputation — and therefore
    so do the stream's and the index's keys (all route through
    doc_band_keys' helpers)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    got = {}
    for r in doc_band_keys(docs).collect():
        got.setdefault(r.doc_id, set()).add((r.band, r.band_sig))
    raw = {r.doc_id: r.text for r in docs.collect() if r.doc_id is not None}
    want = {
        did: set(_py_band_keys(text))
        for did, text in raw.items()
        if _py_band_keys(text)
    }
    assert got == want
    assert len(want) >= 400  # the fixture is not trivially short-doc


def test_accept_decision_matches_pure_python_replay(spark, sf_dir):
    """The oracle-gated twin's accept/reject per incoming doc equals
    the brute-force Python decision (any band key present in the
    recomputed history key set) — closing the loop on the matching
    semantics with an implementation that shares NOTHING with Spark or
    DuckDB."""
    from ai_powered_e_commerce_analytics_spark.plans.textops import (
        CORPUS_INDEX_NEW_MOD,
        dedup_against_corpus_index,
    )

    raw = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
        if r.doc_id is not None
    }
    hist_keys = set()
    for did, text in raw.items():
        if did % CORPUS_INDEX_NEW_MOD != 0:
            hist_keys.update(_py_band_keys(text))
    expect = {}
    for did, text in raw.items():
        if did % CORPUS_INDEX_NEW_MOD == 0:
            hits = {
                b for (b, sig) in _py_band_keys(text)
                if (b, sig) in hist_keys
            }
            expect[did] = (len(hits), len(hits) == 0)
    got = {
        r.doc_id: (r.n_band_hits, r.accepted)
        for r in dedup_against_corpus_index(spark, sf_dir).collect()
    }
    assert got == expect
    assert any(not acc for _, acc in expect.values())


def test_ingest_compaction_cadence_preserves_history(spark, tmp_path):
    """index_compact_every folds token dirs mid-stream without losing
    history: four fresh docs through one-file batches at cadence 2,
    then a LATER RUN presents a near-dup of the very first doc — it
    must still be rejected (its keys live in the compacted base), and
    the token count stays bounded."""
    from ai_powered_e_commerce_analytics_spark.operators.corpus_index import (
        corpus_index_manifest,
    )
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    init_corpus_index(spark, idx)

    def run():
        _await(
            documents_ingest_stream(
                spark, src, out, ckpt,
                watermark="10 seconds", corpus_index_dir=idx,
                index_compact_every=2, max_files_per_trigger=1,
            )
        )

    fresh = [TEXT_A, TEXT_B, TEXT_C, TEXT_D]
    for i, text in enumerate(fresh):
        _write_doc_file(
            spark, src, [(i + 1, text, f"2024-01-01 0{i}:00:00")]
        )
    run()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {
        1, 2, 3, 4,
    }
    m = corpus_index_manifest(idx)
    assert m["generation"] >= 1, "cadence compaction never ran"
    assert len(m["tokens"]) <= 3
    assert m["tombstoned"], "old generations should await a CLI sweep"
    # all 4 docs' keys survived the folds
    assert load_corpus_index(spark, idx).count() == 4 * LSH_BANDS

    _write_doc_file(
        spark, src, [(9, TEXT_A_NEAR, "2024-01-02 00:00:00")]
    )
    run()
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 3, 4}, "compacted history failed to reject a dup"


def test_ingest_replay_with_compaction_enabled(spark, tmp_path):
    """Crash replay (lost commit marker) with the cadence enabled: the
    replayed batch must skip compaction (its own token is already
    recorded) and rewrite identical state — no self-drop, no duplicate
    corpus rows, no key loss."""
    import os

    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    init_corpus_index(spark, idx)

    def run():
        _await(
            documents_ingest_stream(
                spark, src, out, ckpt,
                watermark="10 seconds", corpus_index_dir=idx,
                index_compact_every=1, max_files_per_trigger=1,
            )
        )

    _write_doc_file(spark, src, [(1, TEXT_A, "2024-01-01 00:00:00")])
    _write_doc_file(spark, src, [(2, TEXT_B, "2024-01-01 01:00:00")])
    run()
    first = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert first == [1, 2]
    n_keys = load_corpus_index(spark, idx).count()

    commits = sorted(
        c for c in os.listdir(f"{ckpt}/commits") if not c.startswith(".")
    )
    os.remove(f"{ckpt}/commits/{commits[-1]}")
    crc = f"{ckpt}/commits/.{commits[-1]}.crc"
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert sorted(
        r.doc_id for r in spark.read.parquet(out).collect()
    ) == first
    assert load_corpus_index(spark, idx).count() == n_keys


def test_ingest_live_check_alone_covers_history(spark, tmp_path):
    """static_prefilter=False (the very-large-index trade): the
    three-RUN past-watermark scenario from the static test, but with
    layer 1 disabled — the per-batch DPP-probed live check must carry
    the full-history guarantee by itself."""
    from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
        documents_ingest_stream,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ck")
    idx = str(tmp_path / "idx")
    init_corpus_index(spark, idx)

    def run():
        _await(
            documents_ingest_stream(
                spark, src, out, ckpt,
                watermark="10 seconds", corpus_index_dir=idx,
                static_prefilter=False,
            )
        )

    _write_doc_file(spark, src, [(1, TEXT_A, "2024-01-01 00:00:00")])
    run()
    _write_doc_file(spark, src, [(2, TEXT_B, "2024-01-01 05:00:00")])
    run()
    _write_doc_file(spark, src, [(5, TEXT_D, "2024-01-01 06:00:00")])
    run()
    _write_doc_file(
        spark, src,
        [(3, TEXT_A_NEAR, "2024-01-01 10:00:00"),
         (4, TEXT_C, "2024-01-01 10:00:01")],
    )
    run()
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == {1, 2, 5, 4}
