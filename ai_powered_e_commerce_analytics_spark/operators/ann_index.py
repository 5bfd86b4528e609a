"""Persisted IVF-PQ ANN index: build once, serve many.

The oracle-gated ``plans/simsearch.simsearch_ivfpq_topk`` retrains the
codebook inside the query so DuckDB can replay it; a DEPLOYMENT does
that exactly once and serves every search from stored artifacts. This
module materializes that path:

- ``build_ivfpq_index`` writes three artifacts under ``out_dir``:
  the coarse IVF centroids (tiny parquet), the trained PQ codebook
  (M x K rows), and the per-vector CODES — (vec_id, ivf_cid, m,
  pq_cid), i.e. 4 small ints per vector instead of 64 doubles, the
  ~32x memory contraction that makes a 100 TB corpus's index fit a
  cluster — written BUCKETED by ``ivf_cid``
  (sources/bucketing.write_bucketed), so a search scans only its
  nprobe buckets off storage.
- ``ivfpq_search`` probes the centroids, computes the per-query ADC
  lookup table from the STORED codebook, prunes the codes scan to the
  probed buckets (``SelectedBucketsCount`` in the plan — the bucketing
  module's autoBucketedScan gotcha is handled here), and runs the SAME
  ADC assembly as the oracle-gated query (``plans/simsearch.adc_topk``
  and ``adc_lut_rows`` are shared code), so the served math IS the
  oracle-checked math — parity asserted in tests/test_ann_index.py.

Scale: build pays one training fixed point + one bucketed shuffle of
the 4-int code rows; each search touches nprobe buckets of int codes,
a query-sized probe table, and a Q x M x K-row LUT broadcast. Nothing
at serve time is corpus-sized except the pruned code scan.

OPQ flavor (r12): ``build_ivfpq_index(opq=True)`` learns the OPQ-P
rotation from the exact covariance, trains/encodes PQ in the rotated
space (lower reconstruction error), persists the rotation weights as a
fourth artifact, and rotates query vectors driver-side when building
the ADC LUT — build, append, and search are bit-consistent
(round-trip + self-duplicate-optimality tested).

Lifecycle (r12): ``append_to_index`` keeps the index fresh under the
FROZEN artifacts; ``compact_index`` folds the append residue into a
new bucketed generation with a retention-grace manifest swap (searches
bit-identical across the swap, superseded generation swept on the NEXT
compaction); ``check_index_health`` + ``ivfpq_recall_from_index`` are
the recall monitors — the former against exact L2 ground truth with a
``retrain_needed`` floor (the retrain trigger), the latter the
persisted-path twin of the oracle-gated recall query.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.simsearch import (
    IVF_NPROBE,
    KNN_K,
    _emb,
    _ivf_centroids,
    _pq_argmin,
    _pq_state,
    adc_lut_rows,
    adc_topk,
    ivf_assignment,
)
from ..functions.core import share
from ..sources.bucketing import write_bucketed
from ..sources.manifest import (
    load_json_manifest,
    local_path,
    publish_json_manifest,
)

_MANIFEST = "_index.json"
_AUTO_BUCKET_CONF = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
# The autoBucketedScan toggle in ivfpq_search is a SESSION-global conf:
# two concurrent searches on a shared SparkSession could interleave
# set/restore and either lose bucket pruning mid-window or leak the
# disabled state (ADVICE r11). Serialize the toggle window; planning a
# search is milliseconds, so contention is negligible. Callers needing
# truly parallel searches should isolate via spark.newSession() per
# thread (session-local confs, shared executors).
_CONF_TOGGLE_LOCK = threading.Lock()


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    table: str,
    buckets: int = 8,
    opq: bool = False,
) -> dict:
    """Train + materialize the IVF-PQ index under ``out_dir``; the code
    rows register as bucketed catalog table ``table`` (external path,
    so the files live with the other artifacts). Returns the manifest
    (also written to ``_index.json``).

    ``opq=True`` closes the covariance -> rotation -> codes loop in
    the SERVING path: the OPQ-P rotation is learned from the exact
    covariance (``plans/simsearch.opq_rotation``), PQ trains and
    encodes in the ROTATED space (lower reconstruction error per
    tests/test_opq.py), and the rotation weights persist as a fourth
    artifact so searches and appends rotate consistently. The IVF
    coarse quantizer stays in RAW space (an orthogonal rotation
    preserves the L2 geometry ADC approximates, and raw-space probing
    keeps the centroid artifact shared between both index flavors);
    only the PQ stage sees rotated coordinates."""
    # a REBUILD into an out_dir that already holds an index must not
    # orphan the old generations: the old manifest's active codes dir
    # and its pending_gc victims carry forward into the NEW manifest's
    # pending_gc (same retention grace as compaction — a reader holding
    # the pre-rebuild manifest finishes against intact files; the next
    # compact_index sweeps them). Resetting pending_gc to [] here leaked
    # old codes_g{N} dirs permanently (ADVICE r12).
    prev = load_json_manifest(out_dir, _MANIFEST)
    if opq:
        from ..plans.simsearch import (
            _pq_state_from_sub,
            _sub_split,
            apply_opq_rotation,
            opq_rotation,
            opq_vmat_flat,
        )

        V, alloc = opq_rotation(spark, sf_dir)
        flat = opq_vmat_flat(V, alloc)
        spark.createDataFrame(
            [(i, w) for i, w in enumerate(flat)], "pos int, w double"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{out_dir}/rotation"
        )
        # reuse the learned weights — apply_opq_rotation would otherwise
        # re-run the covariance contraction + 48 Jacobi rounds for the
        # same deterministic result (ADVICE r12)
        sub, cents = _pq_state_from_sub(
            _sub_split(apply_opq_rotation(spark, sf_dir, vmat_flat=flat))
        )
    else:
        sub, cents = _pq_state(spark, sf_dir)
    codes = sub.select(
        "vec_id", "m", _pq_argmin(cents)["cid"].alias("pq_cid")
    )
    assign = ivf_assignment(spark, sf_dir).select(
        "vec_id", F.col("cid").alias("ivf_cid")
    )
    write_bucketed(
        codes.join(assign, "vec_id"),
        table,
        "ivf_cid",
        buckets=buckets,
        path=f"{out_dir}/codes",
    )
    _ivf_centroids(_emb(spark, sf_dir)).write.mode("overwrite").parquet(
        f"{out_dir}/centroids"
    )
    # freeze the TRAINING corpus's per-dimension moment sums (raw
    # space, exact longs on the COV_FP grid) as a fifth artifact: the
    # cheap drift baseline — check_index_drift standardizes fresh
    # corpora against exactly the statistics the codebook was trained
    # on, no corpus rescan (VERDICT r12 #2)
    from ..plans.simsearch import COV_FP, drift_dim_sums

    drift_dim_sums(
        _emb(spark, sf_dir).select(
            F.transform(
                "emb",
                lambda x: F.round(x * F.lit(COV_FP), 0).cast("long"),
            ).alias("xfp")
        )
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/stats")
    cb_rows = [
        (m, cid, vec)
        for m, cent_list in sorted(cents.items())
        for cid, vec in cent_list
    ]
    spark.createDataFrame(
        cb_rows, "m int, cid long, cemb array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/codebook")
    new_codes = f"{out_dir}/codes"
    pending_gc: list[dict] = []
    if prev is not None:
        for victim in [
            *prev.get("pending_gc", []),
            {"table": prev["table"], "path": prev["codes_path"]},
        ]:
            # a victim whose directory this build just OVERWROTE (the
            # gen-0 codes dir) is not stale — listing it would have the
            # next compaction's sweep rmtree the LIVE generation
            if _norm_location(victim["path"]) != _norm_location(new_codes):
                pending_gc.append(victim)
    # generation is a MONOTONIC counter per out_dir, not "which dir is
    # live": a rebuild carries the old counter forward so the next
    # compaction names a FRESH codes_g{N+1} dir instead of re-using a
    # tombstoned generation's name right after sweeping it (a reader
    # holding the old manifest would see the new files under its path)
    manifest = {
        "table": table,
        "base_table": table,
        "codes_path": f"{out_dir}/codes",
        "buckets": buckets,
        "nprobe": IVF_NPROBE,
        "generation": int(prev.get("generation", 0)) if prev else 0,
        "pending_gc": pending_gc,
        "opq": bool(opq),
    }
    _publish_manifest(out_dir, manifest)
    return manifest


def _load_rotation(spark: SparkSession, out_dir: str) -> list[float]:
    """The persisted OPQ weight vector, out-position-major (the
    ``opq_rotate_col``/``opq_rotate_py`` layout). Parquet round-trips
    the doubles exactly, so rotated coordinates computed at build,
    append, and search time are bit-consistent."""
    rows = spark.read.parquet(f"{out_dir}/rotation").collect()
    flat = [0.0] * len(rows)
    for r in rows:
        flat[int(r["pos"])] = float(r["w"])
    return flat


def _load_manifest(out_dir: str) -> dict:
    """The index manifest (required — a missing one means no index was
    built at ``out_dir``). I/O goes through the shared
    ``sources/manifest.py`` helper, the single local-FS choke point
    whose docstring carries the object-store port constraint."""
    manifest = load_json_manifest(out_dir, _MANIFEST)
    if manifest is None:
        raise FileNotFoundError(
            f"no ANN index manifest at {out_dir}/{_MANIFEST} — run "
            "build_ivfpq_index (CLI: ann-index --action build) first"
        )
    return manifest


_CODES_SCHEMA_SQL = "(vec_id BIGINT, m INT, pq_cid BIGINT, ivf_cid BIGINT)"


def _norm_location(path: str) -> str:
    """Normalized comparison form of a table/manifest location (scheme
    stripped, absolute, trailing-slash-free) so catalog locations like
    ``file:/tmp/idx/codes`` compare equal to manifest paths like
    ``/tmp/idx/codes``."""
    return os.path.abspath(local_path(path)).rstrip("/")


def _table_location(spark: SparkSession, table: str) -> str | None:
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (r["col_name"] or "").strip() == "Location":
            return (r["data_type"] or "").strip()
    return None


def _ensure_table(spark: SparkSession, manifest: dict) -> None:
    """Re-register the bucketed codes table from the manifest when the
    session's catalog doesn't have it — the default in-memory catalog
    dies with the building session, but the ARTIFACTS (files + manifest)
    are the durable truth, so any fresh session (the CLI, a serving
    job) reconstructs the catalog entry with the same bucket spec and
    external location. Plain ``spark.read.parquet`` would lose the
    bucketing metadata and with it the pruned scan.

    An EXISTING catalog entry is trusted only if its location matches
    the manifest's ``codes_path`` (ADVICE r12): a stale same-name table
    from an earlier build or a different ``out_dir`` would otherwise
    pass the name check and silently serve the wrong files — the
    manifest is the durable truth, so the stale entry is dropped and
    recreated at the right location (external table: the DROP touches
    only catalog metadata, never the files)."""
    if spark.catalog.tableExists(manifest["table"]):
        loc = _table_location(spark, manifest["table"])
        if loc is not None and _norm_location(loc) == _norm_location(
            manifest["codes_path"]
        ):
            return
        spark.sql(f"DROP TABLE IF EXISTS {manifest['table']}")
    nb = int(manifest["buckets"])
    spark.sql(
        f"""CREATE TABLE {manifest["table"]} {_CODES_SCHEMA_SQL}
            USING PARQUET
            CLUSTERED BY (ivf_cid) SORTED BY (ivf_cid) INTO {nb} BUCKETS
            LOCATION '{manifest["codes_path"]}'"""
    )


def _publish_manifest(out_dir: str, manifest: dict) -> None:
    publish_json_manifest(out_dir, _MANIFEST, manifest)


def index_code_files(out_dir: str) -> list[str]:
    """Data files of the ACTIVE codes generation (the bounded-file-count
    observable the compaction test asserts on)."""
    root = _load_manifest(out_dir)["codes_path"]
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(
            os.path.join(dirpath, f)
            for f in files
            # data files only: skip .crc shadows / _SUCCESS markers
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return out


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Fold the codes table's append residue into ONE fresh bucketed
    generation (VERDICT r11 #4 — the sketch stores' retention-grace
    pattern applied to the ANN index): every ``append_to_index`` call
    leaves one file per touched bucket, so a streaming ingest grows the
    table's file count without bound; compaction rewrites all live code
    rows into generation g+1 (repartitioned by the bucket key, so each
    task holds whole buckets and the file count collapses back to ~one
    per bucket), atomically swaps the manifest, and TOMBSTONES the old
    generation instead of deleting it — a reader that loaded the
    pre-swap manifest finishes its search against intact files; the
    NEXT compaction's sweep (step 1 below) is the earliest the
    superseded generation can disappear. Searches are bit-identical
    across the swap: same rows, same bucket spec, same ADC math.

    CONCURRENCY CONTRACT (ADVICE r12): at most ONE compactor at a time
    — two concurrent compactions would both fold generation g and
    publish racing g+1 manifests; serialize compaction in the
    scheduler, the sketch stores' single-compactor contract. Concurrent
    ``append_to_index`` calls ARE tolerated: an append that lands in
    generation g after this compaction's scan has read it re-reads the
    manifest when its write returns and re-appends the missed rows into
    g+1 (see ``append_to_index``), so no rows are lost to the retention
    sweep."""
    manifest = _load_manifest(out_dir)
    _ensure_table(spark, manifest)
    # 1. retention-grace sweep: drop what the PREVIOUS compaction
    #    superseded (no current reader can hold a manifest that old).
    #    Never touch the LIVE generation's name or directory — a
    #    rebuild's carried-forward victims can share the base table
    #    name (build_ivfpq_index filters path collisions; the name
    #    guard here covers the rebuilt-under-the-same-name case).
    for victim in manifest.get("pending_gc", []):
        if victim["table"] != manifest["table"]:
            spark.sql(f"DROP TABLE IF EXISTS {victim['table']}")
        if _norm_location(victim["path"]) != _norm_location(
            manifest["codes_path"]
        ):
            shutil.rmtree(local_path(victim["path"]), ignore_errors=True)
    # 2. fold the live rows into the next generation
    gen = int(manifest.get("generation", 0)) + 1
    base = manifest.get("base_table", manifest["table"])
    new_table = f"{base}__g{gen}"
    new_path = f"{out_dir}/codes_g{gen}"
    # repartition by the BUCKET-ID expression (pmod of the same
    # murmur3 bucketBy uses), not the raw key: each bucket then lives
    # wholly inside one task, so the rewrite emits at most one file per
    # non-empty bucket — repartitioning by the key alone lets a task
    # hold cids of two buckets and doubles files (observed: 9 files
    # for 8 buckets).
    nb = int(manifest["buckets"])
    rows = spark.table(manifest["table"]).repartition(
        nb, F.pmod(F.hash(F.col("ivf_cid")), F.lit(nb))
    )
    write_bucketed(
        rows, new_table, "ivf_cid", buckets=nb, path=new_path,
    )
    # 3. atomic swap; old generation becomes the next sweep's victim
    new_manifest = {
        **manifest,
        "table": new_table,
        "codes_path": new_path,
        "generation": gen,
        "pending_gc": [
            {"table": manifest["table"], "path": manifest["codes_path"]}
        ],
    }
    _publish_manifest(out_dir, new_manifest)
    return new_manifest


def _load_codebook(spark: SparkSession, out_dir: str):
    cb: dict[int, list[tuple[int, list[float]]]] = {}
    for r in spark.read.parquet(f"{out_dir}/codebook").collect():
        cb.setdefault(int(r["m"]), []).append(
            (int(r["cid"]), list(r["cemb"]))
        )
    return {m: sorted(v) for m, v in cb.items()}


def encode_vectors(
    spark: SparkSession, out_dir: str, vecs: DataFrame
) -> DataFrame:
    """Encode NEW vectors — (vec_id, emb array<double>) — against the
    index's FROZEN artifacts: nearest coarse centroid by the same
    rounded-cosine + lowest-cid rule the builder used, PQ codes by the
    same per-subspace argmin, centroids inlined as literals (pure map,
    no join on the vector side). This is how an index stays fresh
    without retraining: the codebook is a trained artifact; new data is
    quantized under it (and codebook drift is monitored separately —
    ``embedding_pq_codebook``'s reconstruction error over fresh data
    rising is the retrain signal)."""
    from ..plans.simsearch import PQ_SUBDIM, _sqdist

    cents = _load_codebook(spark, out_dir)
    coarse = [
        (int(r["cid"]), list(r["c_emb"]), float(r["c_norm"]))
        for r in spark.read.parquet(f"{out_dir}/centroids").collect()
    ]
    norm = F.sqrt(
        F.aggregate(
            F.zip_with("emb", "emb", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    structs = []
    for cid, c_emb, c_norm in sorted(coarse):
        lit = F.array(*[F.lit(v) for v in c_emb])
        cos = F.round(
            F.aggregate(
                F.zip_with("emb", lit, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / (F.col("__norm") * F.lit(c_norm)),
            6,
        )
        structs.append(
            F.struct(
                (-cos).alias("neg_cos"), F.lit(cid).cast("long").alias("cid")
            )
        )
    ivf_cid = F.least(*structs)["cid"]

    # OPQ index: PQ cells are matched in ROTATED coordinates (the space
    # the codebook was trained in); the coarse cell stays raw-space.
    manifest = _load_manifest(out_dir)
    pq_src = "emb"
    base = vecs
    if manifest.get("opq"):
        from ..plans.simsearch import opq_rotate_col

        flat = _load_rotation(spark, out_dir)
        base = vecs.withColumn(
            "__vmat", F.array(*[F.lit(w) for w in flat])
        ).withColumn("__emb_r", opq_rotate_col("emb"))
        pq_src = "__emb_r"

    sub_structs = []
    for m in sorted(cents):
        off = m * PQ_SUBDIM
        sub = F.slice(pq_src, off + 1, PQ_SUBDIM)
        best = F.least(*[
            F.struct(
                _sqdist(sub, F.array(*[F.lit(v) for v in vec])).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, vec in cents[m]
        ])
        sub_structs.append(
            F.struct(
                F.lit(m).cast("int").alias("m"), best["cid"].alias("pq_cid")
            )
        )
    return (
        base.withColumn("__norm", norm)
        .select(
            "vec_id",
            F.explode(F.array(*sub_structs)).alias("mc"),
            ivf_cid.alias("ivf_cid"),
        )
        .select(
            "vec_id",
            F.col("mc.m").alias("m"),
            F.col("mc.pq_cid").alias("pq_cid"),
            "ivf_cid",
        )
    )


def append_to_index(
    spark: SparkSession, out_dir: str, vecs: DataFrame
) -> int:
    """Incremental index maintenance: encode ``vecs`` under the frozen
    artifacts and APPEND their code rows into the bucketed codes table
    (``insertInto`` respects the table's bucket spec, so the new rows
    land in the right buckets and searches stay pruned). Append-only
    contract: callers pass NEW vec_ids (re-encoding an existing id
    duplicates it — dedup upstream). Each append adds one file per
    touched bucket; a long-lived index periodically rewrites the table
    (the same economics as the sketch stores' compaction). Returns the
    number of code rows appended.

    SAFE AGAINST A CONCURRENT COMPACTION (ADVICE r12): an insert racing
    ``compact_index`` can land in the OLD generation's files after the
    compaction scan has read them — those rows would sit in the
    tombstoned directory and vanish at the next retention sweep. So
    after the write returns, the manifest generation is re-read; if it
    advanced, the rows absent from the live generation (anti-join at
    (vec_id, m) grain, which also covers a partial fold that caught
    only some of a vector's M subspace rows) are re-appended into it,
    looping until the generation is stable across one write. Appends
    themselves may run concurrently (each lands its own files);
    compaction stays single-writer per its own contract."""
    manifest = _load_manifest(out_dir)
    _ensure_table(spark, manifest)
    rows = encode_vectors(spark, out_dir, vecs).select(
        # insertInto is POSITIONAL: match the table's column order
        "vec_id", "m", "pq_cid", "ivf_cid"
    )
    # checkpoint: the encoded rows are re-used by the re-append check below —
    # without it every retry would re-run the encode map
    rows = share(rows, "checkpoint")
    n = rows.count()
    rows.write.insertInto(manifest["table"], overwrite=False)
    for _ in range(5):
        after = _load_manifest(out_dir)
        if after.get("generation", 0) == manifest.get("generation", 0):
            break
        manifest = after
        _ensure_table(spark, manifest)
        live = spark.table(manifest["table"]).select("vec_id", "m")
        missing = rows.join(live, ["vec_id", "m"], "left_anti").select(
            "vec_id", "m", "pq_cid", "ivf_cid"
        )
        missing.write.insertInto(manifest["table"], overwrite=False)
    else:
        raise RuntimeError(
            "append_to_index: index generation kept advancing across 5 "
            "re-append attempts — compaction is not honoring its "
            "single-writer contract"
        )
    return n


def ivfpq_search(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    *,
    k: int = KNN_K,
    exclude_self: bool = True,
) -> DataFrame:
    """Serve top-k ADC neighbors for ``queries`` — a DataFrame with
    (query_id, q_emb) and optionally q_norm — from the persisted index.
    Request-sized driver work only: the query vectors and the M x K
    codebook are collected to build the LUT; the code scan is pruned to
    the probed buckets.

    Concurrency: the bucket-pruning conf toggle below is session-global,
    so concurrent calls on ONE SparkSession serialize on a module lock
    (the locked window is plan construction + the eager materialization,
    not the caller's consumption). For genuinely parallel serving use
    ``spark.newSession()`` per search thread."""
    manifest = _load_manifest(out_dir)
    _ensure_table(spark, manifest)
    cent = spark.read.parquet(f"{out_dir}/centroids")
    q = queries
    if "q_norm" not in q.columns:
        q = q.withColumn(
            "q_norm",
            F.sqrt(
                F.aggregate(
                    F.zip_with("q_emb", "q_emb", lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    q_cos = F.round(
        F.aggregate(
            F.zip_with("q_emb", "c_emb", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("q_norm") * F.col("c_norm")),
        6,
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("p_cos"), "cid")
    probe = (
        q.join(F.broadcast(cent))
        .select("query_id", "cid", q_cos.alias("p_cos"))
        .withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= manifest["nprobe"])
        .select("query_id", F.col("cid").alias("ivf_cid"))
    )
    cents = _load_codebook(spark, out_dir)
    q_rows = [
        (int(r["query_id"]), list(r["q_emb"]))
        for r in q.select("query_id", "q_emb").collect()
    ]
    if manifest.get("opq"):
        # the codebook lives in rotated coordinates — rotate the query
        # vectors the same way (opq_rotate_py mirrors the build-side
        # fold bit-exactly) before building the ADC LUT; the IVF probe
        # above stays raw-space like the stored centroids.
        from ..plans.simsearch import opq_rotate_py

        flat = _load_rotation(spark, out_dir)
        q_rows = [(qid, opq_rotate_py(emb, flat)) for qid, emb in q_rows]
    lut = spark.createDataFrame(
        adc_lut_rows(q_rows, cents),
        "query_id long, m int, pq_cid long, lut_micro long",
    )
    probed_cids = sorted(
        {int(r["ivf_cid"]) for r in probe.select("ivf_cid").collect()}
    )
    # Bucket pruning needs a LITERAL filter on the bucket key AND the
    # autoBucketedScan heuristic disabled for filter-only probes (the
    # bucketing module's measured gotcha) — the plan then reads
    # "SelectedBucketsCount: n of m" instead of scanning every bucket.
    with _CONF_TOGGLE_LOCK:
        prev = spark.conf.get(_AUTO_BUCKET_CONF, "true")
        spark.conf.set(_AUTO_BUCKET_CONF, "false")
        try:
            code_rows = (
                spark.table(manifest["table"])
                .where(F.col("ivf_cid").isin(probed_cids))
            )
            cand = code_rows.select("vec_id", "ivf_cid").distinct().join(
                F.broadcast(probe), "ivf_cid"
            )
            if exclude_self:
                cand = cand.where(F.col("vec_id") != F.col("query_id"))
            out = adc_topk(
                code_rows.select("vec_id", "m", "pq_cid"),
                cand.select("query_id", "vec_id"),
                lut,
                k=k,
            )
            # materialize within the conf window so the pruned scan is
            # the executed scan even if the caller collects later
            out = share(out, "checkpoint")
        finally:
            spark.conf.set(_AUTO_BUCKET_CONF, prev)
    return out


def ivfpq_recall_from_index(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Recall@k of the PERSISTED index against exact brute-force cosine
    (VERDICT r11 #8): the production twin of the oracle-gated
    ``plans/simsearch.simsearch_ivfpq_recall`` — that query retrains
    in-plan so DuckDB can replay it; THIS one measures the SERVED
    index, so an operator watching recall watches the artifact actually
    answering queries (append drift under the frozen codebook shows up
    here first). Columns match the monitor's ADC pair
    (query_id, n_hits_adc, recall_adc); with an index freshly built
    from the same corpus the two outputs are identical —
    tests/test_ann_index.py asserts it."""
    from ..plans.simsearch import KNN_QUERIES, embedding_knn_bruteforce

    exact = embedding_knn_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    queries = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") < KNN_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("norm").alias("q_norm"),
        )
    )
    served = ivfpq_search(spark, out_dir, queries, k=KNN_K).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(served, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h_adc"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("h_adc", F.lit(0)).cast("long").alias("n_hits_adc"),
            (
                F.coalesce("h_adc", F.lit(0)).cast("double") / F.lit(KNN_K)
            ).alias("recall_adc"),
        )
    )


def check_index_drift(
    spark: SparkSession, out_dir: str, vecs: DataFrame
) -> DataFrame:
    """Per-dimension drift of ``vecs`` — (vec_id, emb array<double>),
    e.g. an append batch or a re-embedded corpus sample — against the
    index's FROZEN training statistics (the ``stats`` artifact
    ``build_ivfpq_index`` persists): the cheap leading indicator of the
    retrain loop (VERDICT r12 #2). The recall check needs exact ground
    truth — a full corpus scan per invocation — while this is ONE
    contraction over just the fresh vectors plus a 64-row artifact
    read; an upstream embedding-model bump moves these moments long
    before recall@k visibly decays (a pure translation of the embedding
    space preserves every pairwise L2 distance, so recall stays flat
    while every dimension's mean shift flags major —
    tests/test_embedding_drift.py plants exactly that). Columns are
    ``plans/simsearch.drift_frame``'s, same bands as the oracle-gated
    ``embedding_drift_psi``."""
    from ..plans.simsearch import COV_FP, drift_dim_sums, drift_frame

    ref = spark.read.parquet(f"{out_dir}/stats")
    cur = drift_dim_sums(
        vecs.select(
            F.transform(
                "emb",
                lambda x: F.round(x * F.lit(COV_FP), 0).cast("long"),
            ).alias("xfp")
        )
    )
    return drift_frame(ref, cur)


def check_index_health(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = KNN_K,
    recall_floor: float = 0.5,
    drift_corpus: DataFrame | None = None,
) -> dict:
    """Recall-triggered retrain policy (VERDICT r11 #4, lifecycle half):
    serve ``queries`` — (query_id, q_emb) — from the persisted index
    and measure recall@k against the EXACT squared-L2 top-k over the
    raw ``corpus`` — (vec_id, emb) — the metric ADC approximates, so
    the gap is pure quantization + probe loss. A corpus that drifted
    away from the frozen codebook (appends encode badly, new mass sits
    between stale coarse centroids) degrades exactly this number, and
    ``retrain_needed`` fires when it crosses ``recall_floor`` — the
    operator then rebuilds via ``build_ivfpq_index`` (new codebook) and
    cuts searches over atomically, the same manifest swap compaction
    uses.

    Cost: query-grain — but the ground truth broadcasts Q query vectors
    onto ONE FULL CORPUS SCAN (micro-rounded exact L2, per-query
    window), so this is the EXPENSIVE confirmation check, not the thing
    to cron hourly: schedule :func:`check_index_drift` (one contraction
    over fresh vectors vs the frozen ``stats`` artifact) as the cheap
    leading indicator and reserve this for confirmation / post-retrain
    validation. Pass ``drift_corpus`` to have the report carry that
    pre-check's band summary alongside the measured recall."""
    from ..plans.simsearch import _INERTIA_GRID, _sqdist

    served = ivfpq_search(spark, out_dir, queries, k=k).select(
        "query_id", "neighbor_id"
    )
    q = queries.select("query_id", F.col("q_emb").alias("__q"))
    d2 = F.round(_sqdist(F.col("emb"), F.col("__q")) * _INERTIA_GRID, 0).cast(
        "long"
    )
    w = Window.partitionBy("query_id").orderBy("d2_micro", "neighbor_id")
    exact = (
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            d2.alias("d2_micro"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = (
        exact.join(served, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("h"))
    )
    per_query = {
        int(r["query_id"]): int(r["h"] or 0)
        for r in exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .collect()
    }
    n_q = len(per_query)
    recall = (
        sum(per_query.values()) / float(k * n_q) if n_q else 0.0
    )
    out = {
        "recall": recall,
        "per_query": {q_: h / float(k) for q_, h in per_query.items()},
        "recall_floor": recall_floor,
        "retrain_needed": recall < recall_floor,
        "n_queries": n_q,
        "k": k,
    }
    if drift_corpus is not None:
        bands: dict[str, int] = {}
        max_shift = None
        for r in check_index_drift(spark, out_dir, drift_corpus).collect():
            bands[r["drift_band"]] = bands.get(r["drift_band"], 0) + 1
            sm = r["shift_micro"]
            if sm is not None and (max_shift is None or sm > max_shift):
                max_shift = int(sm)
        out["drift"] = {
            "bands": bands,
            "max_shift_micro": max_shift,
            "n_drifted": sum(
                v for b, v in bands.items() if b in ("moderate", "major")
            ),
        }
    return out


def ivfpq_search_rerank(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    vectors: DataFrame,
    *,
    k: int = KNN_K,
    r: int | None = None,
) -> DataFrame:
    """Two-stage serving from the persisted index (the production twin
    of the oracle-gated ``plans/simsearch.simsearch_ivfpq_rerank``):
    stage 1 selects ``r`` ADC candidates from the bucket-pruned code
    scan; stage 2 broadcasts the Q x r candidate ids onto ONE scan of
    ``vectors`` — (vec_id, emb), the raw-embedding table — and
    re-ranks by exact rounded cosine with neighbor_id tiebreak (the
    monotone-recall order; see the in-plan query's docstring for the
    L2-vs-cosine note). Query-grain cost on top of the ADC stage; on a
    fresh index the output matches the in-plan query row-for-row
    (tests/test_ann_index.py)."""
    from ..plans.simsearch import ADC_RERANK_R, _dot

    r = ADC_RERANK_R if r is None else r
    cand = ivfpq_search(spark, out_dir, queries, k=r).select(
        "query_id", "neighbor_id"
    )
    q = queries
    if "q_norm" not in q.columns:
        q = q.withColumn(
            "q_norm", F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
        )
    nb = (
        vectors.withColumn("__n", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .join(F.broadcast(cand), F.col("vec_id") == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "emb", "__n")
    )
    cos = F.round(
        _dot(F.col("q_emb"), F.col("emb")) / (F.col("q_norm") * F.col("__n")),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        nb.join(F.broadcast(q.select("query_id", "q_emb", "q_norm")), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )
