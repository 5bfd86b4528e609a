"""Registry queries for the multimodal operators (beyond-reference).

The testdata has no binary media table, so assets are derived
DETERMINISTICALLY from ``documents`` (content = UTF-8 bytes of ``text``,
metadata from ``doc_id``/``n_chars``) — both engines rebuild the same
asset table independently, keeping the DuckDB oracle honest.

What's oracle-checked: everything deterministic about the media plumbing
— row fan-out of frame sampling, byte accounting through the Arrow
exchange, metadata-only rollups. The fake feature vectors themselves
(sha256-derived, operators/multimodal.py) are unit-tested instead; a SQL
re-derivation of sha256 bytes would test DuckDB's hash, not our plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import extract_features, media_metadata_stats, sample_frames
from .spec import QuerySpec, t

FRAME_EVERY_MS = 1000

#: planted resized-copy assets live this far above the real ids
PHASH_COPY_ID_BASE = 10_000_000

_MEDIA_CASE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END"
)


def _assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media-asset table (schema of operators.multimodal):
    opaque binary content + typed metadata. Metadata-only projections
    never touch ``content`` (Parquet column pruning on the text column)."""
    d = t(spark, sf_dir, "documents")
    media = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("doc_id"), F.lit(3)) + 1).cast("int"),
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        media.alias("media_type"),
        F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8").alias("content"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the real mapInPandas operator; the
    oracle checks the deterministic byte accounting per asset."""
    feats = extract_features(_assets(spark, sf_dir), decode="fake")
    return feats.select("asset_id", "media_type", "n_bytes")


MULTIMODAL_FEATURES_SQL = f"""
SELECT doc_id AS asset_id,
       {_MEDIA_CASE_SQL} AS media_type,
       octet_length(encode(coalesce(text, ''))) AS n_bytes
FROM documents
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1 asset row → N frame rows, duration-driven).
    Oracle reproduces the fan-out arithmetic with generate_series."""
    frames = sample_frames(
        _assets(spark, sf_dir), every_ms=FRAME_EVERY_MS, decode="fake"
    )
    return frames.select("asset_id", "frame_idx", "frame_ms")


MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH base AS (
    SELECT doc_id AS asset_id,
           (coalesce(n_chars, 0) * 10 + {FRAME_EVERY_MS - 1})
               // {FRAME_EVERY_MS} AS n_frames
    FROM documents),
fr AS (SELECT asset_id, unnest(range(0, n_frames)) AS gs FROM base)
SELECT asset_id, gs::INT AS frame_idx,
       (gs * {FRAME_EVERY_MS})::BIGINT AS frame_ms
FROM fr
"""


def multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_metadata_stats(_assets(spark, sf_dir))


MULTIMODAL_METADATA_STATS_SQL = f"""
SELECT {_MEDIA_CASE_SQL} AS media_type,
       count(*) AS n_assets,
       avg((doc_id % 640 + 1) * (doc_id % 480 + 1)) AS avg_pixels,
       (sum(n_chars * 10))::BIGINT AS total_duration_ms
FROM documents
GROUP BY 1
"""


def multimodal_dedup_content_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup on the BINARY content column: md5 the bytes,
    point every asset at its hash group's canonical (min asset_id), and
    flag duplicates — the asset-store dedup that runs before any decode
    (identical uploads collapse regardless of filename/metadata).

    Plan: md5 is a per-row map over the binary column; one
    content-hash-keyed window (high-cardinality key) picks canonicals.
    Oracle parity: the derived assets' bytes ARE the text's UTF-8, so
    DuckDB's ``md5(text)`` reproduces Spark's ``md5(content BINARY)``
    byte-for-byte.
    """
    from pyspark.sql.window import Window

    assets = _assets(spark, sf_dir)
    hashed = assets.select(
        "asset_id",
        "media_type",
        F.md5("content").alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return hashed.select(
        "asset_id",
        "media_type",
        "content_hash",
        F.min("asset_id").over(w).alias("canonical_asset_id"),
        (F.col("asset_id") != F.min("asset_id").over(w)).alias("is_dup"),
    )


MULTIMODAL_DEDUP_CONTENT_SQL = f"""
WITH hashed AS (
    SELECT doc_id AS asset_id, {_MEDIA_CASE_SQL} AS media_type,
           md5(coalesce(text, '')) AS content_hash
    FROM documents
)
SELECT asset_id, media_type, content_hash,
       min(asset_id) OVER (PARTITION BY content_hash)
           AS canonical_asset_id,
       asset_id <> min(asset_id) OVER (PARTITION BY content_hash)
           AS is_dup
FROM hashed
"""


def multimodal_dedup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs (VERDICT r12 #3): dHash-60 over
    the decoded grayscale grid, banded into the SAME 4x15-bit LSH as
    ``dedup_simhash64`` (``plans/textops.hamming_band_pairs`` is shared
    code — pigeonhole-complete candidates at Hamming <= 3), then exact
    popcount verification. This catches what
    ``multimodal_dedup_content_hash`` structurally cannot: a re-encoded
    or resized copy has entirely different BYTES (md5 misses it) but
    near-identical luminance gradients (dHash bits flip only where the
    resampling crosses a gradient boundary) — the planted resized-copy
    test pins exactly that gap.

    The hash runs through the REAL Pillow-gated mapInPandas operator
    (``operators/multimodal.perceptual_hash``); under the registry's
    oracle the deterministic 'fake' decode resamples each asset's text
    to the 16x4 grid with pure integer character arithmetic, so DuckDB
    replays grid, bits, and hash exactly (the
    ``multimodal_dedup_content_hash`` precedent: derived assets keep
    the oracle honest). Plan: one pure-map Python island (the hash),
    then the banding's narrow shuffles — never an all-pairs join; the
    oracle's brute-force O(n²) pair scan is the small-fixture truth the
    banded plan must reproduce, which also re-proves candidate
    completeness on every driver run.

    The random fixture has no organic perceptual near-dups (0 pairs
    would be a vacuous oracle), so the query PLANTS the resized copies
    it exists to catch: every 10th image asset gets a companion whose
    every character is doubled — the text analogue of a 2x upscale,
    and under the floor-resampling decode an EXACT grid preserver
    (floor(floor(2pn/64)/2) = floor(pn/64)), so each planted pair must
    surface at Hamming 0 while its md5 differs. Both engines construct
    the copies with the same split/double/join characters arithmetic;
    bits beyond that are the organic (usually empty) pair set."""
    from ..operators.multimodal import perceptual_hash
    from .textops import hamming_band_pairs

    imgs = _assets(spark, sf_dir).where(
        (F.col("media_type") == "image") & (F.length("content") > 0)
    )
    d = t(spark, sf_dir, "documents").where(
        (F.col("doc_id") % 30 == 0)
        & (F.length(F.coalesce(F.col("text"), F.lit(""))) > 0)
    )
    doubled = F.expr(
        "array_join(transform(split(coalesce(text, ''), ''),"
        " x -> x || x), '')"
    )
    copies = d.select(
        (F.col("doc_id") + PHASH_COPY_ID_BASE).alias("asset_id"),
        F.encode(doubled, "UTF-8").alias("content"),
    )
    # The repartition is an exchange barrier (the _simhash_docs /
    # MinHash idiom): the banding consumes the hash frame from three
    # subtrees (distinct signatures + both expansion join sides), and
    # the barrier lets the RUNTIME reuse one decode pass across them —
    # the static explain still prints the subtree per consumer (the
    # audit's 4 Python islands), but the FINAL adaptive plan after
    # execution shows the barrier exchanges as ReusedExchange nodes
    # (measured: 6 reuses at sf0.01), i.e. AQE stage reuse executes
    # the mapInPandas decode once, not per consumer.
    ph = (
        perceptual_hash(
            imgs.select("asset_id", "content").unionByName(copies),
            decode="fake",
        )
        .where(F.col("phash").isNotNull())
        .repartition("asset_id")
    )
    return hamming_band_pairs(ph, "asset_id", "phash").select(
        F.col("id_a").alias("asset_a"),
        F.col("id_b").alias("asset_b"),
        "hamming",
    )


def _phash_sql(pixels: int = 64, cols: int = 16) -> str:
    """The fake-decode dHash as DuckDB SQL over ``documents`` — grid,
    gradient bits, and 60-bit pack in exact integer arithmetic."""
    return f"""
img AS (
    SELECT doc_id AS asset_id, coalesce(text, '') AS s,
           length(coalesce(text, '')) AS n
    FROM documents
    WHERE doc_id % 3 = 0 AND length(coalesce(text, '')) > 0
    UNION ALL
    SELECT doc_id + {PHASH_COPY_ID_BASE},
           array_to_string(list_transform(
               string_split(coalesce(text, ''), ''), x -> x || x), ''),
           2 * length(coalesce(text, ''))
    FROM documents
    WHERE doc_id % 30 = 0 AND length(coalesce(text, '')) > 0
),
grid AS (
    SELECT asset_id, p.p::INT AS p,
           unicode(substr(s, 1 + ((p.p * n) // {pixels}), 1)) % 256 AS v
    FROM img CROSS JOIN range(0, {pixels}) p(p)
),
bits AS (
    SELECT a.asset_id,
           ((a.p // {cols}) * {cols - 1} + (a.p % {cols}))::INT AS b,
           CASE WHEN a.v > nx.v THEN 1 ELSE 0 END AS bit
    FROM grid a JOIN grid nx
      ON a.asset_id = nx.asset_id AND nx.p = a.p + 1
    WHERE a.p % {cols} < {cols - 1}
),
sig AS (
    SELECT asset_id, sum(bit * (1::BIGINT << b))::BIGINT AS phash
    FROM bits GROUP BY 1
)"""


MULTIMODAL_DEDUP_PHASH_SQL = f"""
WITH {_phash_sql()}
SELECT a.asset_id AS asset_a, b.asset_id AS asset_b,
       bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.asset_id < b.asset_id
WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


MULTIMODAL_SPECS = [
    QuerySpec(
        "multimodal_dedup_phash", multimodal_dedup_phash,
        MULTIMODAL_DEDUP_PHASH_SQL, ("media-perceptual-dedup",),
        touched_round=16,  # r16: AUDIT row changed; r14: hamming_band_pairs bucket-size skew
        # guard — values unchanged below the cap, plan changed.
    ),
    QuerySpec(
        "multimodal_dedup_content_hash", multimodal_dedup_content_hash,
        MULTIMODAL_DEDUP_CONTENT_SQL, ("media-content-dedup",),
    ),
    QuerySpec(
        "multimodal_features", multimodal_features,
        MULTIMODAL_FEATURES_SQL, ("media-feature-extract",),
    ),
    QuerySpec(
        "multimodal_frame_sample", multimodal_frame_sample,
        MULTIMODAL_FRAME_SAMPLE_SQL, ("media-frame-sample",),
    ),
    QuerySpec(
        "multimodal_metadata_stats", multimodal_metadata_stats,
        MULTIMODAL_METADATA_STATS_SQL, ("media-metadata",),
    ),
]
