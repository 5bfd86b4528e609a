"""Text-analysis + deduplication battery over the ``documents`` table.

Beyond-reference training-data-pipeline operators (BASELINE.json north
star): exact dedup, MinHash+LSH near-dup, SimHash near-dup, n-gram
Jaccard, language-ID heuristic, quality scoring, token counting, document
fingerprinting. Everything is pure Column expressions (whole-stage
codegen; zero Python in the hot path) built on the portable md5-based
hash so DuckDB oracles can replay the exact values.

Scale design:
- Shingling/minhash/simhash are per-row maps over an array column — no
  explode, no shuffle; 100 TB of documents costs one scan.
- Near-dup candidate generation is LSH band-bucketing: shuffle keyed on
  (band, signature) touches ~rows x bands narrow rows, then exact
  verification runs only on bucket-mates. The all-pairs Jaccard query
  exists as the small-data oracle/verifier; LSH is the scale path.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import jaccard, portable_hash64, tokens, word_shingles
from ..functions.core import pin, portable_hash64_sql, unordered_pair_rows
from .spec import QuerySpec, t

STOPWORDS = ("the", "a", "of", "and", "in")
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.1   # yields the planted near-dup pairs at sf0.01
MINHASH_HASHES = 12
LSH_BANDS = 3             # 12 hashes -> 3 bands x 4 rows
SIMHASH_BITS = 16
SIMHASH_MAX_HAMMING = 3
# Wide simhash: the full 60-bit width of portable_hash64 (15 md5 hex chars;
# a production xxhash64 swap gives the full 64). 4 bands x 15 bits: a pair
# at Hamming <= 3 differs in <= 3 bands, so >= 1 band is IDENTICAL
# (pigeonhole) -> band-LSH candidate generation is EXACT for this radius,
# not probabilistic.
SIMHASH64_BITS = 60
SIMHASH64_BANDS = 4
_S64_BAND_BITS = SIMHASH64_BITS // SIMHASH64_BANDS

# Universal-hash minhash scheme: ONE md5 per shingle (h = md5-hash mod
# 2^30), then MINHASH_HASHES cheap integer derivations
# h_j = (A[j]*h + B[j]) mod MERSENNE61 — exact long arithmetic, identical
# in Spark and DuckDB, ~12x fewer md5 evaluations than per-seed salting.
MERSENNE61 = (1 << 61) - 1
_MH_A = [
    int(hashlib.md5(f"mh_a{j}".encode()).hexdigest()[:7], 16) * 2 + 1
    for j in range(MINHASH_HASHES)
]
_MH_B = [
    int(hashlib.md5(f"mh_b{j}".encode()).hexdigest()[:7], 16)
    for j in range(MINHASH_HASHES)
]

_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"
_TOKS_SQL = "string_split_regex(trim(text), '\\s+')"
_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(len({_TOKS_SQL}) - {SHINGLE_K - 1}), "
    "i -> "
    + " || ' ' || ".join(f"{_TOKS_SQL}[i + {k + 1}]" for k in range(SHINGLE_K))
    + "))"
)


def _doc_shingles(df: DataFrame) -> DataFrame:
    return df.select(
        "doc_id", F.array_distinct(word_shingles("text", SHINGLE_K)).alias("sh")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = tokens("text")
    n = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS))
    ).cast("long")
    stop_ratio = stop_hits.cast("double") / n
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        n.alias("n_tokens"),
        (
            F.aggregate(
                F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
            ).cast("double")
            / n
        ).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        # exact-integer-derived doubles multiply bit-identically -> raw emit
        (F.least(F.lit(1.0), n / F.lit(100.0)) * (1 - stop_ratio)).alias(
            "quality_score"
        ),
    )


TEXT_QUALITY_SQL = f"""
WITH s AS (SELECT doc_id, length(text) AS n_chars, {_TOKS_SQL} AS toks FROM documents)
SELECT doc_id, n_chars::BIGINT AS n_chars, len(toks)::BIGINT AS n_tokens,
       list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
           AS avg_token_len,
       len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE / len(toks)
           AS stopword_ratio,
       least(1.0, len(toks) / 100.0)
             * (1 - len(list_filter(toks, x -> x IN {_STOP_SQL}))::DOUBLE / len(toks))
           AS quality_score
FROM s
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stopword-vote language ID. The synthetic corpus shares one
    # vocabulary across langs, so this is operator plumbing (deterministic
    # scoring + argmax), not a real classifier — swap marker lists for
    # real per-language stopword tables in production.
    toks = tokens("text")
    n = F.size(toks).cast("double")
    en_ratio = F.size(F.filter(toks, lambda x: x.isin("the", "a"))) / n
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        en_ratio.alias("en_score"),
        F.when(en_ratio > 0.02, F.lit("en")).otherwise(F.lit("und")).alias(
            "predicted_lang"
        ),
        (
            F.when(en_ratio > 0.02, F.lit("en")).otherwise(F.lit("und"))
            == F.col("lang")
        ).alias("is_match"),
    )


LANG_ID_SQL = f"""
WITH s AS (
    SELECT doc_id, lang,
           len(list_filter({_TOKS_SQL}, x -> x IN ('the','a')))::DOUBLE
               / len({_TOKS_SQL}) AS en_ratio
    FROM documents
)
SELECT doc_id, lang, en_ratio AS en_score,
       CASE WHEN en_ratio > 0.02 THEN 'en' ELSE 'und' END AS predicted_lang,
       (CASE WHEN en_ratio > 0.02 THEN 'en' ELSE 'und' END) = lang AS is_match
FROM s
"""


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the language-ID heuristic against the
    labeled ``lang`` column, with per-cell recall (share of the true
    language) and precision (share of the prediction) — the monitoring
    rollup that tells a curation team when a classifier threshold has
    drifted.

    Plan: one scan + a (lang, predicted) groupBy (map-side combined to
    |langs|² rows); the row/column marginals join back as broadcasts of
    the ALREADY-AGGREGATED cells — no second corpus pass, no window.
    Ratios are exact-integer divisions → raw doubles per the policy.
    """
    cells = (
        lang_id_heuristic(spark, sf_dir)
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
        .transform(pin)  # 3 consumers; cells are |langs|² rows
    )
    truth = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_true"))
    pred = cells.groupBy("predicted_lang").agg(
        F.sum("n_docs").alias("n_pred")
    )
    return (
        cells.join(F.broadcast(truth), "lang")
        .join(F.broadcast(pred), "predicted_lang")
        .select(
            "lang",
            "predicted_lang",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n_true")).alias(
                "recall"
            ),
            (F.col("n_docs").cast("double") / F.col("n_pred")).alias(
                "precision"
            ),
        )
    )


LANG_ID_CONFUSION_SQL = f"""
WITH cells AS (
    SELECT lang, predicted_lang, count(*)::BIGINT AS n_docs
    FROM ({LANG_ID_SQL}) GROUP BY lang, predicted_lang
),
truth AS (SELECT lang, sum(n_docs) AS n_true FROM cells GROUP BY lang),
pred AS (SELECT predicted_lang, sum(n_docs) AS n_pred
         FROM cells GROUP BY predicted_lang)
SELECT c.lang, c.predicted_lang, c.n_docs,
       c.n_docs::DOUBLE / t.n_true AS recall,
       c.n_docs::DOUBLE / p.n_pred AS precision
FROM cells c
JOIN truth t ON c.lang = t.lang
JOIN pred p ON c.predicted_lang = p.predicted_lang
"""


def token_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = F.size(tokens("text")).cast("long")
    return (
        t(spark, sf_dir, "documents")
        .select("source", n.alias("n"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n").alias("total_tokens"),
            (F.sum("n").cast("double") / F.count("*")).alias("avg_tokens"),
        )
    )


TOKEN_STATS_SQL = f"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(len({_TOKS_SQL}))::BIGINT AS total_tokens,
       sum(len({_TOKS_SQL}))::DOUBLE / count(*) AS avg_tokens
FROM documents GROUP BY source
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Canonical fingerprint: md5 of whitespace-normalized lowercase text,
    # plus a 64-bit prefix hash (first-SHINGLE_K-tokens rolling key).
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    prefix = F.concat_ws(" ", F.slice(tokens("text"), 1, SHINGLE_K))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(norm).alias("fingerprint"),
        portable_hash64(prefix).alias("prefix_hash"),
    )


DOC_FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       {portable_hash64_sql(f"array_to_string(list_slice({_TOKS_SQL}, 1, {SHINGLE_K}), ' ')")}
           AS prefix_hash
FROM documents
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact dedup = hash-groupBy on the canonical fingerprint; keep the
    # min doc_id as representative. One shuffle on a 32-byte key.
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        t(spark, sf_dir, "documents")
        .select(F.md5(norm).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative_doc_id"),
            F.count("*").alias("group_size"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
       min(doc_id) AS representative_doc_id,
       count(*)::BIGINT AS group_size
FROM documents GROUP BY 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # All-pairs n-gram Jaccard >= tau. Quadratic — this is the exact
    # verifier / small-data path; dedup_minhash_lsh is the scale path
    # whose candidates are a superset of these pairs w.h.p.
    sh = _doc_shingles(t(spark, sf_dir, "documents"))
    a = sh.alias("a")
    b = sh.alias("b")
    j = jaccard(F.col("a.sh"), F.col("b.sh"))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            j.alias("jaccard"),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
p AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CASE WHEN len(list_distinct(a.sh || b.sh)) = 0 THEN 0.0
                ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
                     / len(list_distinct(a.sh || b.sh)) END AS j
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, j AS jaccard
FROM p WHERE j >= {JACCARD_THRESHOLD}
"""


def minhash_band_sig_cols(hs_col: str = "hs") -> list:
    """The LSH band-signature columns (``band0..band{LSH_BANDS-1}``) over
    a column of shingle hashes (``pmod(portable_hash64(shingle), 2^30)``
    per shingle — see dedup_minhash_lsh step 1).

    Factored out so the batch LSH dedup and the STREAMING near-dup dedup
    (streaming/jobs.py near_dedup_stream) compute byte-identical band
    keys: a doc deduped in the stream would land in the same LSH bucket
    in the batch plan, and vice versa.
    """
    rows_per_band = MINHASH_HASHES // LSH_BANDS

    def minhash(j):
        return F.array_min(
            F.transform(
                F.col(hs_col),
                lambda x: F.pmod(
                    x * F.lit(_MH_A[j]) + F.lit(_MH_B[j]), F.lit(MERSENNE61)
                ),
            )
        )

    return [
        F.concat_ws(
            "_", *[minhash(b * rows_per_band + r) for r in range(rows_per_band)]
        ).alias(f"band{b}")
        for b in range(LSH_BANDS)
    ]


def shingle_hashes(text_col) -> "Column":  # noqa: F821
    """Distinct word-shingle hash array for a text column — the shared
    step-1 map of every MinHash consumer (one md5 per shingle)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.transform(
        F.array_distinct(word_shingles(c, SHINGLE_K)),
        lambda x: F.pmod(portable_hash64(x), F.lit(1 << 30)),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding (shingle→minhash→band→bucket→verify).

    Plan shape (the 100 TB path):
      1. per-row map: shingles, ONE md5 hash per shingle, then the 12
         minhashes via universal-hash integer derivations (A*h+B mod
         2^61-1) — md5 is the expensive part, so it runs once per
         shingle, not once per (shingle, seed). The shingle+hash frame
         is CACHED (.persist(), optimization r16): the old
         ``repartition`` barrier intended ReuseExchange to dedupe the
         three downstream references (signature + both verify probes),
         but column pruning specializes each reference's subtree (the
         signature prunes ``sh``, the probes prune ``hs``), the
         exchanges stop being equal, and the executed plan re-ran the
         shingle scan THREE times (measured: 3 documents FileScans,
         zero ReusedExchange — the covariance-family 4x-scan defect
         pattern). Cache substitution happens on the ANALYZED plan,
         before pruning can specialize anything, so one materialization
         serves all three references at any scale — and unlike a
         checkpoint (which resurfaces as UnknownPartitioning under
         AQE), the cache keeps the repartition's hash(doc_id) visible
         to the planner.
      2. explode to LSH_BANDS narrow (band, sig, doc_id) rows — no
         arrays carried through the shuffle.
      3. bucket pairs via groupBy(band, sig) + collect_list — one
         shuffle on the bucket key and NO self-join. LSH bucket sizes
         are O(dups), so per-bucket pair expansion is tiny.
      4. exact-Jaccard verify on distinct candidate pairs, probing the
         cached frame twice (the alias-aware hash(doc_id) partitioning
         satisfies each probe's join key, so the probes add no
         hashed-side exchange).
    """
    verified = _lsh_verified_pairs(spark, sf_dir)
    return verified.where(F.col("jaccard") >= JACCARD_THRESHOLD)


def _lsh_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shingle+hash corpus pass, cached so every consumer inside ONE
    query plan reads the same materialization (see dedup_minhash_lsh's
    plan-shape note; no cross-query reuse — the bench unpersists all
    blocks between queries, so each query run recomputes and pays its
    own pass)."""
    return (
        _doc_shingles(t(spark, sf_dir, "documents"))
        .where(F.size("sh") > 0)
        .select(
            "doc_id",
            "sh",
            F.transform(
                F.col("sh"), lambda x: F.pmod(portable_hash64(x), F.lit(1 << 30))
            ).alias("hs"),
        )
        .repartition("doc_id")
        .persist()
    )


def _lsh_verified_pairs(
    spark: SparkSession, sf_dir: str, hashed: DataFrame | None = None
) -> DataFrame:
    """All LSH candidate pairs with their exact Jaccard (pre-threshold)
    — shared by dedup_minhash_lsh (thresholds it) and
    lsh_candidate_efficiency (measures the generator). ``hashed`` lets a
    caller that needs its own shingle probes (dedup_containment) share
    one pinned corpus pass instead of re-shingling."""
    if hashed is None:
        hashed = _lsh_hashed(spark, sf_dir)
    sig = hashed.select("doc_id", *minhash_band_sig_cols("hs"))
    bands = sig.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"band{b}") for b in range(LSH_BANDS)])).alias(
            "band", "band_sig"
        ),
    )
    buckets = (
        bands.groupBy("band", "band_sig")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
    )
    cand = unordered_pair_rows(
        buckets, "ids", "doc_a", "doc_b"
    ).distinct()
    verified = (
        cand.join(
            hashed.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            hashed.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"),
        )
    )
    return verified


def lsh_candidate_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generator quality for the MinHash LSH: how many bucket
    candidates the banding produced, how many survived exact-Jaccard
    verification, and the precision — the number that tells an operator
    whether the (bands, rows-per-band) tuning wastes verification work.
    Recall is measured separately by the all-pairs twin
    (``dedup_ngram_jaccard``) at small scale; precision is measurable at
    ANY scale because it only needs the candidate set.

    Exact-integer counts + their exact ratio, so the hash gate proves
    the precision value.
    """
    pairs = _lsh_verified_pairs(spark, sf_dir)
    n_cand = F.count("*").cast("long")
    n_ver = F.sum(
        F.when(F.col("jaccard") >= JACCARD_THRESHOLD, 1).otherwise(0)
    ).cast("long")
    return pairs.agg(
        n_cand.alias("n_candidates"),
        n_ver.alias("n_verified"),
        (n_ver.cast("double") / n_cand).alias("precision"),
    )


def _minhash_sql(j: int) -> str:
    return (
        f"list_min(list_transform(hs, x -> (x * {_MH_A[j]} + {_MH_B[j]}) % {MERSENNE61}))"
    )


_ROWS_PER_BAND = MINHASH_HASHES // LSH_BANDS
_BAND_SIGS_SQL = ", ".join(
    "("
    + " || '_' || ".join(
        _minhash_sql(b * _ROWS_PER_BAND + r) for r in range(_ROWS_PER_BAND)
    )
    + f") AS band{b}"
    for b in range(LSH_BANDS)
)

_LSH_VERIFIED_SQL = f"""
WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
sh AS (SELECT doc_id, sh,
              list_transform(sh, s -> {portable_hash64_sql("s")} % {1 << 30}) AS hs
       FROM sh0 WHERE len(sh) > 0),
sig AS (SELECT doc_id, {_BAND_SIGS_SQL} FROM sh),
bands AS (
    SELECT doc_id, u.band,
           CASE u.band {" ".join(f"WHEN {b} THEN band{b}" for b in range(LSH_BANDS))} END AS band_sig
    FROM sig CROSS JOIN (SELECT unnest(range({LSH_BANDS})) AS band) u
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
verified AS (
    SELECT c.doc_a, c.doc_b,
           CASE WHEN len(list_distinct(sa.sh || sb.sh)) = 0 THEN 0.0
                ELSE len(list_intersect(sa.sh, sb.sh))::DOUBLE
                     / len(list_distinct(sa.sh || sb.sh)) END AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified
"""

DEDUP_MINHASH_LSH_SQL = f"""
SELECT * FROM ({_LSH_VERIFIED_SQL}) WHERE jaccard >= {JACCARD_THRESHOLD}
"""

LSH_CANDIDATE_EFFICIENCY_SQL = f"""
SELECT count(*)::BIGINT AS n_candidates,
       sum(CASE WHEN jaccard >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)::BIGINT
           AS n_verified,
       sum(CASE WHEN jaccard >= {JACCARD_THRESHOLD} THEN 1 ELSE 0 END)::DOUBLE
           / count(*) AS precision
FROM ({_LSH_VERIFIED_SQL})
"""


#: Contrastive-pair thresholds: candidates at or above the corpus
#: near-dup threshold are POSITIVES; candidates below this floor are
#: HARD NEGATIVES (bucket-mates — superficially similar n-gram
#: profiles — that exact verification says are NOT duplicates, the
#: most informative negatives for contrastive training). The
#: ambiguous band between the two is excluded as 'boundary'.
CONTRASTIVE_NEG_TAU = 0.05


def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-pair mining for contrastive embedding models (the
    SimCSE/E5-style data prep a retrieval stack runs over its own
    corpus): POSITIVES are verified near-duplicate pairs (Jaccard ≥
    the dedup threshold — paraphrase-grade supervision for free), and
    HARD NEGATIVES are LSH candidate pairs the exact verification
    REJECTS (same MinHash band bucket — so lexically confusable — yet
    Jaccard < {CONTRASTIVE_NEG_TAU}): random negatives are trivially
    separable and teach nothing, while bucket-mate rejects are
    precisely the confusions a contrastive loss must learn to split.
    Pairs in the ambiguous [{CONTRASTIVE_NEG_TAU}, threshold) band are
    labeled 'boundary' and excluded from the emitted set (training on
    maybe-duplicates poisons both classes).

    Plan: ENTIRELY a reading of the shared LSH verified-pair frame
    (``_lsh_verified_pairs`` — the same one compute the dedup,
    efficiency, and threshold-sweep queries probe): O(candidate) rows,
    a per-row CASE, and a filter. The corpus-side cost was already
    paid by the banding; mining adds nothing data-sized."""
    pairs = _lsh_verified_pairs(spark, sf_dir)
    pair_type = (
        F.when(F.col("jaccard") >= JACCARD_THRESHOLD, F.lit("positive"))
        .when(F.col("jaccard") < CONTRASTIVE_NEG_TAU, F.lit("hard_negative"))
        .otherwise(F.lit("boundary"))
    )
    return (
        pairs.select("doc_a", "doc_b", "jaccard", pair_type.alias("pair_type"))
        .where(F.col("pair_type") != "boundary")
    )


CONTRASTIVE_PAIR_MINING_SQL = f"""
SELECT doc_a, doc_b, jaccard,
       CASE WHEN jaccard >= {JACCARD_THRESHOLD} THEN 'positive'
            ELSE 'hard_negative' END AS pair_type
FROM ({_LSH_VERIFIED_SQL})
WHERE jaccard >= {JACCARD_THRESHOLD} OR jaccard < {CONTRASTIVE_NEG_TAU}
"""


def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-tuning telemetry: for each Jaccard threshold 0.1..0.9, how
    many verified candidate pairs would count as near-duplicates — the
    one-pass sweep an operator reads before picking JACCARD_THRESHOLD
    for a corpus (too low → over-merging, too high → missed dups).

    Plan: the shared verified-pair list (O(dups) rows) cross-joins a
    broadcast 9-row threshold frame and folds to 9 counters — the
    corpus-side work is entirely the already-shared LSH chain; the sweep
    itself costs O(pairs × 9) comparisons and one tiny aggregation.
    """
    pairs = _lsh_verified_pairs(spark, sf_dir)
    th = spark.range(1, 10).select((F.col("id") / 10.0).alias("threshold"))
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy("threshold")
        .agg(
            F.sum((F.col("jaccard") >= F.col("threshold")).cast("int"))
            .cast("long")
            .alias("n_pairs")
        )
    )


NEARDUP_THRESHOLD_SWEEP_SQL = f"""
SELECT t.threshold, sum((v.jaccard >= t.threshold)::INT)::BIGINT AS n_pairs
FROM ({_LSH_VERIFIED_SQL}) v
CROSS JOIN (SELECT unnest(range(1, 10)) / 10.0 AS threshold) t
GROUP BY t.threshold
"""


def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the transitive dedup components:
    (cluster_size, n_clusters) — the shape report a curation pipeline
    checks after clustering (a fat head of giant clusters means the
    threshold over-merges; web-scale dedup reports this histogram as a
    standard health metric).

    Plan: two narrow groupBys on top of the shared
    :func:`dedup_components` labels — O(docs) then O(clusters) rows.
    """
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters")
    )


def _simhash_docs(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash): Charikar bit-vote signatures, one md5 per token.

    Shape: explode distinct tokens to (doc_id, hash) rows, then ONE
    groupBy(doc_id) with ``bits`` codegen'd integer ``sum`` aggregates
    (vote_j = sum of ±1 per bit). Chosen over the earlier HOF-fold form
    (aggregate() per bit over an array column) because HOF lambdas are
    interpreted per element — at 60 bits that's 60 interpreted passes per
    doc (measured ~10 s at sf0.01); the exploded groupBy keeps every
    per-bit op inside whole-stage codegen (measured ~50x faster) and its
    hash aggregation is map-side combined, so the shuffle carries one
    61-long row per doc per input partition, never the token rows.

    The trailing repartition is an exchange barrier: ``simhash`` is
    consumed by up to 10 subtrees (band expressions x join sides) and
    CollapseProject would inline the vote CASE-sum into each (see the
    MinHash plan's identical barrier rationale).
    """
    votes = [
        F.sum(
            F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    # explode_OUTER: a NULL-text doc has a NULL token array, and a plain
    # explode would emit no rows for it — silently dropping the doc from
    # the signature table, where the DuckDB oracle (list_sum over a NULL
    # list -> CASE -> 0) emits simhash=0. The outer explode keeps one
    # (doc_id, NULL) row; its hash is NULL, every vote sums to NULL, and
    # the when(v>0)/otherwise(0) bit assembly lands on simhash=0 — exact
    # oracle parity for NULL-text corpora.
    agg = (
        df.select(
            "doc_id",
            F.explode_outer(F.array_distinct(tokens("text"))).alias("tk"),
        )
        .select("doc_id", portable_hash64(F.col("tk")).alias("h"))
        .groupBy("doc_id")
        .agg(*votes)
    )
    total = F.lit(0).cast("long")
    for j in range(bits):
        total = total + F.when(
            F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", total.alias("simhash")).repartition("doc_id")


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 16-bit signature from token-hash bit votes
    (Charikar '02), pairs at Hamming distance <= 3 via XOR+popcount.

    Plan: pair DISTINCT signatures, then expand to doc pairs.
    Signatures collapse hard (sf0.1: 995 distinct among 5,000 docs — one
    signature covers 924 docs), so the all-pairs popcount comparison runs
    on |distinct|^2/2 ≈ 0.5M tiny rows instead of |docs|^2/2 = 12.5M,
    and the doc-level result (7.3M pairs — inherently quadratic output on
    this corpus) is produced by two hash-join expansions, never a
    pair-level distinct. Measured 14 s -> ~3 s at sf0.1 vs the banded
    self-join (which was no better than all-pairs here: 4-bit bands give
    64 buckets and vocabulary-correlated signatures pile into a few of
    them, emitting 20M candidates).

    Canonical pair order without double-emission: a signature pair is
    taken once (s_a <= s_b); cross-group doc pairs emit
    (least, greatest), same-group pairs filter doc_a < doc_b.

    Scale note: the signature-group contraction is the textbook simhash
    structure — at 100 TB, dedupe keys by signature first (distinct is
    one shuffle), compare signature pairs (optionally LSH-banded once
    signatures are wide enough to spread, e.g. 64-bit), and only expand
    groups when the downstream needs doc-level pairs at all (keep/drop
    decisions usually need one exemplar per group, not the pair list).
    The md5-once / vote-once barriers live in :func:`_simhash_docs`.
    """
    # pinned (optimization r16): the signature frame feeds the distinct
    # pairing AND both expansion sides — as bare references each re-ran
    # the tokenize + bit-vote aggregation (census: 4 executing documents
    # scans). Doc-grain (doc_id, simhash) longs; eager checkpoint so the
    # materialized layout is AQE-coalesced (a persist froze the 32
    # pre-AQE partitions and measured slower — OPTIMIZATION_r16.md).
    docs = pin(_simhash_docs(t(spark, sf_dir, "documents")))
    usig = docs.select("simhash").distinct()
    a, b = usig.alias("a"), usig.alias("b")
    sig_pairs = (
        a.join(b, F.col("a.simhash") <= F.col("b.simhash"))
        .select(
            F.col("a.simhash").alias("s_a"),
            F.col("b.simhash").alias("s_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
    )
    da = docs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("s_a"))
    db = docs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("s_b"))
    return (
        sig_pairs.join(da, "s_a")
        .join(db, "s_b")
        .where((F.col("s_a") < F.col("s_b")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            "hamming",
        )
    )


def _simhash_sql_col(bits: int) -> str:
    return (
        "list_sum(list_transform(range("
        + str(bits)
        + "), j -> CASE WHEN list_sum(list_transform(hs, h -> ((h >> j) & 1) * 2 - 1)) > 0 "
        "THEN (1::BIGINT << j) ELSE 0 END))::BIGINT"
    )


_SIMHASH_SQL_COL = _simhash_sql_col(SIMHASH_BITS)

DEDUP_SIMHASH_SQL = f"""
WITH hs0 AS (
    SELECT doc_id,
           list_transform(list_distinct({_TOKS_SQL}), x -> {portable_hash64_sql("x")}) AS hs
    FROM documents
),
sig AS (SELECT doc_id, {_SIMHASH_SQL_COL} AS simhash FROM hs0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def _band_rows(
    usig: DataFrame, band_bits: int, n_bands: int
) -> DataFrame:
    """(__sig, band, band_val) rows — each distinct signature exploded
    to its ``n_bands`` ``band_bits``-bit band keys. Shared by the
    pairing plan and the bucket-size profile so both read the same
    buckets."""
    band_mask = (1 << band_bits) - 1
    return usig.select(
        "__sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sig"), b * band_bits)
                    .bitwiseAND(F.lit(band_mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )


def band_bucket_profile(
    items: DataFrame,
    sig_col: str,
    *,
    band_bits: int = _S64_BAND_BITS,
    n_bands: int = SIMHASH64_BANDS,
) -> DataFrame:
    """Bucket-size report for :func:`hamming_band_pairs` — one row per
    non-singleton (band, band_val) bucket with its distinct-signature
    count, largest first. The monitoring complement of the pairing
    guard (VERDICT r13 next-round #5): run it BEFORE pairing a new
    corpus family to see whether a band degenerates (real image
    corpora concentrate dHash bands — constant sky/background regions
    share band values), and size ``max_bucket_sigs`` or re-band from
    measurements instead of discovering the skew as a mid-job error.
    Cost: the banding explosion + one count agg on narrow rows — no
    collect_list, safe at any skew."""
    docs = items.select(F.col(sig_col).alias("__sig"))
    return (
        _band_rows(docs.distinct(), band_bits, n_bands)
        .groupBy("band", "band_val")
        .agg(F.count("*").alias("n_sigs"))
        .where(F.col("n_sigs") > 1)
        .orderBy(F.desc("n_sigs"), "band", "band_val")
    )


def hamming_band_pairs(
    items: DataFrame,
    id_col: str,
    sig_col: str,
    *,
    band_bits: int = _S64_BAND_BITS,
    n_bands: int = SIMHASH64_BANDS,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket_sigs: int = 4096,
) -> DataFrame:
    """Hamming-radius pair generation over ANY wide bit signature —
    the band-LSH core of :func:`dedup_simhash64`, factored out (r13) so
    the perceptual image hash (``plans/multimodal.multimodal_dedup_phash``)
    and any future bit-signature near-dup reuse the identical machinery:

      1. distinct signatures (one shuffle, contracts exact dups);
      2. each signature explodes to ``n_bands`` × ``band_bits``-bit
         band keys — narrow (band, band_val, sig) rows;
      3. groupBy band bucket + in-bucket pairing (collect_list, no
         self-join);
      4. popcount(xor) verify at ``max_hamming``. Pigeonhole over the
         default 4 bands and radius 3 makes the candidate set COMPLETE:
         a missed pair would need ≥ 4 differing bands ⇒ Hamming ≥ 4;
      5. same-signature item groups pair via the (s, s) self rows;
         item pairs expand through two hash joins, never a pair-level
         distinct.

    ``items`` is (id_col, sig_col) with the signature in the low
    ``n_bands * band_bits`` bits of a long. Returns
    (id_a, id_b, hamming) with id_a < id_b. Shuffle budget: bands are
    ``n_bands`` narrow rows per DISTINCT signature; buckets are
    O(dups) sized; the corpus is touched only by the signature map and
    the two expansion joins.

    SKEW GUARD (VERDICT r13 next-round #5): a bucket holding B
    distinct signatures emits B(B-1)/2 candidate structs from ONE
    task, so a degenerate band value (real image corpora concentrate
    dHash bands — constant sky/background regions) turns a bucket into
    an OOM grenade at 100× corpus scale. Any non-singleton bucket
    exceeding ``max_bucket_sigs`` therefore raises a loud
    SparkRuntimeException naming the bucket and its size — the
    ``exact_percentiles_scalable`` "loud error beats silent funnel"
    discipline — instead of silently attempting the B² explosion.
    The default 4096 caps a bucket's candidate set at ~8.4M structs
    (task-sized); remediation is more/wider bands, masking the
    constant signature region upstream, or an explicit larger cap.
    Size it from measurements with :func:`band_bucket_profile`, which
    reads the same buckets with a count-only agg (skew-safe). Below
    the cap the guard is the identity — pairing output is unchanged.

    Guard cost adjudication (ADVICE r14 #3): ``bands`` feeds both the
    count-only ``sizes`` agg and the guard join with no exchange
    barrier of its own, so the band EXPLODE runs twice. The duplicated
    work is only the post-exchange Generate over the compact
    distinct-sig frame (``n_bands`` narrow rows per distinct
    signature, map-side, no shuffle, no scan). A
    repartition("band", "band_val") barrier would trade that cheap
    re-map for a REAL extra exchange on the band rows; cost exceeds
    benefit at 4 bands; revisit if n_bands grows enough that the
    explode dominates the bucket shuffle it feeds.

    Signature-pass dedup (optimization r16): the r14 note above used
    to claim the corpus FileScan appears once with the
    distinct-signature exchange reused — TRUE for the usig-side
    consumers (sizes/guard/self_pairs share one canonical subtree) but
    FALSE for the two expansion probes ``da``/``db``, which read a
    different column set (id + sig vs sig alone), so pruning
    specialized their subtrees and the executed plan re-ran the
    caller's signature map up to three more times (measured: 5
    documents FileScans in dedup_simhash64's final plan — the
    tokenize + 60-bit vote aggregation each time; the phash consumer
    re-ran the image decode). The signature frame is therefore PINNED
    here — eager checkpoint, (id, sig) longs only, dropped by the
    bench's per-query sweep — so every consumer of ONE query's plan
    reads one materialization. Checkpoint rather than .persist(): a
    persist froze the signature map's pre-AQE 32-partition layout
    into every consumer stage and read ~15% SLOWER than r15's
    recompute in the honest in-suite A/B; the pin materializes the
    AQE-final coalesced layout once (partitioning visibility is not
    load-bearing here — every consumer re-keys by band or endpoint).
    """
    docs = pin(items.select(
        F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig")
    ))
    usig = docs.select("__sig").distinct()
    bands = _band_rows(usig, band_bits, n_bands)
    # Guard ordering matters: the size check must complete BEFORE any
    # collect_list starts buffering, because collect_list on the
    # degenerate bucket is itself unbounded (a 50M-signature bucket is
    # a ~400 MB single-task array — the agg would OOM before a
    # post-agg check ever ran). So: (1) a count-only agg at bucket
    # grain — map-side combined, skew-safe at any bucket size; (2) the
    # counts join back onto the band rows (sort-merge spills if the
    # bucket-grain frame is large, never buffers a bucket) with the
    # raise_error fused INTO the signature column so it cannot be
    # pruned and fires per-row ahead of the downstream agg; (3) only
    # buckets the guard passed (and non-singletons) reach collect_list,
    # so its buffer is bounded by max_bucket_sigs (~32 KB at the
    # default cap).
    oversize_msg = F.concat_ws(
        " ",
        F.lit("hamming_band_pairs: degenerate band bucket — band"),
        F.col("band").cast("string"),
        F.lit("value"),
        F.col("band_val").cast("string"),
        F.lit("holds"),
        F.col("n_sigs").cast("string"),
        F.lit(
            "distinct signatures (max_bucket_sigs=%d); pairing it "
            "would emit ~n^2/2 candidates from one task. Re-band "
            "(more/wider bands), mask the constant signature region, "
            "or raise max_bucket_sigs explicitly. Measure first with "
            "band_bucket_profile()." % max_bucket_sigs
        ),
    )
    sizes = bands.groupBy("band", "band_val").agg(
        F.count("*").alias("n_sigs")
    )
    guarded = (
        bands.join(sizes, ["band", "band_val"])
        .where(F.col("n_sigs") > 1)
        .select(
            "band",
            "band_val",
            F.when(
                F.col("n_sigs") > F.lit(max_bucket_sigs),
                F.raise_error(oversize_msg),
            )
            .otherwise(F.col("__sig"))
            .alias("__sig"),
        )
    )
    buckets = guarded.groupBy("band", "band_val").agg(
        F.collect_list("__sig").alias("sigs")
    )
    verified = (
        unordered_pair_rows(buckets, "sigs", "s_a", "s_b")
        .distinct()
        .select(
            "s_a",
            "s_b",
            F.bit_count(F.col("s_a").bitwiseXOR(F.col("s_b")))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
    # Hamming-0 within-signature pairs: every signature self-pairs; the
    # expansion filter (id_a < id_b) drops singleton groups naturally.
    self_pairs = usig.select(
        F.col("__sig").alias("s_a"),
        F.col("__sig").alias("s_b"),
        F.lit(0).cast("long").alias("hamming"),
    )
    sig_pairs = verified.unionByName(self_pairs)
    da = docs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("s_a"))
    db = docs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("s_b"))
    return (
        sig_pairs.join(da, "s_a")
        .join(db, "s_b")
        .where((F.col("s_a") < F.col("s_b")) | (F.col("id_a") < F.col("id_b")))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "hamming",
        )
    )


def dedup_simhash64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-signature simhash near-dup pairs — the scale form of
    :func:`dedup_simhash` (which keeps 16 bits only for oracle-parity
    demo; VERDICT r1 flagged 16-bit signatures as semantically collapsed).

    60-bit signatures (full portable-hash width) spread real corpora to
    ~one signature per distinct document, so the 16-bit trick of all-pairs
    over distinct signatures stops working (|distinct| ~= |docs| makes it
    quadratic again). Instead, candidates come from EXACT band LSH:

      1. distinct signatures (one shuffle, contracts exact dups);
      2. each signature explodes to 4 x 15-bit band keys — narrow
         (band, band_val, sig) rows;
      3. groupBy band bucket + in-bucket pairing (collect_list, no
         self-join — same shape as the MinHash plan above);
      4. popcount(xor) verify at Hamming <= 3. Pigeonhole over 4 bands
         and radius 3 makes the candidate set COMPLETE: a missed pair
         would need >= 4 differing bands => Hamming >= 4.
      5. same-signature doc groups pair via the (s, s) self rows; doc
         pairs expand through two hash joins, never a pair-level distinct.

    Shuffle budget: bands are 4 narrow rows per distinct signature;
    buckets are O(dups) sized; the corpus itself is touched only by the
    signature map and the two expansion joins. (r13: steps 1-5 factored
    into :func:`hamming_band_pairs`, shared with the perceptual image
    hash — identical expressions, plan unchanged.)
    """
    docs = _simhash_docs(t(spark, sf_dir, "documents"), bits=SIMHASH64_BITS)
    return hamming_band_pairs(docs, "doc_id", "simhash").select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        "hamming",
    )


DEDUP_SIMHASH64_SQL = f"""
WITH hs0 AS (
    SELECT doc_id,
           list_transform(list_distinct({_TOKS_SQL}), x -> {portable_hash64_sql("x")}) AS hs
    FROM documents
),
sig AS (SELECT doc_id, {_simhash_sql_col(SIMHASH64_BITS)} AS simhash FROM hs0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def dedup_near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop half of a dedup pipeline: the corpus MINUS every doc
    that appears as the higher id of a verified near-dup pair (greedy
    keep-lowest — the standard approximation; full transitive clustering
    needs iterative connected components, out of SQL's reach).

    Plan: plain left-anti join on ``doc_id`` — no forced broadcast. On a
    real web crawl the near-dup side is 30-50% of the corpus (corpus-order,
    not dimension-order), so a compile-time ``F.broadcast`` hint would OOM
    executors at 100 TB; AQE still picks a broadcast join at runtime
    whenever the pair side is genuinely under the threshold, and the
    shuffled anti-join on ``doc_id`` is safe at every scale.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_b").distinct()
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .join(
            pairs,
            F.col("doc_id") == F.col("doc_b"),
            "left_anti",
        )
    )


DEDUP_NEAR_DUP_SURVIVORS_SQL = f"""
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT DISTINCT doc_b FROM ({DEDUP_MINHASH_LSH_SQL}))
"""


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (Gopher-style quality rules:
    'fraction of duplicate n-grams' and 'fraction of most-common word').

    Token stats come from one explode + two-level agg (map-side combined
    counts, narrow rows); the shingle-duplication ratio is a pure per-row
    expression (``array_distinct`` is one pass over the row's own array)
    — no cross-doc state anywhere, so the whole query is one scan + one
    doc-keyed exchange at any corpus size.

    All emitted ratios are exact small-integer quotients (raw doubles,
    bit-identical cross-engine per the float policy).
    """
    docs = t(spark, sf_dir, "documents")
    tok_stats = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.max("tf").alias("top_tf"),
        )
    )
    sh = word_shingles("text", SHINGLE_K)
    shingle_stats = docs.select(
        "doc_id",
        F.size(sh).cast("long").alias("n_shingles"),
        F.size(F.array_distinct(sh)).cast("long").alias("n_distinct_shingles"),
    )
    return (
        tok_stats.join(shingle_stats, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("top_tf").cast("double") / F.col("n_tokens")).alias(
                "top_token_ratio"
            ),
            (
                F.lit(1.0)
                - F.col("n_distinct_shingles").cast("double")
                / F.col("n_shingles")
            ).alias("dup_shingle_ratio"),
            (
                F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
            ).alias("distinct_token_ratio"),
        )
    )


DOC_REPETITION_SQL = f"""
WITH tf AS (
    SELECT doc_id, term, count(*)::BIGINT AS tf
    FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
    GROUP BY 1, 2
),
tok AS (
    SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
           count(*)::BIGINT AS n_distinct_tokens, max(tf) AS top_tf
    FROM tf GROUP BY 1
),
shingle_sql AS (
    SELECT doc_id,
           len(sh_all)::BIGINT AS n_shingles,
           len(list_distinct(sh_all))::BIGINT AS n_distinct_shingles
    FROM (SELECT doc_id,
                 list_transform(range(len({_TOKS_SQL}) - {SHINGLE_K - 1}), i -> """ + (
    " || ' ' || ".join(f"{_TOKS_SQL}[i + {k + 1}]" for k in range(SHINGLE_K))
) + """) AS sh_all
          FROM documents)
)
SELECT t.doc_id, t.n_tokens,
       t.top_tf::DOUBLE / t.n_tokens AS top_token_ratio,
       1.0 - s.n_distinct_shingles::DOUBLE / s.n_shingles AS dup_shingle_ratio,
       t.n_distinct_tokens::DOUBLE / t.n_tokens AS distinct_token_ratio
FROM tok t JOIN shingle_sql s USING (doc_id)
"""


BOILER_DF_FRACTION = 0.5   # a shingle in > half the corpus is boilerplate


def boilerplate_shingle_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate detection: the fraction of each
    document's distinct shingles that occur in more than
    ``BOILER_DF_FRACTION`` of all documents (headers / footers / nav
    text in a real crawl).

    Plan: one explode of distinct shingles → df counts (map-side
    combined); the common-shingle table is then inner-joined back.
    UNLIKE TF-IDF's vocabulary-sized df table, the common set here is
    bounded by construction — a shingle qualifies only by appearing in
    >50% of all documents, so at most ``total_shingle_occurrences /
    (0.5 * n_docs)`` distinct shingles qualify (~2x the mean shingles
    per doc, i.e. a few thousand regardless of corpus size) — so the
    broadcast semi-join is sound at any scale. The corpus row count
    enters as a broadcast 1-row aggregate (no plan-build count job).
    """
    docs = t(spark, sf_dir, "documents")
    n_docs_row = docs.agg(F.count("*").alias("__n_docs"))
    # doc_id barrier: sh has THREE consumers (df counts, boiler counts,
    # totals); the barrier makes ReuseExchange serve all three from one
    # shingling pass, and both doc-keyed aggregations below inherit the
    # partitioning (no further exchange).
    sh = (
        _doc_shingles(docs)
        .select("doc_id", F.explode("sh").alias("shingle"))
        .repartition("doc_id")
    )
    common = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs_row))
        .where(F.col("df") > BOILER_DF_FRACTION * F.col("__n_docs"))
        .select("shingle")
    )
    per_doc = sh.join(F.broadcast(common), "shingle", "left_semi").groupBy(
        "doc_id"
    ).agg(F.count("*").alias("n_boiler"))
    totals = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            (
                F.coalesce("n_boiler", F.lit(0)).cast("double")
                / F.col("n_shingles")
            ).alias("boilerplate_ratio"),
        )
    )


BOILERPLATE_SQL = f"""
WITH sh AS (
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
n AS (SELECT count(*) AS n_docs FROM documents),
common AS (
    SELECT shingle FROM sh CROSS JOIN n
    GROUP BY shingle, n.n_docs HAVING count(*) > {BOILER_DF_FRACTION} * n.n_docs
),
per_doc AS (
    SELECT doc_id, count(*)::BIGINT AS n_boiler FROM sh
    WHERE shingle IN (SELECT shingle FROM common) GROUP BY 1
),
totals AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh GROUP BY 1)
SELECT t.doc_id, t.n_shingles,
       coalesce(p.n_boiler, 0)::DOUBLE / t.n_shingles AS boilerplate_ratio
FROM totals t LEFT JOIN per_doc p USING (doc_id)
"""


TFIDF_TOP_K = 3


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K TF-IDF terms per document — the classic content-signature /
    keyword-extraction text op.

    Plan: explode tokens once; term frequency is a (doc, term) groupBy;
    document frequency is a (term) groupBy over the distinct (doc, term)
    pairs — both map-side-combinable counts over narrow rows. The df
    table joins back onto tf with NO broadcast hint: a 100 TB crawl's
    vocabulary (typos, numbers, code tokens) is 1e8-1e9 terms, far past
    broadcast range. Both sides of the join are already hash-partitioned
    by ``term`` (tf via the explicit barrier, df because it is an
    aggregate OF that barrier), so the shuffled join adds zero new
    exchanges of either side; AQE still broadcasts at runtime when the
    vocabulary is genuinely small. The final per-doc top-k is one window
    over rows re-keyed by doc.

    The corpus row count enters the plan as a broadcast 1-row aggregate
    cross join (not a driver-side ``.count()``), so building + running
    the query is ONE job, not a count job plus the main job.

    Float policy: idf = ln(N/df) on exact integer operands, then
    round(tf*idf, 6) — float-accumulated class (never sits on a decimal
    boundary; cross-engine libm noise is ~1e-15 vs the 1e-6 grid).
    """
    docs = t(spark, sf_dir, "documents")
    n_docs_row = docs.agg(F.count("*").cast("double").alias("__n_docs"))
    terms = docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    # The term-repartition barrier + CACHE (optimization r16): tf feeds
    # BOTH the df aggregation and the join probe. The barrier alone
    # relied on ReuseExchange, which never fired — the df side prunes
    # doc_id/tf below the exchange, the subtrees diverge, and the
    # executed plan re-ran the scan + tokenization twice (measured: 3
    # documents FileScans). The cache substitutes on the analyzed plan
    # (pre-pruning), so one tokenization serves both consumers, and it
    # keeps the repartition's hash(term) visible: the df groupBy and
    # the join still need no further exchange of this side.
    tf = (
        terms.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .repartition("term")
        .persist()
    )
    df_ = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    tfidf = F.round(
        F.col("tf")
        * F.log(F.col("__n_docs") / F.col("df").cast("double")),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), "term"
    )
    return (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs_row))
        .select("doc_id", "term", "tf", tfidf.alias("tfidf"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TFIDF_TOP_K)
    )


TFIDF_TOP_TERMS_SQL = f"""
WITH terms AS (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf,
           round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, rk FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term
    ) AS rk FROM scored
) WHERE rk <= {TFIDF_TOP_K}
"""


def _cc_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized (src, dst) edge list of an undirected pair frame."""
    return pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )


def _cc_seed(edges: DataFrame) -> DataFrame:
    """Seed labels = neighborhood min (one propagation round folded
    into initialization)."""
    return (
        edges.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "mn").alias("label"),
        )
    )


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE fused CC round (propagation + path-doubling under a single
    shuffle-to-id barrier) — the pre-checkpoint round body, shared by
    the convergence loop below and the plan-audit probe
    (plans/probes.py), so the audited shape IS the executed shape."""
    nbr = (
        edges.join(
            labels.select(
                F.col("id").alias("dst"), F.col("label").alias("cand")
            ),
            "dst",
        )
        .select(F.col("src").alias("id"), "cand")
    )
    # Pointer jump as candidates: label(x) is always the id of a node
    # in x's component and every node appears in `labels` (edges are
    # symmetrized, so each node occurs as src), hence the inner join
    # emits exactly one label-of-label candidate per node.
    jump = (
        labels.alias("x")
        .join(
            labels.select(
                F.col("id").alias("jid"), F.col("label").alias("cand")
            ),
            F.col("x.label") == F.col("jid"),
        )
        .select(F.col("x.id").alias("id"), "cand")
    )
    return (
        labels.select("id", F.col("label").alias("cand"))
        .unionByName(nbr)
        .unionByName(jump)
        .groupBy("id")
        .agg(F.min("cand").alias("label"))
    )


def _connected_components(pairs: DataFrame) -> DataFrame:
    """Min-label connected components over an undirected pair list
    (columns ``doc_a`` < ``doc_b``) -> (id, label) with label = component
    minimum.

    FUSED iteration (round-3 rewrite): each round builds ONE candidate
    union — self labels ∪ neighbor labels (edge join) ∪ label-of-label
    (pointer-jump join) — and takes ONE groupBy(id).min. That is 2 joins
    + 1 aggregation per round vs the previous 3 joins + 2 aggregations
    (separate neighbor-min propagate, left-join merge, then pointer-jump
    round), with the same O(log diameter) round count: every round still
    applies both a propagation step and a path-doubling step, just under
    a single shuffle-to-id barrier. Invariant unchanged: labels only
    ever DECREASE and label(x) <= x, so a stable global sum(label)
    proves a fixpoint (an observe() metric riding the round's pin job —
    zero extra jobs, no change-join).

    Scale: every round shuffles (node, label) pairs keyed by id — O(dup
    docs), not the corpus. Each round's label frame is materialized with
    an EAGER ``localCheckpoint`` — not a bare ``persist`` — because the
    fused round references the previous labels three times (self ∪
    neighbor ∪ label-of-label), so the *logical* plan would grow ~4× per
    round even though the cache keeps execution flat; past ~8 rounds the
    exponential plan tree OOMs the driver just rendering its explain
    string. The checkpoint truncates lineage to the stored partitions,
    making per-round plan size O(1). Pinning goes through
    ``functions.core.pin``: localCheckpoint by default (executor-local,
    zero DFS traffic — but unrecoverable after an executor loss), or a
    reliable ``checkpoint(dir)`` when the session sets
    ``spark.graft.checkpointDir`` — the production form on a
    1000-executor cluster where a node loss must not kill a long job
    (VERDICT r10 #3). The edge list is
    persisted pre-partitioned on ``dst`` so the per-round neighbor join
    never re-exchanges the edges (Catalyst recognizes the cached
    hash-partitioning and only shuffles the label side).
    """
    from pyspark.sql import Observation

    # Persist the symmetrized edge list: it is joined every round, and
    # without materialization each round's job would recompute the whole
    # upstream pair pipeline (for MinHash edges that's the full
    # shingle/hash/band/verify chain — measured 7.7 s -> 3.4 s at sf0.1).
    #
    # Convergence sums ride observe()/CollectMetrics on the pin job
    # itself (optimization r15): the eager checkpoint already
    # materializes every row, so the per-round agg-and-collect job the
    # old form paid just to read sum(label) is pure stage latency.
    # Verified to fire on BOTH pin paths (localCheckpoint and reliable
    # checkpoint); the sum is the same associative exact-long fold over
    # the same rows, so the fixpoint test sees identical values.
    edges = _cc_edges(pairs).repartition("dst").persist()
    seed_obs = Observation()
    labels = pin(
        _cc_seed(edges).observe(seed_obs, F.sum("label").alias("s")),
        eager=True,
    )
    prev_sum = seed_obs.get["s"]
    for _ in range(20):  # >= log2(diameter) rounds; dup clusters are shallow
        obs = Observation()
        new_labels = pin(
            _cc_round(edges, labels).observe(
                obs, F.sum("label").alias("s")
            ),
            eager=True,  # truncate lineage
        )
        cur_sum = obs.get["s"]
        labels = new_labels
        if cur_sum == prev_sum:  # labels are monotone non-increasing
            break
        prev_sum = cur_sum
    else:  # pragma: no cover
        raise RuntimeError("connected components did not converge")
    edges.unpersist()
    return labels


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering: connected components over the
    verified MinHash-LSH near-dup pairs; every document labeled with its
    component representative (the minimum doc_id reachable through any
    chain of verified pairs — singletons label themselves).

    This replaces the greedy keep-lowest survivor rule (which can drop a
    doc whose only link is to an already-dropped doc) with the correct
    equivalence-class semantics a real dedup pipeline wants.
    """
    labels = _connected_components(dedup_minhash_lsh(spark, sf_dir))
    # No broadcast hint on the label table: it is O(docs-with-a-near-dup),
    # which on a web-scale crawl is 30-50% of the corpus — corpus-order,
    # not dimension-order. A shuffled left join on doc_id is safe at every
    # scale, and AQE still broadcasts at runtime when the labels really
    # are small.
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .join(
            labels.select(F.col("id").alias("doc_id"), "label"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("component"),
        )
    )


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE
pairs AS (SELECT doc_a, doc_b FROM ({DEDUP_MINHASH_LSH_SQL})),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
minreach AS (SELECT src AS doc_id, min(dst) AS mn FROM reach GROUP BY src)
SELECT d.doc_id, least(d.doc_id, coalesce(m.mn, d.doc_id)) AS component
FROM documents d LEFT JOIN minreach m ON d.doc_id = m.doc_id
"""


def dedup_survivors_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor set under transitive clustering: exactly one document
    (the component minimum) per equivalence class — the corrected form of
    :func:`dedup_near_dup_survivors` (greedy keep-lowest keeps a doc
    whose pair-partner was itself dropped by a different pair; component
    semantics never does)."""
    comp = dedup_components(spark, sf_dir)
    return (
        comp.where(F.col("doc_id") == F.col("component"))
        .join(t(spark, sf_dir, "documents").select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars")
    )


DEDUP_SURVIVORS_CC_SQL = f"""
SELECT d.doc_id, d.n_chars
FROM documents d JOIN ({DEDUP_COMPONENTS_SQL}) c ON d.doc_id = c.doc_id
WHERE c.doc_id = c.component
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-containment scores for the verified near-dup pairs:
    ``containment_a = |A∩B| / |A|`` (and symmetrically for B). Jaccard
    under-scores the quote-inside-article case (a small doc wholly
    contained in a big one); containment is the standard second axis a
    dedup pipeline uses to classify pair type — near-identical (both
    high) vs containment (one high, one low).

    Plan: ONE pinned shingle pass (``_lsh_hashed`` — optimization r16:
    the query previously built its OWN shingle frame next to the LSH
    chain's, so the corpus was shingled FIVE times; now the chain and
    both containment probes read the same checkpoint) feeds the LSH
    verify and the two containment probes; all scores are exact integer
    ratios, so the driver hash gate proves the values.
    """
    hashed = _lsh_hashed(spark, sf_dir)
    pairs = _lsh_verified_pairs(spark, sf_dir, hashed).where(
        F.col("jaccard") >= JACCARD_THRESHOLD
    ).select("doc_a", "doc_b", "jaccard")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        pairs.join(
            hashed.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            hashed.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (inter / F.size("sh_a")).alias("containment_a"),
            (inter / F.size("sh_b")).alias("containment_b"),
        )
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_LSH_SQL}),
sh AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
       WHERE len({_SHINGLES_SQL}) > 0)
SELECT p.doc_a, p.doc_b, p.jaccard,
       len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sa.sh) AS containment_a,
       len(list_intersect(sa.sh, sb.sh))::DOUBLE / len(sb.sh) AS containment_b
FROM pairs p
JOIN sh sa ON sa.doc_id = p.doc_a
JOIN sh sb ON sb.doc_id = p.doc_b
"""


def dedup_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification of the LSH candidates: Levenshtein
    distance (absolute + normalized by the longer text) per verified
    near-dup pair — the character-level third axis after set-Jaccard and
    containment, catching transpositions/rewrites that shingle sets
    blur.

    Scale: O(len²) per pair BUT only on the O(dups) verified pair list —
    never corpus-pairs; both engines' ``levenshtein`` is the exact DP,
    so the integer distances (and their exact ratios) hash-match.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    dist = F.levenshtein(F.col("text_a"), F.col("text_b")).cast("long")
    longer = F.greatest(F.length("text_a"), F.length("text_b")).cast("double")
    return (
        pairs.join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a")),
            "doc_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            dist.alias("edit_distance"),
            (dist.cast("double") / longer).alias("normalized_edit_distance"),
        )
    )


DEDUP_EDIT_DISTANCE_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_LSH_SQL})
SELECT p.doc_a, p.doc_b, p.jaccard,
       levenshtein(da.text, db.text)::BIGINT AS edit_distance,
       levenshtein(da.text, db.text)::DOUBLE
           / greatest(length(da.text), length(db.text))
           AS normalized_edit_distance
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
"""


def cross_source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair near-duplication matrix: how many verified near-dup
    pairs cross each (source, source) combination — the dedup analytics
    a corpus curator reads before deciding which feeds to de-prioritize
    (e.g. a mirror site shows up as an off-diagonal spike).

    Plan: the verified LSH pair list (O(dups)) joins documents twice on
    ``doc_id`` to pick up each side's source, then one tiny groupBy on
    the unordered source pair. The corpus shuffles only inside the
    shared LSH chain; the matrix itself is |sources|² rows.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
    )


CROSS_SOURCE_NEARDUP_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_LSH_SQL})
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*)::BIGINT AS n_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2
"""


def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximation quality of the MinHash estimator, measured on the
    verified near-dup pairs: estimated Jaccard (fraction of the 12
    minhashes that agree) vs the exact shingle Jaccard, with the
    absolute error — approximation error as a first-class monitored
    output, like ``simsearch_ivf_recall`` for ANN.

    Everything is exact integer/rational arithmetic on identical
    operands in both engines (matches/12.0, |est − exact|), so the
    driver's value-hash gate PROVES the estimator numbers, not just the
    row set. The HOF fold runs only on O(dups) pair rows, far off the
    corpus hot path.
    """
    hashed = (
        _doc_shingles(t(spark, sf_dir, "documents"))
        .where(F.size("sh") > 0)
        .select(
            "doc_id",
            "sh",
            F.transform(
                F.col("sh"), lambda x: F.pmod(portable_hash64(x), F.lit(1 << 30))
            ).alias("hs"),
        )
        .repartition("doc_id")
    )

    def minhash(j):
        return F.array_min(
            F.transform(
                F.col("hs"),
                lambda x: F.pmod(
                    x * F.lit(_MH_A[j]) + F.lit(_MH_B[j]), F.lit(MERSENNE61)
                ),
            )
        )

    sigs = hashed.select(
        "doc_id", F.array(*[minhash(j) for j in range(MINHASH_HASHES)]).alias("mh")
    )
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b", "jaccard")
    matches = F.aggregate(
        F.zip_with(
            F.col("mh_a"),
            F.col("mh_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est = matches.cast("double") / F.lit(float(MINHASH_HASHES))
    return (
        pairs.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("mh").alias("mh_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("mh").alias("mh_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            est.alias("est_jaccard"),
            F.abs(est - F.col("jaccard")).alias("abs_err"),
        )
    )


_MH_LIST_SQL = "list_value(" + ", ".join(
    _minhash_sql(j) for j in range(MINHASH_HASHES)
) + ")"
_MH_MATCHES_SQL = "(" + " + ".join(
    f"CASE WHEN ma.mh[{j + 1}] = mb.mh[{j + 1}] THEN 1 ELSE 0 END"
    for j in range(MINHASH_HASHES)
) + ")"

MINHASH_ESTIMATE_ERROR_SQL = f"""
WITH pairs AS ({DEDUP_MINHASH_LSH_SQL}),
sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents),
sigs AS (
    SELECT doc_id, {_MH_LIST_SQL} AS mh
    FROM (SELECT doc_id,
                 list_transform(sh, s -> {portable_hash64_sql("s")} % {1 << 30}) AS hs
          FROM sh0 WHERE len(sh) > 0)
)
SELECT p.doc_a, p.doc_b, p.jaccard,
       {_MH_MATCHES_SQL} / {MINHASH_HASHES}.0 AS est_jaccard,
       abs({_MH_MATCHES_SQL} / {MINHASH_HASHES}.0 - p.jaccard) AS abs_err
FROM pairs p
JOIN sigs ma ON ma.doc_id = p.doc_a
JOIN sigs mb ON mb.doc_id = p.doc_b
"""


DEDUP_CLUSTER_SIZE_HISTOGRAM_SQL = f"""
WITH comp AS ({DEDUP_COMPONENTS_SQL}),
sizes AS (
    SELECT component, count(*)::BIGINT AS cluster_size FROM comp GROUP BY 1
)
SELECT cluster_size, count(*)::BIGINT AS n_clusters FROM sizes GROUP BY 1
"""


# ---------------------------------------------------------------------------
# PMI term co-occurrence (collocation mining)
# ---------------------------------------------------------------------------

PMI_MIN_PAIR_DOCS = 5   # support floor before a pair is scored
PMI_TOP_K = 20


def term_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K term pairs by pointwise mutual information over document
    co-occurrence: PMI(a,b) = ln(df_ab * N / (df_a * df_b)) — the
    collocation score a phrase/topic miner starts from.

    Plan: ONE cached tokenization pass serves the doc count, the
    per-term marginals, and the pair counts (the repartition barrier's
    ReuseExchange never fired in the final adaptive plan — census: 4
    executing documents scans; optimization r16 caches the token frame
    and the vocabulary-sized marginals, which the two PMI joins read
    twice). Pairs come from IN-ROW expansion
    of each doc's sorted distinct-token array (the copurchase_pairs
    no-self-join shape): O(distinct²) per doc, bounded by per-doc
    vocabulary, never a corpus self-join. Marginals are vocabulary-
    sized → both PMI joins broadcast. The global top-K is
    TakeOrderedAndProject over the vocabulary²-bounded scored pairs.
    Determinism: counts are exact longs; the PMI ratio is a single
    division of exact products; ``ln`` may differ in the last ulp
    between libm builds → round(…,6) per policy, with (term_a, term_b)
    breaking rank ties.
    """
    docs = t(spark, sf_dir, "documents")
    dt = (
        docs.where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.array_sort(F.array_distinct(tokens("text"))).alias("dt"),
        )
        .transform(pin)
    )
    total = dt.agg(F.count("doc_id").alias("n_docs"))
    marg = (
        dt.select(F.explode("dt").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .persist()
    )
    pairs = (
        unordered_pair_rows(dt, "dt", "term_a", "term_b")
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("df_ab"))
        .where(F.col("df_ab") >= PMI_MIN_PAIR_DOCS)
    )
    scored = (
        pairs.join(
            F.broadcast(
                marg.select(
                    F.col("term").alias("term_a"), F.col("df").alias("df_a")
                )
            ),
            "term_a",
        )
        .join(
            F.broadcast(
                marg.select(
                    F.col("term").alias("term_b"), F.col("df").alias("df_b")
                )
            ),
            "term_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "term_a",
            "term_b",
            "df_ab",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    (F.col("df_ab") * F.col("n_docs")).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("pmi"), "term_a", "term_b"
    ).limit(PMI_TOP_K)


TERM_COOCCURRENCE_PMI_SQL = f"""
WITH dt AS (
    SELECT doc_id, list_sort(list_distinct({_TOKS_SQL})) AS dt
    FROM documents WHERE doc_id IS NOT NULL
),
tot AS (SELECT count(doc_id)::BIGINT AS n_docs FROM dt),
ex AS (SELECT doc_id, unnest(dt) AS term FROM dt),
marg AS (SELECT term, count(*)::BIGINT AS df FROM ex GROUP BY term),
pairs AS (
    SELECT a.term AS term_a, b.term AS term_b, count(*)::BIGINT AS df_ab
    FROM ex a JOIN ex b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
    HAVING count(*) >= {PMI_MIN_PAIR_DOCS}
)
SELECT p.term_a, p.term_b, p.df_ab, ma.df AS df_a, mb.df AS df_b,
       round(ln((p.df_ab * t.n_docs)::DOUBLE / (ma.df * mb.df)::DOUBLE), 6)
           AS pmi
FROM pairs p
JOIN marg ma ON p.term_a = ma.term
JOIN marg mb ON p.term_b = mb.term
CROSS JOIN tot t
ORDER BY pmi DESC, term_a, term_b
LIMIT {PMI_TOP_K}
"""


def doc_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document CONTENT NOVELTY against everything ingested before
    it: of a doc's distinct word 3-shingles, how many appear in NO
    lower-doc_id document (doc_id is ingestion order in this corpus).
    The aggregate over the curve is the dataset's vocabulary-growth /
    Heaps-law profile — the training-data signal that says when a
    source stops contributing new content and marginal tokens become
    rehash (the moment a curation pipeline downsamples or stops
    crawling it).

    Plan: ONE tokenize+shingle explode; first occurrence per shingle is
    a ``min(doc_id)`` contraction over the distinct (doc, shingle)
    frame; the frame is repartitioned by ``shingle`` as an explicit
    exchange barrier (the :func:`tfidf_top_terms` idiom) so
    ReuseExchange serves BOTH the first-occurrence aggregate and the
    join probe from one tokenization and the join adds no new exchange
    of either side — a 100 TB crawl's shingle vocabulary is far past
    broadcast range. One final doc-keyed agg. Novelty ratio is an
    exact small-integer quotient (raw; float policy).
    """
    pairs = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles("text", SHINGLE_K))
            ).alias("shingle"),
        )
        .repartition("shingle")
    )
    first = pairs.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        pairs.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_shingles")
            ).alias("novelty_ratio"),
        )
    )


DOC_NOVELTY_PROFILE_SQL = f"""
WITH pairs AS (
    SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle
    FROM documents WHERE doc_id IS NOT NULL
),
first_occ AS (
    SELECT shingle, min(doc_id) AS first_doc FROM pairs GROUP BY 1
)
SELECT p.doc_id, count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)::BIGINT
           AS n_novel,
       sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)::DOUBLE
           / count(*) AS novelty_ratio
FROM pairs p JOIN first_occ f USING (shingle)
GROUP BY p.doc_id
"""


# ---------------------------------------------------------------------------
# Repeated-span detection (ExactSubstr-style training-data dedup, r13)
# ---------------------------------------------------------------------------

#: Span shingle width. Production ExactSubstr dedup (Lee et al. 2022,
#: "Deduplicating Training Data Makes Language Models Better") uses
#: ~50-token spans; the fixture corpus draws from a ~40-word vocabulary
#: where 5-token spans already isolate genuinely duplicated passages
#: (the driver's planted near-dup documents) from coincidence.
REPEAT_NGRAM_N = 5


def dedup_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-span flagging — the sub-document
    complement of the doc/chunk-level dedup family (Lee et al. 2022's
    ExactSubstr): a span repeated ANYWHERE in the corpus (another doc
    or the same one — boilerplate, licenses, templated passages) is
    memorization fuel, and removing just the span keeps the rest of
    the document trainable where whole-doc dedup would drop or keep it
    wholesale. Emits, per document, the MERGED token spans covered by
    ≥1 repeated ``REPEAT_NGRAM_N``-gram: (doc_id, span_start inclusive,
    span_end exclusive, n_shingles in the span) — the removal mask a
    cleaning pass applies with one ``slice``.

    Plan: shingle rows (doc_id, pos, md5-of-span) are corpus-token
    sized — the same grain the MinHash family already pays — and the
    repeat test is ONE hash-keyed contraction (groupBy(h) with
    map-side combine, count > 1) semi-joined back shuffle-on-hash;
    span merging is the gaps-and-islands idiom under a per-doc_id
    window (partitioned — no global sort). Nothing is pairwise:
    a span repeated in k places costs k rows, never k² (the
    suffix-array equivalence ExactSubstr exploits, expressed as a
    hash contraction).

    Determinism: md5 over the space-joined tokens matches DuckDB
    byte-for-byte (the ``doc_fingerprint`` contract), positions and
    island arithmetic are exact ints."""
    n = REPEAT_NGRAM_N
    toks = tokens("text")
    sh = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - n),
                    lambda p: F.struct(
                        p.cast("long").alias("pos"),
                        F.md5(
                            F.concat_ws(
                                " ", F.slice("toks", p + 1, F.lit(n))
                            )
                        ).alias("h"),
                    ),
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    )
    repeated = (
        sh.groupBy("h")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("h")
    )
    hits = sh.join(repeated, "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + n).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "new_island",
            F.when(
                prev_max_end.isNull() | (F.col("pos") > prev_max_end),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long"),
        )
        .withColumn(
            "island",
            F.sum("new_island").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end"),
        F.count("*").alias("n_shingles"),
    ).select("doc_id", "span_start", "span_end", "n_shingles")


DEDUP_REPEATED_SPANS_SQL = f"""
WITH sh AS (
    SELECT doc_id, p.p::BIGINT AS pos,
           md5(array_to_string(toks[p.p + 1 : p.p + {REPEAT_NGRAM_N}], ' '))
               AS h
    FROM (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
        WHERE doc_id IS NOT NULL
    ) CROSS JOIN range(0, 100000) p(p)
    WHERE len(toks) >= {REPEAT_NGRAM_N}
      AND p.p <= len(toks) - {REPEAT_NGRAM_N}
),
rep AS (SELECT h FROM sh GROUP BY h HAVING count(*) > 1),
hits AS (SELECT doc_id, pos FROM sh JOIN rep USING (h)),
flagged AS (
    SELECT doc_id, pos,
           CASE WHEN max(pos + {REPEAT_NGRAM_N}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR pos > max(pos + {REPEAT_NGRAM_N}) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           THEN 1 ELSE 0 END::BIGINT AS new_island
    FROM hits
),
isl AS (
    SELECT doc_id, pos,
           sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + {REPEAT_NGRAM_N})::BIGINT AS span_end,
       count(*)::BIGINT AS n_shingles
FROM isl GROUP BY doc_id, island
"""


def doc_band_keys(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """MinHash-LSH band-key rows ``(id_col, band, band_sig)`` for a
    document frame — the shared key grain of the batch LSH dedup
    (:func:`dedup_minhash_lsh`), the streaming near-dup dedup
    (streaming/jobs.near_dedup_stream), and the PERSISTED corpus
    band-key index (operators/corpus_index.py): all three route
    through :func:`shingle_hashes` + :func:`minhash_band_sig_cols`, so
    a document produces byte-identical keys no matter which surface
    computes them, and "seen before" means the same thing everywhere.

    Shingle-less documents (empty/short/null text) emit NO rows —
    they cannot near-duplicate by LSH and are accepted by key-based
    dedup by construction (the stream's ``short:{id}`` self-keys are
    the same semantics). The ``repartition(id_col)`` is the standard
    HOF barrier: without it CollapseProject inlines the shingle map
    into each of the 12 minhash expressions (see dedup_minhash_lsh
    step 1 — measured ~10x blowup)."""
    hashed = (
        docs.select(F.col(id_col), F.col(text_col))
        .where(F.col(id_col).isNotNull())
        .withColumn("hs", shingle_hashes(text_col))
        .where(F.coalesce(F.size("hs"), F.lit(0)) > 0)
        .select(id_col, "hs")
        .repartition(id_col)
    )
    sig = hashed.select(id_col, *minhash_band_sig_cols("hs"))
    return sig.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.col(f"band{b}") for b in range(LSH_BANDS)])
        ).alias("band", "band_sig"),
    )


#: Fixture split for the oracle-gated corpus-index twin: documents with
#: ``doc_id % CORPUS_INDEX_NEW_MOD == 0`` play the "incoming batch",
#: the rest play the already-ingested corpus whose band keys the
#: persisted index holds.
CORPUS_INDEX_NEW_MOD = 3


def dedup_against_corpus_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the FULL-HISTORY ingest dedup (VERDICT r14
    next-round #4): an incoming batch of documents is checked against
    the band keys of everything the corpus has EVER accepted — not
    just a watermark window — and a document is accepted iff none of
    its LSH band keys appears in that history. One row per incoming
    document: ``(doc_id, n_band_hits, accepted)`` with n_band_hits =
    how many of its bands collide with history (0..LSH_BANDS).

    This is the oracle-gated contract for
    operators/corpus_index.dedup_against_index, which runs the same
    key-match against the PERSISTED index instead of recomputing
    history: there the history side is a pre-built (kb, band,
    band_sig) parquet layout probed with a broadcast batch +
    dynamic-partition-pruned scan, so per-batch cost is O(new-batch ×
    matching buckets), never a history recompute. Here both sides
    derive from the documents table (doc_id mod split) so DuckDB can
    replay it exactly.

    Plan/scale: each document's shingle-md5 + minhash work runs ONCE
    (the mod split partitions the corpus between the two branches);
    band keys are narrow rows; the match is an equi-join at
    (band, band_sig) grain contracted to ≤ LSH_BANDS rows per incoming
    doc before the count — no pair explosion, no all-pairs anywhere.
    In-batch near-dups (new vs new) are deliberately NOT counted —
    that is the streaming layer's windowed-state job; this operator
    answers "is it new vs HISTORY"."""
    docs = t(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % CORPUS_INDEX_NEW_MOD == 0
    hist_keys = (
        doc_band_keys(docs.where(~is_new))
        .select("band", "band_sig")
        .distinct()
    )
    new_keys = doc_band_keys(docs.where(is_new))
    hits = (
        new_keys.join(hist_keys, ["band", "band_sig"])
        .groupBy("doc_id")
        .agg(F.countDistinct("band").cast("long").alias("n_band_hits"))
    )
    new_docs = docs.where(is_new & F.col("doc_id").isNotNull()).select(
        "doc_id"
    )
    n_hits = F.coalesce(F.col("n_band_hits"), F.lit(0).cast("long"))
    return new_docs.join(hits, "doc_id", "left").select(
        "doc_id",
        n_hits.alias("n_band_hits"),
        (n_hits == 0).alias("accepted"),
    )


_BAND_CASE_SQL = " ".join(
    f"WHEN {b} THEN band{b}" for b in range(LSH_BANDS)
)

DEDUP_AGAINST_CORPUS_INDEX_SQL = f"""
WITH sh0 AS (SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
             WHERE doc_id IS NOT NULL),
sh AS (SELECT doc_id,
              list_transform(sh, s -> {portable_hash64_sql("s")} % {1 << 30})
                  AS hs
       FROM sh0 WHERE len(sh) > 0),
sig AS (SELECT doc_id, {_BAND_SIGS_SQL} FROM sh),
bands AS (
    SELECT doc_id, u.band,
           CASE u.band {_BAND_CASE_SQL} END AS band_sig
    FROM sig CROSS JOIN (SELECT unnest(range({LSH_BANDS})) AS band) u
),
hist AS (SELECT DISTINCT band, band_sig FROM bands
         WHERE doc_id % {CORPUS_INDEX_NEW_MOD} <> 0),
hits AS (
    SELECT n.doc_id, count(DISTINCT n.band)::BIGINT AS n_band_hits
    FROM bands n JOIN hist h
      ON n.band = h.band AND n.band_sig = h.band_sig
    WHERE n.doc_id % {CORPUS_INDEX_NEW_MOD} = 0
    GROUP BY n.doc_id
)
SELECT d.doc_id, coalesce(h.n_band_hits, 0)::BIGINT AS n_band_hits,
       coalesce(h.n_band_hits, 0) = 0 AS accepted
FROM (SELECT doc_id FROM documents
      WHERE doc_id IS NOT NULL AND doc_id % {CORPUS_INDEX_NEW_MOD} = 0) d
LEFT JOIN hits h ON h.doc_id = d.doc_id
"""


TEXTOPS_SPECS = [
    QuerySpec(
        "dedup_against_corpus_index",
        dedup_against_corpus_index,
        DEDUP_AGAINST_CORPUS_INDEX_SQL,
        ("dedup-against-corpus-history",),
        # r15 (VERDICT r14 next-round #4): the batch-twin contract of
        # the persisted band-key corpus index.
    ),
    QuerySpec(
        "dedup_repeated_ngram_spans",
        dedup_repeated_ngram_spans,
        DEDUP_REPEATED_SPANS_SQL,
        ("dedup-repeated-span-exactsubstr",),
    ),
    QuerySpec(
        "contrastive_pair_mining",
        contrastive_pair_mining,
        CONTRASTIVE_PAIR_MINING_SQL,
        ("contrastive-pair-mining",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec("doc_novelty_profile", doc_novelty_profile,
              DOC_NOVELTY_PROFILE_SQL, ("corpus-novelty-curve",),
              touched_round=11),  # r11 addition: first-occurrence shingles
    QuerySpec("text_quality", text_quality, TEXT_QUALITY_SQL, ("text-quality",)),
    QuerySpec("lang_id_heuristic", lang_id_heuristic, LANG_ID_SQL, ("lang-id",)),
    QuerySpec("token_stats_by_source", token_stats_by_source, TOKEN_STATS_SQL, ("token-count",)),
    QuerySpec("doc_fingerprint", doc_fingerprint, DOC_FINGERPRINT_SQL, ("fingerprint",)),
    QuerySpec("tfidf_top_terms", tfidf_top_terms, TFIDF_TOP_TERMS_SQL, ("tfidf",), touched_round=16),
    QuerySpec("doc_repetition_stats", doc_repetition_stats, DOC_REPETITION_SQL, ("repetition-quality",)),
    QuerySpec("boilerplate_shingle_ratio", boilerplate_shingle_ratio, BOILERPLATE_SQL, ("boilerplate-df",)),
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL, ("dedup-exact",)),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL, ("dedup-jaccard",)),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL, ("dedup-minhash-lsh",), touched_round=16),
    QuerySpec("dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL, ("dedup-simhash",), touched_round=16),
    QuerySpec(
        "dedup_simhash64", dedup_simhash64, DEDUP_SIMHASH64_SQL,
        ("dedup-simhash-banded",),
        touched_round=16,  # r16: AUDIT row changed; r14: bucket-size skew guard in
        # hamming_band_pairs (count + raise_error tripwire ahead of
        # the pair explosion) — values unchanged below the cap, plan
        # changed. (r13: core factored into hamming_band_pairs.)
    ),
    QuerySpec(
        "dedup_near_dup_survivors",
        dedup_near_dup_survivors,
        DEDUP_NEAR_DUP_SURVIVORS_SQL,
        ("dedup-survivors",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec("dedup_components", dedup_components, DEDUP_COMPONENTS_SQL, ("dedup-components",), touched_round=16),
    QuerySpec("dedup_survivors_cc", dedup_survivors_cc, DEDUP_SURVIVORS_CC_SQL, ("dedup-survivors-transitive",), touched_round=16),
    QuerySpec(
        "cross_source_neardup_matrix",
        cross_source_neardup_matrix,
        CROSS_SOURCE_NEARDUP_SQL,
        ("dedup-analytics",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "dedup_containment",
        dedup_containment,
        DEDUP_CONTAINMENT_SQL,
        ("dedup-containment",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "dedup_edit_distance_verify",
        dedup_edit_distance_verify,
        DEDUP_EDIT_DISTANCE_SQL,
        ("dedup-edit-distance",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "lsh_candidate_efficiency",
        lsh_candidate_efficiency,
        LSH_CANDIDATE_EFFICIENCY_SQL,
        ("lsh-precision-metric",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "minhash_estimate_error",
        minhash_estimate_error,
        MINHASH_ESTIMATE_ERROR_SQL,
        ("minhash-estimator-quality",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "neardup_threshold_sweep",
        neardup_threshold_sweep,
        NEARDUP_THRESHOLD_SWEEP_SQL,
        ("dedup-threshold-sweep",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "dedup_cluster_size_histogram",
        dedup_cluster_size_histogram,
        DEDUP_CLUSTER_SIZE_HISTOGRAM_SQL,
        ("dedup-cluster-histogram",),
    ),
    QuerySpec(
        "term_cooccurrence_pmi",
        term_cooccurrence_pmi,
        TERM_COOCCURRENCE_PMI_SQL,
        ("collocation-pmi",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "lang_id_confusion",
        lang_id_confusion,
        LANG_ID_CONFUSION_SQL,
        ("langid-confusion-monitoring",),
    ),
]
