"""Heuristic quality-filter battery over the ``documents`` table.

The rule set a pretraining corpus actually ships through before
tokenization (Gopher/C4-style): token-count bounds, mean-token-length
bounds, type-token-ratio floor, top-token repetition ceiling, and a
stopword-presence check. Every signal is a pure Column expression over
the token array — JVM-side, whole-stage codegen, zero Python — and the
rule verdicts are exact-integer-derived booleans/ratios, so the DuckDB
oracle replays them bit-identically (spec.py float policy: exact-integer
ratios emit raw).

Scale design: both queries are one scan + per-row maps. The battery has
NO shuffle at all; the funnel is one tree-reduced global aggregate over
seven boolean columns (map-side combine → a single 1-row result). The
token array is referenced by several HOFs, which re-evaluates the split
per reference — deliberately: re-running a regex split per row is
cheaper at 100 TB than materializing wide token arrays through an
exchange barrier (the alternative documented in
``pretrain.source_mix_rebalance``, where a barrier pays off only because
the array would otherwise be recomputed across SHUFFLE stages, not
within one projection).

Thresholds are tuned on the synthetic corpus so every rule fires on a
real subset (sf0.01: short 19, long 99, low-diversity 172, repetitive
39, no-stopword 47, token-length 21 → 252/500 kept) — the battery is
exercised, not vacuous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens
from ..functions.core import share
from .spec import QuerySpec, t
from .textops import STOPWORDS, _STOP_SQL, _TOKS_SQL

MIN_TOKENS = 15          # r_too_short
MAX_TOKENS = 80          # r_too_long
MIN_TTR = 0.40           # r_low_diversity: distinct/total floor
MAX_TOP_TOKEN_RATIO = 0.15   # r_repetitive: most-common-token ceiling
MIN_AVG_TOKEN_LEN = 4.1  # r_token_len band (word-salad corpus sits ~4.5)
MAX_AVG_TOKEN_LEN = 5.0


#: metric column names, in emission order (shared by the batch battery
#: and the streaming gate's cleanup drop)
METRIC_COLS = (
    "n_tokens", "n_distinct", "top_token_freq", "stop_hits",
    "sum_token_len",
)


def _metric_exprs(text_col: str = "text"):
    """The per-doc quality signals as named Column expressions."""
    toks = tokens(text_col)
    n = F.size(toks).cast("long")
    distinct_toks = F.array_distinct(toks)
    # Most-frequent-token count as a run-length fold over the SORTED
    # token array: O(n log n) per row vs the naive
    # count-each-distinct-token-against-the-array form (O(distinct·n),
    # measured 4.6x slower at sf0.1 and the suite's steepest scale
    # curve). The oracle keeps the naive form — same value, and the
    # O(d·n) cost is irrelevant at oracle scale.
    sorted_toks = F.array_sort(toks)
    _acc0 = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def _rl_merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_freq = F.aggregate(
        sorted_toks, _acc0, _rl_merge, lambda acc: acc["best"]
    ).cast("long")
    stop_hits = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast(
        "long"
    )
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda acc, x: acc + x
    ).cast("long")
    return {
        "n_tokens": n,
        "n_distinct": F.size(distinct_toks).cast("long"),
        "top_token_freq": top_freq,
        "stop_hits": stop_hits,
        "sum_token_len": sum_len,
    }


def _doc_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc quality signals as exact-integer-derived columns."""
    m = _metric_exprs()
    return docs.select(
        "doc_id", "source", *[expr.alias(name) for name, expr in m.items()]
    )


# The rules exist ONCE, as ANSI expression strings: Spark evaluates them
# via selectExpr, DuckDB via the oracle's SELECT — no drift possible.
_RULE_EXPRS = [
    f"(n_tokens < {MIN_TOKENS}) AS r_too_short",
    f"(n_tokens > {MAX_TOKENS}) AS r_too_long",
    f"(CAST(n_distinct AS DOUBLE) / n_tokens < {MIN_TTR})"
    " AS r_low_diversity",
    f"(CAST(top_token_freq AS DOUBLE) / n_tokens > {MAX_TOP_TOKEN_RATIO})"
    " AS r_repetitive",
    "(stop_hits = 0) AS r_no_stopword",
    f"(CAST(sum_token_len AS DOUBLE) / n_tokens < {MIN_AVG_TOKEN_LEN}"
    f" OR CAST(sum_token_len AS DOUBLE) / n_tokens > {MAX_AVG_TOKEN_LEN})"
    " AS r_token_len",
]

_KEEP_EXPR = (
    "NOT (r_too_short OR r_too_long OR r_low_diversity OR r_repetitive "
    "OR r_no_stopword OR r_token_len) AS keep"
)


def with_quality_verdict(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append the metric, rule, and ``keep`` columns to ANY frame with a
    text column — the streaming-safe form of the battery (stateless
    per-row maps, usable inside a Structured Streaming plan). Batch and
    stream evaluate the SAME ``_RULE_EXPRS`` strings, so the two
    surfaces cannot drift.
    """
    out = df
    for name, expr in _metric_exprs(text_col).items():
        out = out.withColumn(name, expr)
    return out.selectExpr("*", *_RULE_EXPRS).selectExpr("*", _KEEP_EXPR)


def quality_filter_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rule verdicts + the keep decision.

    Emits the raw signals alongside the booleans so downstream audits
    (and the value-hash gate) bind to the evidence, not just the
    verdicts.
    """
    m = _doc_metrics(t(spark, sf_dir, "documents"))
    return m.selectExpr("*", *_RULE_EXPRS).selectExpr("*", _KEEP_EXPR)


_METRICS_SQL = f"""
SELECT doc_id, source,
       len(toks)::BIGINT AS n_tokens,
       len(list_distinct(toks))::BIGINT AS n_distinct,
       list_max(list_transform(list_distinct(toks),
                d -> len(list_filter(toks, x -> x = d))))::BIGINT
           AS top_token_freq,
       len(list_filter(toks, x -> x IN {_STOP_SQL}))::BIGINT AS stop_hits,
       list_sum(list_transform(toks, x -> length(x)))::BIGINT
           AS sum_token_len
FROM (SELECT doc_id, source, {_TOKS_SQL} AS toks FROM documents)
"""

QUALITY_FILTER_BATTERY_SQL = f"""
SELECT m.*, {_KEEP_EXPR}
FROM (SELECT b.*, {", ".join(_RULE_EXPRS)} FROM ({_METRICS_SQL}) b) m
"""


def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level drop funnel: per-source doc counts, how many docs
    each rule flagged, the kept count, and the kept token mass — the
    monitoring rollup a filtering stage publishes every run.

    One narrow agg over booleans; output is |sources| rows.
    """
    battery = quality_filter_battery(spark, sf_dir)
    b = lambda c: F.sum(F.col(c).cast("long")).alias(f"n_{c}")  # noqa: E731
    return battery.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        b("r_too_short"),
        b("r_too_long"),
        b("r_low_diversity"),
        b("r_repetitive"),
        b("r_no_stopword"),
        b("r_token_len"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum(
            F.when(F.col("keep"), F.col("n_tokens")).otherwise(F.lit(0))
        ).alias("kept_tokens"),
    )


QUALITY_FILTER_FUNNEL_SQL = f"""
SELECT source, count(*)::BIGINT AS n_docs,
       sum(r_too_short::INT)::BIGINT AS n_r_too_short,
       sum(r_too_long::INT)::BIGINT AS n_r_too_long,
       sum(r_low_diversity::INT)::BIGINT AS n_r_low_diversity,
       sum(r_repetitive::INT)::BIGINT AS n_r_repetitive,
       sum(r_no_stopword::INT)::BIGINT AS n_r_no_stopword,
       sum(r_token_len::INT)::BIGINT AS n_r_token_len,
       sum(keep::INT)::BIGINT AS n_kept,
       sum(CASE WHEN keep THEN n_tokens ELSE 0 END)::BIGINT AS kept_tokens
FROM ({QUALITY_FILTER_BATTERY_SQL})
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Unigram-LM surprisal scoring (perplexity-filter family)
# ---------------------------------------------------------------------------

_LNP_GRID = 1_000_000   # micro-nat grid: exact long accumulation per doc


def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM
    (CCNet-style perplexity filtering: documents whose token
    distribution is far from the corpus read as noise/boilerplate).

    ce(d) = -(1/|d|) Σ ln p(w), p(w) = corpus count / total tokens.

    Plan: one explode pass feeds BOTH the vocabulary counts and the
    per-doc fold (doc_id barrier → ReuseExchange); the ln p table is
    vocabulary-sized and broadcasts back onto the token stream; the
    per-doc aggregation partial-sums map-side. Determinism: a per-doc
    SUM of doubles would be accumulation-order-dependent, so ln p is
    quantized ONCE per vocabulary term to micro-nat longs
    (``round(ln(p)*1e6)``) — identical in both engines — and each doc
    sums exact longs (associative, any partitioning). The emitted
    cross-entropy is a pure division chain on exact operands;
    perplexity exponentiates it (libm ulp → round 6 per policy).
    """
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    # cached (optimization r16, the doc_bigram_surprisal pattern): tok
    # feeds the vocabulary counts AND the per-doc fold, freq feeds the
    # total AND the ln-p table — the barrier's ReuseExchange never fired
    # (census: 3 executing documents scans), so each reference re-ran
    # the tokenization.
    tok = share(docs.select(
        "doc_id", F.explode(tokens("text")).alias("term")
    ), "checkpoint")
    freq = share(tok.groupBy("term").agg(F.count("*").alias("c")), "persist")
    total = freq.agg(F.sum("c").alias("n_total"))
    lp = freq.crossJoin(F.broadcast(total)).select(
        "term",
        F.round(
            F.log(F.col("c").cast("double") / F.col("n_total"))
            * F.lit(_LNP_GRID),
            0,
        )
        .cast("long")
        .alias("lnp_micro"),
    )
    per_doc = (
        tok.join(F.broadcast(lp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lnp_micro").alias("s_micro"),
        )
    )
    ce = (
        -(F.col("s_micro").cast("double") / F.lit(float(_LNP_GRID)))
        / F.col("n_tokens")
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


DOC_UNIGRAM_SURPRISAL_SQL = f"""
WITH tok AS (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term
    FROM documents WHERE doc_id IS NOT NULL
),
freq AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
tot AS (SELECT sum(c)::BIGINT AS n_total FROM freq),
lp AS (
    SELECT term,
           round(ln(c::DOUBLE / n_total) * {_LNP_GRID})::BIGINT AS lnp_micro
    FROM freq CROSS JOIN tot
),
per_doc AS (
    SELECT doc_id, count(*)::BIGINT AS n_tokens,
           sum(lnp_micro)::BIGINT AS s_micro
    FROM tok JOIN lp USING (term)
    GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       round(-(s_micro::DOUBLE / {float(_LNP_GRID)}) / n_tokens, 6)
           AS cross_entropy,
       round(exp(-(s_micro::DOUBLE / {float(_LNP_GRID)}) / n_tokens), 6)
           AS perplexity
FROM per_doc
"""


def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own BIGRAM LM —
    the context-aware step up from :func:`doc_unigram_surprisal` in the
    perplexity-filter family (CCNet scores with an n-gram LM precisely
    because unigram surprisal cannot see scrambled or repetitive word
    ORDER; a bigram corpus-LM is the distributable in-engine analog).

    ce(d) = -(1/(|d|-1)) Σ ln p(w_i | w_{i-1}),
    p(w2|w1) = c(w1,w2) / Σ_w c(w1,w) — the MLE over the corpus's own
    bigrams, so every scored bigram has nonzero probability (self-
    scoring needs no smoothing). Docs with fewer than two tokens have
    no bigrams and drop out (both engines: no rows -> no group).

    Plan: one bigram explode (``zip_with`` of the token array with its
    tail — no self-join of the token stream) feeds BOTH the bigram-LM
    contraction and the per-doc fold; left-context totals derive from
    the bigram contraction itself (never a second corpus pass). The ln
    p table joins back on the bigram key WITHOUT a broadcast hint: at
    test scale AQE broadcasts it, at 100 TB a web-corpus bigram
    vocabulary outgrows a broadcast and the planner falls back to a
    shuffle join on the (w1, w2) key — both corpus-contraction-sized
    sides. Determinism: the ``doc_unigram_surprisal`` micro-nat-grid
    discipline — ln p quantized ONCE per distinct bigram to exact
    longs, per-doc sums associative, emitted values a pure division
    chain (+ round-6 exp per the float policy).
    """
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    toks = tokens("text")
    n = F.size(toks)
    bg = (
        docs.select(
            "doc_id",
            F.explode(
                F.zip_with(
                    F.slice(toks, 1, n - 1),
                    F.slice(toks, 2, n - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .repartition("doc_id")
        # cached (optimization r16): bg feeds the LM contraction AND
        # the per-doc scoring join, but the consumers prune different
        # columns, so the repartition barrier's exchanges diverged and
        # the tokenize+zip_with explode ran twice (measured: 3
        # documents FileScans; cache substitution is pre-pruning). The
        # cache holds the same rows the barrier's shuffle already
        # wrote, MEMORY_AND_DISK.
        .transform(share, "persist")
    )
    # freq likewise feeds ctx AND the lp join with divergent pruning —
    # vocab²-grain contraction, cheap to cache
    freq = share(
        bg.groupBy("w1", "w2").agg(F.count("*").alias("c")), "persist"
    )
    ctx = freq.groupBy("w1").agg(F.sum("c").alias("c1"))
    lp = freq.join(ctx, "w1").select(
        "w1",
        "w2",
        F.round(
            F.log(F.col("c").cast("double") / F.col("c1"))
            * F.lit(_LNP_GRID),
            0,
        )
        .cast("long")
        .alias("lnp_micro"),
    )
    per_doc = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("lnp_micro").alias("s_micro"),
        )
    )
    ce = (
        -(F.col("s_micro").cast("double") / F.lit(float(_LNP_GRID)))
        / F.col("n_bigrams")
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        F.round(ce, 6).alias("cross_entropy"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


DOC_BIGRAM_SURPRISAL_SQL = f"""
WITH tk AS (
    SELECT doc_id, unnest({_TOKS_SQL}) AS term,
           generate_subscripts({_TOKS_SQL}, 1) AS i
    FROM documents WHERE doc_id IS NOT NULL
),
bg AS (
    SELECT a.doc_id, a.term AS w1, b.term AS w2
    FROM tk a JOIN tk b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
freq AS (
    SELECT w1, w2, count(*)::BIGINT AS c FROM bg GROUP BY w1, w2
),
ctx AS (SELECT w1, sum(c)::BIGINT AS c1 FROM freq GROUP BY w1),
lp AS (
    SELECT w1, w2,
           round(ln(c::DOUBLE / c1) * {_LNP_GRID})::BIGINT AS lnp_micro
    FROM freq JOIN ctx USING (w1)
),
per_doc AS (
    SELECT doc_id, count(*)::BIGINT AS n_bigrams,
           sum(lnp_micro)::BIGINT AS s_micro
    FROM bg JOIN lp USING (w1, w2)
    GROUP BY doc_id
)
SELECT doc_id, n_bigrams,
       round(-(s_micro::DOUBLE / {float(_LNP_GRID)}) / n_bigrams, 6)
           AS cross_entropy,
       round(exp(-(s_micro::DOUBLE / {float(_LNP_GRID)}) / n_bigrams), 6)
           AS perplexity
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Corpus shape diagnostics: DF spectrum + length histogram
# ---------------------------------------------------------------------------


def term_doc_frequency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency spectrum per source: terms bucketed by
    ``floor(log2(df))`` with term counts and total postings per bucket —
    the Zipf-shape diagnostic a tokenizer/vocab pipeline reports (a
    healthy crawl shows a long low-df tail; a template-heavy one shows
    mass piled in high-df buckets).

    Exactness: the log2 bucket is the BINARY DIGIT COUNT of the integer
    df (``length(conv(df, 10, 2))`` / DuckDB ``length(bin(df))``) — pure
    integer/string ops, no float log whose last-ulp could flip a
    power-of-two boundary between engines. Plan: distinct (doc, term)
    explode -> ONE (source, term) df agg -> tiny (source, bucket)
    rollup; share is an exact-int ratio off a broadcast per-source
    total. Everything contracts monotonically; no windows.
    """
    df_per_term = (
        t(spark, sf_dir, "documents")
        .select("source", F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("df"))
    )
    bucket = F.length(F.conv(F.col("df").cast("string"), 10, 2)).cast("long")
    curve = (
        df_per_term.select("source", bucket.alias("df_log2_bucket"), "df")
        .groupBy("source", "df_log2_bucket")
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("df").alias("total_postings"),
        )
    )
    totals = curve.groupBy("source").agg(
        F.sum("n_terms").alias("vocab_size")
    )
    return curve.join(F.broadcast(totals), "source").select(
        "source",
        "df_log2_bucket",
        "n_terms",
        "total_postings",
        (F.col("n_terms").cast("double") / F.col("vocab_size")).alias(
            "vocab_share"
        ),
    )


TERM_DOC_FREQUENCY_CURVE_SQL = f"""
WITH dt AS (
    SELECT source, unnest(list_distinct({_TOKS_SQL})) AS term
    FROM documents
),
dfreq AS (
    SELECT source, term, count(*)::BIGINT AS df FROM dt GROUP BY 1, 2
),
curve AS (
    SELECT source, length(bin(df))::BIGINT AS df_log2_bucket,
           count(*)::BIGINT AS n_terms, sum(df)::BIGINT AS total_postings
    FROM dfreq GROUP BY 1, 2
),
tot AS (SELECT source, sum(n_terms)::BIGINT AS vocab_size FROM curve GROUP BY 1)
SELECT c.source, c.df_log2_bucket, c.n_terms, c.total_postings,
       c.n_terms::DOUBLE / t.vocab_size AS vocab_share
FROM curve c JOIN tot t USING (source)
"""


def doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length histogram on log2 buckets (binary
    digit count of ``n_chars`` — same exact integer bucketing as the DF
    spectrum above), with per-bucket count, char mass, and bucket share
    within the source — the length-distribution card a curation run
    publishes before/after filtering. One groupBy contraction + a
    broadcast per-source total; shares are exact-int ratios.
    """
    docs = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    bucket = F.length(
        F.conv(F.col("n_chars").cast("string"), 10, 2)
    ).cast("long")
    hist = (
        docs.select("source", bucket.alias("len_log2_bucket"), "n_chars")
        .groupBy("source", "len_log2_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )
    totals = hist.groupBy("source").agg(F.sum("n_docs").alias("src_docs"))
    return hist.join(F.broadcast(totals), "source").select(
        "source",
        "len_log2_bucket",
        "n_docs",
        "total_chars",
        "min_chars",
        "max_chars",
        (F.col("n_docs").cast("double") / F.col("src_docs")).alias(
            "doc_share"
        ),
    )


DOC_LENGTH_LOG2_HISTOGRAM_SQL = """
WITH hist AS (
    SELECT source, length(bin(n_chars))::BIGINT AS len_log2_bucket,
           count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
           min(n_chars)::BIGINT AS min_chars, max(n_chars)::BIGINT AS max_chars
    FROM documents WHERE n_chars > 0 GROUP BY 1, 2
),
tot AS (SELECT source, sum(n_docs)::BIGINT AS src_docs FROM hist GROUP BY 1)
SELECT h.source, h.len_log2_bucket, h.n_docs, h.total_chars, h.min_chars,
       h.max_chars, h.n_docs::DOUBLE / t.src_docs AS doc_share
FROM hist h JOIN tot t USING (source)
"""


_PSI_GRID = 1_000_000   # micro quantization of per-bucket PSI terms
# PSI reading bands (industry convention), compared on EXACT micro
# longs so the label can never flip on a float boundary:
_PSI_STABLE_MICRO = 100_000   # < 0.10: stable
_PSI_MODERATE_MICRO = 250_000  # < 0.25: moderate shift; else major


def source_length_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution against the whole-corpus baseline — THE standard
    drift gauge (credit-scoring heritage, now the default data-drift
    monitor): PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over length buckets,
    with p = the source's bucket share and q = the corpus's. A source
    whose length profile drifts from the corpus it is mixed into skews
    sequence packing, token budgets, and quality-filter calibration —
    this is the early-warning a curation pipeline reads per ingest.
    Bands (exact micro-long thresholds, never a float compare):
    < 0.10 stable, < 0.25 moderate, else major.

    Determinism: buckets are the exact binary-digit-count idiom of
    :func:`doc_length_log2_histogram` (no float log at the boundary);
    p and q are exact long ratios; each bucket term quantizes its one
    libm ``ln`` to micro units (the surprisal discipline) and PSI is
    the exact long sum. Buckets the SOURCE is absent from are excluded
    and REPORTED (``n_buckets_excluded``) rather than epsilon-fudged —
    q > 0 holds for every included bucket because the corpus contains
    the source.

    Scale: one (source, bucket) contraction off the documents scan,
    a ~O(buckets) corpus rollup broadcast back, a source-grain agg.
    Nothing downstream of the first groupBy is data-sized.
    """
    docs = t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    bucket = F.length(
        F.conv(F.col("n_chars").cast("string"), 10, 2)
    ).cast("long")
    # cached (optimization r16): the (source, bucket) contraction is
    # referenced by the source totals, the corpus rollup AND the scored
    # join — as bare references each re-ran the documents scan (census:
    # 4 executing scans). O(sources x 64) rows.
    sb = (
        docs.select("source", bucket.alias("b"))
        .groupBy("source", "b")
        .agg(F.count("*").alias("c_sb"))
        .transform(share, "persist")
    )
    src_tot = sb.groupBy("source").agg(F.sum("c_sb").alias("n_s"))
    corpus = sb.groupBy("b").agg(F.sum("c_sb").alias("c_b"))
    grand = corpus.agg(
        F.sum("c_b").alias("n_total"),
        F.count("*").alias("n_corpus_buckets"),
    )
    p = F.col("c_sb").cast("double") / F.col("n_s").cast("double")
    q = F.col("c_b").cast("double") / F.col("n_total").cast("double")
    term_micro = F.round((p - q) * F.log(p / q) * _PSI_GRID, 0).cast("long")
    per_source = (
        sb.join(F.broadcast(src_tot), "source")
        .join(F.broadcast(corpus), "b")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "n_s",
            "n_corpus_buckets",
            term_micro.alias("t_micro"),
        )
        .groupBy("source")
        .agg(
            F.first("n_s").alias("n_docs"),
            F.count("*").alias("n_buckets_used"),
            (F.first("n_corpus_buckets") - F.count("*")).alias(
                "n_buckets_excluded"
            ),
            F.sum("t_micro").alias("psi_micro"),
        )
    )
    band = (
        F.when(F.col("psi_micro") < _PSI_STABLE_MICRO, F.lit("stable"))
        .when(F.col("psi_micro") < _PSI_MODERATE_MICRO, F.lit("moderate"))
        .otherwise(F.lit("major"))
    )
    return per_source.select(
        "source",
        "n_docs",
        F.col("n_buckets_used").cast("long").alias("n_buckets_used"),
        F.col("n_buckets_excluded").cast("long").alias("n_buckets_excluded"),
        "psi_micro",
        (F.col("psi_micro").cast("double") / F.lit(float(_PSI_GRID))).alias(
            "psi"
        ),
        band.alias("shift_band"),
    )


SOURCE_LENGTH_PSI_SQL = f"""
WITH sb AS (
    SELECT source, length(bin(n_chars))::BIGINT AS b,
           count(*)::BIGINT AS c_sb
    FROM documents WHERE n_chars > 0 GROUP BY 1, 2
),
st AS (SELECT source, sum(c_sb)::BIGINT AS n_s FROM sb GROUP BY 1),
cb AS (SELECT b, sum(c_sb)::BIGINT AS c_b FROM sb GROUP BY 1),
g AS (SELECT sum(c_b)::BIGINT AS n_total,
             count(*)::BIGINT AS n_corpus_buckets FROM cb),
terms AS (
    SELECT sb.source, st.n_s, g.n_corpus_buckets,
           round((sb.c_sb::DOUBLE / st.n_s::DOUBLE
                  - cb.c_b::DOUBLE / g.n_total::DOUBLE)
                 * ln((sb.c_sb::DOUBLE / st.n_s::DOUBLE)
                      / (cb.c_b::DOUBLE / g.n_total::DOUBLE))
                 * {_PSI_GRID})::BIGINT AS t_micro
    FROM sb JOIN st USING (source) JOIN cb USING (b) CROSS JOIN g
),
agg AS (
    SELECT source, first(n_s) AS n_docs,
           count(*)::BIGINT AS n_buckets_used,
           (first(n_corpus_buckets) - count(*))::BIGINT
               AS n_buckets_excluded,
           sum(t_micro)::BIGINT AS psi_micro
    FROM terms GROUP BY source
)
SELECT source, n_docs, n_buckets_used, n_buckets_excluded, psi_micro,
       psi_micro::DOUBLE / {float(_PSI_GRID)} AS psi,
       CASE WHEN psi_micro < {_PSI_STABLE_MICRO} THEN 'stable'
            WHEN psi_micro < {_PSI_MODERATE_MICRO} THEN 'moderate'
            ELSE 'major' END AS shift_band
FROM agg
"""


FILTERING_SPECS = [
    QuerySpec(
        "source_length_psi",
        source_length_psi,
        SOURCE_LENGTH_PSI_SQL,
        ("drift-psi-monitor",),
    ),
    QuerySpec(
        "quality_filter_battery",
        quality_filter_battery,
        QUALITY_FILTER_BATTERY_SQL,
        ("quality-filter-rules",),
    ),
    QuerySpec(
        "quality_filter_funnel",
        quality_filter_funnel,
        QUALITY_FILTER_FUNNEL_SQL,
        ("quality-filter-monitoring",),
    ),
    QuerySpec(
        "doc_unigram_surprisal",
        doc_unigram_surprisal,
        DOC_UNIGRAM_SURPRISAL_SQL,
        ("perplexity-filter-unigram",),
    ),
    QuerySpec(
        "doc_bigram_surprisal",
        doc_bigram_surprisal,
        DOC_BIGRAM_SURPRISAL_SQL,
        ("perplexity-filter-bigram",),
    ),
    QuerySpec(
        "term_doc_frequency_curve",
        term_doc_frequency_curve,
        TERM_DOC_FREQUENCY_CURVE_SQL,
        ("vocab-df-spectrum",),
    ),
    QuerySpec(
        "doc_length_log2_histogram",
        doc_length_log2_histogram,
        DOC_LENGTH_LOG2_HISTOGRAM_SQL,
        ("corpus-length-histogram",),
    ),
]
