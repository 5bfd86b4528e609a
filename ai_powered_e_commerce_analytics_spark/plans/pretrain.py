"""Pretraining-corpus preparation operators over ``documents``.

The four jobs every LLM training-data pipeline runs between "raw corpus"
and "token stream", each expressed as a declarative Spark plan with a
DuckDB oracle twin:

- **decontamination** — flag documents sharing word n-grams with a
  held-out benchmark/eval set (the standard n-gram-overlap test-set
  contamination check). The benchmark shingle set is eval-set-sized
  (MBs, not TBs) → broadcast; the corpus never reshuffles and the only
  exchange carries (doc_id, count) partials with map-side combine.
- **chunking** — split each document into fixed-size token windows with
  overlap (context-window packing prep). Pure per-row explode + slice:
  zero shuffle, zero state, scales linearly.
- **sequence packing** — assign documents to fixed-token-budget bins by
  contiguous fill in deterministic (source, doc_id) order — the
  streaming-pack semantic used in practice (a doc that crosses a bin
  boundary starts its own bin accounting from its start offset). One
  window per source.
- **source mix rebalancing** — compute per-source acceptance
  probabilities that equalize token contributions across sources
  (downsample-only, so probabilities stay in [0, 1]) and gate each row
  through the content-addressed hash gate from ``sampling.py`` —
  deterministic under retries, partitioning, and corpus growth.

Reference parity note: the reference pipeline (data_transformer.py,
enricher.go) prepares LLM *inputs* by batching and prompt assembly; this
module is the corpus-side generalization of that preparation stage for
training-data pipelines (SURVEY.md north-star families).

Float policy: every emitted double is an exact small-integer quotient
(raw, bit-identical cross-engine); counts/ids/hashes are longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import portable_hash64, tokens, word_shingles
from ..functions.core import pin
from ..functions.core import portable_hash64_sql
from .spec import QuerySpec, t
from .textops import SHINGLE_K, _SHINGLES_SQL, _TOKS_SQL

# Benchmark subset: every 50th doc_id stands in for the held-out eval
# set (deterministic, engine-independent membership).
BENCH_MOD = 50
CONTAM_THRESHOLD = 0.5    # >= half the doc's distinct shingles seen in eval

CHUNK_TOKENS = 40         # context-window chunk size
CHUNK_STRIDE = 30         # 10-token overlap between consecutive chunks

PACK_BUDGET = 512         # tokens per packed bin

# pack_sequences_greedy arrangement cache — bounded keyed pin cache
# (r8: same hardening as plans/quantiles.py; a second call no longer
# evicts an unconsumed sibling's persist)
from .pincache import PinnedPlanCache  # noqa: E402 - after constants block

_PACK_ARRANGED_CACHE = PinnedPlanCache(capacity=4)

MIX_GATE_BUCKETS = 10_000  # hash-gate resolution (basis points)


# ---------------------------------------------------------------------------
# Decontamination
# ---------------------------------------------------------------------------

def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram overlap against the benchmark shingle set.

    Emits one row per non-benchmark document: distinct-shingle count,
    how many of those appear anywhere in the benchmark subset, their
    ratio, and the contamination flag.

    Scale shape: the benchmark set is distinct-contracted FIRST (explode
    → distinct on an eval-set-sized input) and broadcast as a marker
    left-join onto the exploded corpus shingles, so totals and hits
    come out of ONE corpus pass and one grouped aggregation — the
    corpus side is never shuffled by the join; the single corpus
    exchange aggregates (doc_id, count, hit-count) partials with
    map-side combine. At 100 TB the broadcast is bounded by eval-set
    vocabulary, not corpus size.
    """
    docs = t(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0
    bench_set = (
        docs.where(is_bench)
        .select(
            F.explode(
                F.array_distinct(word_shingles("text", SHINGLE_K))
            ).alias("shingle")
        )
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus = docs.where(~is_bench).select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles("text", SHINGLE_K))
        ).alias("shingle"),
    )
    per_doc = (
        corpus.join(F.broadcast(bench_set), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("__hit").alias("n_bench_hits"),
        )
    )
    ratio = F.col("n_bench_hits").cast("double") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_bench_hits",
        ratio.alias("bench_overlap_ratio"),
        (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
    )


DECONTAMINATE_SQL = f"""
WITH sh AS (
    SELECT doc_id, doc_id % {BENCH_MOD} = 0 AS is_bench,
           unnest({_SHINGLES_SQL}) AS shingle
    FROM documents
),
bench_set AS (SELECT DISTINCT shingle FROM sh WHERE is_bench),
corpus AS (SELECT * FROM sh WHERE NOT is_bench),
totals AS (
    SELECT doc_id, count(*)::BIGINT AS n_shingles FROM corpus GROUP BY 1
),
hits AS (
    SELECT doc_id, count(*)::BIGINT AS n_bench_hits FROM corpus
    WHERE shingle IN (SELECT shingle FROM bench_set) GROUP BY 1
)
SELECT t.doc_id, t.n_shingles,
       coalesce(h.n_bench_hits, 0)::BIGINT AS n_bench_hits,
       coalesce(h.n_bench_hits, 0)::DOUBLE / t.n_shingles
           AS bench_overlap_ratio,
       coalesce(h.n_bench_hits, 0)::DOUBLE / t.n_shingles
           >= {CONTAM_THRESHOLD} AS contaminated
FROM totals t LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------

def doc_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window chunking with overlap.

    Each document explodes into windows of ``CHUNK_TOKENS`` tokens at
    stride ``CHUNK_STRIDE``; each chunk carries its index, token count
    (the tail chunk may be short), and a content fingerprint (the hook
    for chunk-level dedup downstream).

    Plan: the token array is computed once per document (projection
    below the Generate — generator output rows share the carried
    column, they don't re-evaluate it), then ``sequence`` explodes the
    chunk starts and ``slice`` is a plain codegen'd expression per
    chunk row. Zero shuffle, zero state — the one shape guaranteed to
    scale to any corpus size.
    """
    docs = t(spark, sf_dir, "documents")
    toked = docs.select(
        "doc_id", "source", tokens("text").alias("toks")
    ).withColumn("n_tokens", F.size("toks").cast("long"))
    chunks = toked.select(
        "doc_id",
        "source",
        "toks",
        "n_tokens",
        F.explode(
            F.sequence(F.lit(1), F.col("n_tokens"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
    return chunks.select(
        "doc_id",
        "source",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        portable_hash64(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


# DuckDB list_slice(l, a, b) is inclusive-bounds; clamp the end to len.
_CHUNK_SQL_EXPR = (
    f"list_slice({_TOKS_SQL}, start, least(start + {CHUNK_TOKENS - 1}, "
    f"len({_TOKS_SQL})))"
)

DOC_CHUNK_SQL = f"""
SELECT doc_id, source,
       ((start - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_idx,
       len({_CHUNK_SQL_EXPR})::BIGINT AS n_chunk_tokens,
       {portable_hash64_sql(f"array_to_string({_CHUNK_SQL_EXPR}, ' ')")}
           AS chunk_hash
FROM (
    SELECT doc_id, source, text,
           unnest(range(1, len({_TOKS_SQL}) + 1, {CHUNK_STRIDE})) AS start
    FROM documents
)
"""


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing: within each source, documents
    are laid end-to-end in doc_id order and a document's bin is the bin
    containing its START offset (``floor(start_offset / PACK_BUDGET)``)
    — the deterministic streaming-pack semantic (no bin ever waits for
    a better-fitting doc; a doc may spill past its bin's budget rather
    than be split).

    Packing is order-sequential, but the running sum DECOMPOSES:
    ``global_prefix(row) = base(source, partition) + local_prefix(row)``
    once partition boundaries respect the (source, doc_id) order. Plan
    (two-pass, NO per-source window — a low-cardinality window key
    would funnel ~corpus/|sources| rows through one task at 100 TB):

    1. ``repartitionByRange(source, doc_id)`` + ``sortWithinPartitions``
       arranges rows so every partition holds a contiguous slice of
       each source's doc_id order (ONE exchange, range-balanced — no
       single task absorbs a source). The frame is persisted so the two
       passes below see the same physical partitioning.
    2. **Subtotals**: one tiny agg of per-(partition, source) token
       sums — O(partitions × sources) rows — collected and folded
       driver-side into each partition's per-source cumulative BASE,
       then broadcast.
    3. **Local offsets** (zero further shuffle): ``mapInPandas`` walks
       each partition in its sorted order, carrying per-source running
       totals across Arrow batches; a row's offset is the broadcast
       base plus the local running total.

    Determinism: the ordering key (source, doc_id) is unique and
    engine-independent; the range partitioner's sampling is seeded per
    partition, so re-executions reproduce identical boundaries and the
    cached pid column stays consistent across both passes.
    """
    import pandas as pd

    docs = t(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("long").alias("n_tokens")
    )
    arranged = (
        counted.repartitionByRange("source", "doc_id")
        .sortWithinPartitions("source", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    # Bounded pin (oldest evicted beyond capacity — repeat invocations
    # can't accumulate unboundedly, and an unconsumed sibling keeps its
    # persist; an evicted frame only costs recompute, never correctness).
    _PACK_ARRANGED_CACHE.pin(arranged)
    subtotals = arranged.groupBy("pid", "source").agg(
        F.sum("n_tokens").alias("subtotal")
    ).collect()
    base: dict[tuple[int, object], int] = {}
    running: dict[object, int] = {}
    for row in sorted(
        subtotals, key=lambda r: (r["source"] is None, r["source"] or "", r["pid"])
    ):
        base[(row["pid"], row["source"])] = running.get(row["source"], 0)
        running[row["source"]] = (
            running.get(row["source"], 0) + row["subtotal"]
        )
    bc = spark.sparkContext.broadcast(base)

    def _offsets(batches):
        carry: dict[object, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf["pid"].iloc[0])

            def _base_for(src):
                key = None if pd.isna(src) else src
                return bc.value.get((pid, key), 0) + carry.get(key, 0)

            local_before = (
                pdf.groupby("source", sort=False, dropna=False)["n_tokens"]
                .cumsum()
                - pdf["n_tokens"]
            )
            start = pdf["source"].map(_base_for) + local_before
            for src, tot in (
                pdf.groupby("source", sort=False, dropna=False)["n_tokens"]
                .sum()
                .items()
            ):
                key = None if pd.isna(src) else src
                carry[key] = carry.get(key, 0) + int(tot)
            yield pdf.assign(
                start_offset=start, bin_id=start // PACK_BUDGET
            )[["doc_id", "source", "n_tokens", "start_offset", "bin_id"]]

    return arranged.mapInPandas(
        _offsets,
        schema=(
            "doc_id long, source string, n_tokens long, "
            "start_offset long, bin_id long"
        ),
    )


PACK_SEQUENCES_SQL = f"""
SELECT doc_id, source, n_tokens,
       (sum(n_tokens) OVER w - n_tokens)::BIGINT AS start_offset,
       ((sum(n_tokens) OVER w - n_tokens) // {PACK_BUDGET})::BIGINT AS bin_id
FROM (
    SELECT doc_id, source, len({_TOKS_SQL})::BIGINT AS n_tokens
    FROM documents
)
WINDOW w AS (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# Source mix rebalancing
# ---------------------------------------------------------------------------

def source_mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-token source mixing by deterministic downsampling.

    Per source, the acceptance probability is
    ``min_source_tokens / source_tokens`` (the smallest source keeps
    everything; larger sources are thinned toward equal token mass).
    Each document then passes through the content-addressed hash gate:
    ``kept = gate < floor(prob * MIX_GATE_BUCKETS)``, so membership is
    reproducible under retries/partitioning and stable as the corpus
    grows (same guarantees as ``sampling.py``, which shares the gate).

    Plan: per-source token totals (one narrow agg), global min via a
    single-row broadcast (no window over the corpus), then the
    source-probability table — itself source-cardinality-sized —
    broadcasts back onto the corpus. The ``doc_id`` repartition below
    is an exchange barrier: ``counted`` feeds BOTH the per-source
    aggregation and the final join probe, and without it each consumer
    replans scan+tokenize (two reads of the wide ``text`` column);
    with it, ReuseExchange serves both from one tokenization and the
    exchange carries only narrow (doc_id, source, n_tokens) rows —
    uniformly partitioned, immune to source skew.
    """
    docs = t(spark, sf_dir, "documents")
    # The explicit isnotnull(source) mirrors what the inner join below
    # would infer on its probe side only; applying it BEFORE the barrier
    # keeps both consumer subtrees canonically identical so the runtime
    # reuses one shuffle stage instead of scanning+tokenizing twice.
    counted = (
        docs.where(F.col("source").isNotNull())
        .select(
            "doc_id",
            "source",
            F.size(tokens("text")).cast("long").alias("n_tokens"),
        )
        .repartition("doc_id")
    )
    # count(doc_id) is not decorative: referencing doc_id keeps this
    # branch's column set identical to the join probe's, so column
    # pruning cannot specialize the subtree under the barrier and
    # ReuseExchange fires (a pruned Project below the repartition would
    # make the two exchanges structurally different).
    per_source = counted.groupBy("source").agg(
        F.sum("n_tokens").alias("src_tokens"),
        F.count("doc_id").alias("n_src_docs"),
    )
    # Global min as a window over the ALREADY-AGGREGATED per-source
    # frame (source-cardinality rows, single partition) — a separate
    # ``per_source.agg(min)`` branch would re-expand the whole
    # scan+tokenize subtree a third time.
    min_tokens = F.min("src_tokens").over(
        Window.partitionBy(F.lit(1))
    )
    probs = per_source.select(
        "source",
        "src_tokens",
        "n_src_docs",
        F.floor(
            F.lit(MIX_GATE_BUCKETS)
            * min_tokens.cast("double")
            / F.col("src_tokens")
        ).cast("long").alias("accept_gate"),
    )
    gate = F.pmod(
        portable_hash64(F.col("doc_id").cast("string"), seed=13),
        F.lit(MIX_GATE_BUCKETS),
    )
    return (
        counted.join(F.broadcast(probs), "source")
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "src_tokens",
            "n_src_docs",
            "accept_gate",
            gate.alias("gate"),
            (gate < F.col("accept_gate")).alias("kept"),
        )
    )


_MIX_GATE_SQL = (
    f"({portable_hash64_sql('doc_id::VARCHAR', seed=13)} % {MIX_GATE_BUCKETS})"
)

SOURCE_MIX_SQL = f"""
WITH counted AS (
    SELECT doc_id, source, len({_TOKS_SQL})::BIGINT AS n_tokens
    FROM documents WHERE source IS NOT NULL
),
per_source AS (
    SELECT source, sum(n_tokens)::BIGINT AS src_tokens,
           count(doc_id)::BIGINT AS n_src_docs
    FROM counted GROUP BY 1
),
probs AS (
    SELECT source, src_tokens, n_src_docs,
           floor({MIX_GATE_BUCKETS} * (SELECT min(src_tokens) FROM per_source)::DOUBLE
                 / src_tokens)::BIGINT AS accept_gate
    FROM per_source
)
SELECT c.doc_id, c.source, c.n_tokens, p.src_tokens, p.n_src_docs, p.accept_gate,
       {_MIX_GATE_SQL} AS gate,
       {_MIX_GATE_SQL} < p.accept_gate AS kept
FROM counted c JOIN probs p USING (source)
"""


def chunk_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup at CHUNK granularity: duplicate token windows across
    documents (boilerplate headers, repeated passages) found by grouping
    the chunk content hash — the packing-unit-level dedup pass that runs
    AFTER doc-level dedup in a real curation pipeline (doc-unique
    corpora still repeat passages).

    Plan: the chunker's zero-shuffle explode feeds one groupBy on the
    64-bit content hash — narrow (hash, doc_id) rows only; emits the
    duplicated chunks with representative and occurrence stats.
    """
    chunks = doc_chunk_tokens(spark, sf_dir)
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("representative_doc_id"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_occurrences") > 1)
    )


CHUNK_DEDUP_EXACT_SQL = f"""
WITH chunks AS ({DOC_CHUNK_SQL})
SELECT chunk_hash, count(*)::BIGINT AS n_occurrences,
       min(doc_id) AS representative_doc_id,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM chunks GROUP BY chunk_hash HAVING count(*) > 1
"""


SNIPPET_TOKENS = 2


def _aho_corasick_build(patterns: list[str]):
    """Classic Aho-Corasick automaton (goto/fail/output tables) over the
    snippet set. Pure-Python dict tables: built once per task over an
    eval-suite-sized pattern list, so build cost is trivial next to the
    text scanned."""
    from collections import deque

    goto: list[dict] = [{}]
    fail: list[int] = [0]
    out: list[list[int]] = [[]]
    for idx, p in enumerate(patterns):
        s = 0
        for ch in p:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(idx)
    dq = deque(goto[0].values())
    while dq:
        r = dq.popleft()
        for ch, s in goto[r].items():
            dq.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            cand = goto[f].get(ch, 0)
            fail[s] = cand if cand != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def decontaminate_exact_substring(
    spark: SparkSession, sf_dir: str, *, via_automaton: bool = False
) -> DataFrame:
    """Second decontamination axis: EXACT-substring hits of benchmark
    snippets inside corpus documents (the n-gram overlap check above is
    fuzzy/aggregate; eval-suite leakage screens also grep for verbatim
    prompt prefixes). Emits each contaminated doc with its hit count and
    one sample snippet.

    The benchmark side contributes one ``SNIPPET_TOKENS``-token prefix
    per eval doc — an eval-suite-sized set (KBs), broadcast. Two
    physical strategies, identical output (equality is tested):

    - Default: a broadcast nested-loop ``contains`` join — O(corpus ×
      |snippets|) per-row substring checks, bounded by the eval-set
      size, never a corpus shuffle. JVM-side, right up to the point
      where the snippet count makes |snippets| passes per doc dominate.
    - ``via_automaton=True`` (the 100 TB swap for LARGE snippet sets):
      ONE Aho-Corasick automaton per task scans each document ONCE for
      every snippet simultaneously — O(corpus_chars + hits), not
      O(corpus × |snippets|). The snippet list rides the closure
      (broadcast-shaped); the pass is a pure ``mapInPandas`` map — no
      join, no shuffle; the per-doc hit SET dedups multiple occurrences
      to match the join's distinct-snippet semantics.
    """
    docs = t(spark, sf_dir, "documents")
    is_bench = F.pmod(F.col("doc_id"), F.lit(BENCH_MOD)) == 0
    toks = tokens("text")
    snippets = (
        docs.where(is_bench)
        .select(
            F.array_join(F.slice(toks, 1, SNIPPET_TOKENS), " ").alias(
                "snippet"
            ),
            F.size(toks).alias("nt"),
        )
        .where(F.col("nt") >= SNIPPET_TOKENS)
        .select("snippet")
        .distinct()
    )
    corpus = docs.where(~is_bench).select("doc_id", "text")
    if via_automaton:
        # eval-suite-sized collect (same bound as the broadcast join's
        # build side); sorted so pattern index order is deterministic.
        patterns = sorted(r["snippet"] for r in snippets.collect())

        def _scan(batches):
            tables = _aho_corasick_build(patterns)  # once per task
            goto, fail, out = tables
            root_goto = goto[0]
            for pdf in batches:
                rows = {"doc_id": [], "n_snippets_hit": [],
                        "sample_snippet": []}
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    s = 0
                    hits: set[int] = set()
                    for ch in text or "":
                        while s and ch not in goto[s]:
                            s = fail[s]
                        s = goto[s].get(ch, 0) if s else root_goto.get(ch, 0)
                        if out[s]:
                            hits.update(out[s])
                    if hits:
                        rows["doc_id"].append(doc_id)
                        rows["n_snippets_hit"].append(len(hits))
                        rows["sample_snippet"].append(
                            patterns[min(hits)]  # patterns sorted => min
                        )
                import pandas as pd

                yield pd.DataFrame(rows)

        return corpus.mapInPandas(
            _scan,
            schema="doc_id long, n_snippets_hit long, sample_snippet string",
        )
    return (
        corpus.join(
            F.broadcast(snippets), F.col("text").contains(F.col("snippet"))
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_snippets_hit"),
            F.min("snippet").alias("sample_snippet"),
        )
    )


DECONTAMINATE_SUBSTRING_SQL = f"""
WITH b AS (
    SELECT DISTINCT array_to_string(list_slice(toks, 1, {SNIPPET_TOKENS}), ' ')
               AS snippet
    FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
          WHERE doc_id % {BENCH_MOD} = 0)
    WHERE len(toks) >= {SNIPPET_TOKENS}
),
c AS (SELECT doc_id, text FROM documents WHERE doc_id % {BENCH_MOD} <> 0)
SELECT c.doc_id, count(*)::BIGINT AS n_snippets_hit,
       min(b.snippet) AS sample_snippet
FROM c JOIN b ON contains(c.text, b.snippet)
GROUP BY c.doc_id
"""


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (multilingual-LM style, q_s ∝ p_s^α)
# ---------------------------------------------------------------------------

MIX_TEMPERATURE_ALPHA = 0.7   # the standard multilingual upsampling exponent


def source_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per source: p_s = token share,
    q_s = p_s^α / Σ p_s^α (α = 0.7) — the upsampling rule multilingual /
    multi-source pretraining uses to lift low-resource sources without
    letting the head dominate. Emits p, q, and the sampling weight
    q_s / p_s each source's gate would be scaled by.

    Plan: one corpus agg to source grain, then everything is
    |sources|-sized. Determinism: token counts are exact longs; ``pow``
    may differ between engines in the final ulp, so every pow-derived
    emission is round(…, 6) per the float policy, and the Σ p^α
    denominator is a left fold over the weights sorted by source (both
    engines fold the same values in the same order) rather than an
    unordered SUM whose accumulation order is engine-dependent.
    """
    docs = t(spark, sf_dir, "documents")
    # cached (optimization r16): the |sources|-row contraction feeds the
    # total, the α-weighted denominator fold and the final emission — as
    # bare references each re-ran the corpus tokenization (census: 4
    # executing documents scans).
    per_source = (
        docs.where(F.col("source").isNotNull())
        .select("source", F.size(tokens("text")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("src_tokens"),
        )
        .transform(pin)
    )
    totals = per_source.agg(F.sum("src_tokens").alias("total_tokens"))
    with_p = per_source.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "src_tokens",
        (F.col("src_tokens").cast("double") / F.col("total_tokens")).alias(
            "p_raw"
        ),
    )
    weighted = with_p.withColumn(
        "w", F.pow("p_raw", F.lit(MIX_TEMPERATURE_ALPHA))
    )
    denom = weighted.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "w"))),
            F.lit(0.0),
            lambda acc, s: acc + s["w"],
        ).alias("w_sum")
    )
    return weighted.crossJoin(F.broadcast(denom)).select(
        "source",
        "n_docs",
        "src_tokens",
        F.round("p_raw", 6).alias("p"),
        F.round(F.col("w") / F.col("w_sum"), 6).alias("q"),
        F.round(F.col("w") / F.col("w_sum") / F.col("p_raw"), 6).alias(
            "sample_weight"
        ),
    )


SOURCE_TEMPERATURE_MIX_SQL = f"""
WITH per_source AS (
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len({_TOKS_SQL}))::BIGINT AS src_tokens
    FROM documents WHERE source IS NOT NULL GROUP BY source
),
tot AS (SELECT sum(src_tokens) AS total_tokens FROM per_source),
weighted AS (
    SELECT source, n_docs, src_tokens,
           src_tokens::DOUBLE / total_tokens AS p_raw,
           pow(src_tokens::DOUBLE / total_tokens,
               {MIX_TEMPERATURE_ALPHA}) AS w
    FROM per_source CROSS JOIN tot
),
denom AS (
    SELECT list_reduce(list(w ORDER BY source), (a, b) -> a + b) AS w_sum
    FROM weighted
)
SELECT source, n_docs, src_tokens,
       round(p_raw, 6) AS p,
       round(w / w_sum, 6) AS q,
       round(w / w_sum / p_raw, 6) AS sample_weight
FROM weighted CROSS JOIN denom
"""


# ---------------------------------------------------------------------------
# Per-source distribution drift (KL divergence from the corpus LM)
# ---------------------------------------------------------------------------

_KL_GRID = 1_000_000   # micro-nat grid: exact per-source accumulation


def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram token distributions — the drift
    diagnostic that tells a data-mixing team which source's language is
    furthest from the blend (pairs with ``source_temperature_mix``:
    one decides weights, this audits what the weights are blending).

    KL_s = Σ_t p_s(t) · ln(p_s(t) / p(t)), summed over the source's
    terms only (p_s(t) = 0 terms contribute 0; p(t) > 0 wherever
    p_s(t) > 0 since the corpus contains the source).

    Plan: ONE (source, term) count agg feeds everything
    (localCheckpoint — vocabulary × sources rows, tiny); the term and
    source marginals join back as broadcasts. Determinism: each term's
    contribution quantizes ONCE to micro-nat longs on identical
    operands, and the per-source fold is an exact long sum —
    associative, partitioning-independent (same discipline as
    doc_unigram_surprisal).
    """
    tok = (
        t(spark, sf_dir, "documents")
        .where(F.col("source").isNotNull())
        .select("source", F.explode(tokens("text")).alias("term"))
    )
    st = (
        tok.groupBy("source", "term")
        .agg(F.count("*").alias("c_st"))
        .transform(pin)  # 3 downstream consumers
    )
    per_source = st.groupBy("source").agg(F.sum("c_st").alias("c_s"))
    per_term = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    total = per_source.agg(F.sum("c_s").alias("n_total"))
    contrib = (
        st.join(F.broadcast(per_source), "source")
        .join(F.broadcast(per_term), "term")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            F.round(
                (F.col("c_st").cast("double") / F.col("c_s"))
                * F.log(
                    (F.col("c_st") * F.col("n_total")).cast("double")
                    / (F.col("c_s") * F.col("c_t")).cast("double")
                )
                * F.lit(float(_KL_GRID)),
                0,
            )
            .cast("long")
            .alias("kl_micro"),
        )
    )
    return contrib.groupBy("source").agg(
        F.count("*").alias("n_terms"),
        (
            F.sum("kl_micro").cast("double") / F.lit(float(_KL_GRID))
        ).alias("kl_divergence"),
    )


SOURCE_KL_DIVERGENCE_SQL = f"""
WITH tok AS (
    SELECT source, unnest({_TOKS_SQL}) AS term
    FROM documents WHERE source IS NOT NULL
),
st AS (SELECT source, term, count(*)::BIGINT AS c_st
       FROM tok GROUP BY source, term),
per_source AS (SELECT source, sum(c_st)::BIGINT AS c_s
               FROM st GROUP BY source),
per_term AS (SELECT term, sum(c_st)::BIGINT AS c_t FROM st GROUP BY term),
tot AS (SELECT sum(c_s)::BIGINT AS n_total FROM per_source),
contrib AS (
    SELECT st.source,
           round((st.c_st::DOUBLE / ps.c_s)
                 * ln((st.c_st * t.n_total)::DOUBLE
                      / (ps.c_s * pt.c_t)::DOUBLE)
                 * {float(_KL_GRID)})::BIGINT AS kl_micro
    FROM st
    JOIN per_source ps USING (source)
    JOIN per_term pt USING (term)
    CROSS JOIN tot t
)
SELECT source, count(*)::BIGINT AS n_terms,
       sum(kl_micro)::DOUBLE / {float(_KL_GRID)} AS kl_divergence
FROM contrib GROUP BY source
"""


# ---------------------------------------------------------------------------
# Tokenizer-vocabulary coverage (OOV-rate audit before training)
# ---------------------------------------------------------------------------

VOCAB_N = 30   # fixed vocabulary = top-N corpus terms


def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary audit against a fixed top-``VOCAB_N``
    corpus vocabulary — the coverage check run before committing to a
    tokenizer/vocab (a high OOV source inflates UNK rates downstream).

    Vocabulary selection is deterministic: top N terms by
    (count DESC, term ASC) — a total order, so both engines pick the
    identical set. Plan: ONE token explode feeds both the frequency agg
    and the per-source fold (doc-grain barrier → ReuseExchange, the
    ``tfidf_top_terms`` shape); the vocab is O(N) rows and broadcasts
    onto the token stream; the source rollup partial-aggregates
    map-side to |sources| rows. The top-N contraction is
    ``orderBy(...).limit(N)``, which Spark compiles to
    ``TakeOrderedAndProject`` — each frequency partition keeps a local
    N-row heap and the driver merges |partitions|×N survivors — NOT a
    global row_number window, whose single-partition sort over the
    whole vocabulary (billions of distinct terms in a 100 TB web crawl:
    typos, URLs, numerals) would bottleneck one executor.
    """
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    tok = docs.select(
        "source", F.explode(tokens("text")).alias("term")
    ).repartition("source")
    freq = tok.groupBy("term").agg(F.count("*").alias("c"))
    vocab = (
        freq.orderBy(F.desc("c"), "term")
        .limit(VOCAB_N)
        .select("term", F.lit(True).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "term", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("total_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("oov_tokens"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("term"))
            ).alias("oov_distinct_terms"),
        )
        .select(
            "source",
            "total_tokens",
            "oov_tokens",
            "oov_distinct_terms",
            (
                F.col("oov_tokens").cast("double") / F.col("total_tokens")
            ).alias("oov_rate"),
        )
    )


TOKENIZER_VOCAB_COVERAGE_SQL = f"""
WITH tok AS (
    SELECT source, unnest({_TOKS_SQL}) AS term
    FROM documents WHERE doc_id IS NOT NULL
),
freq AS (SELECT term, count(*)::BIGINT AS c FROM tok GROUP BY term),
vocab AS (
    SELECT term FROM (
        SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rk
        FROM freq
    ) WHERE rk <= {VOCAB_N}
)
SELECT source,
       count(*)::BIGINT AS total_tokens,
       sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT AS oov_tokens,
       count(DISTINCT CASE WHEN v.term IS NULL THEN tok.term END)::BIGINT
           AS oov_distinct_terms,
       sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*)
           AS oov_rate
FROM tok LEFT JOIN vocab v ON tok.term = v.term
GROUP BY source
"""


# ---------------------------------------------------------------------------
# Semantic decontamination (embedding space)
# ---------------------------------------------------------------------------


def decontaminate_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: flag corpus vectors whose embedding is
    cosine-close to ANY held-out eval vector — the third
    decontamination axis next to n-gram overlap and exact substring
    (paraphrased eval leakage that no lexical check catches; the
    standard guard before pretraining on a scraped corpus).

    Eval set = vec_id < KNN_QUERIES (the same held-out convention as
    the KNN queries). Plan: the eval side is tiny and BROADCAST; each
    corpus vector computes its max cosine in one map-side pass over the
    K eval vectors (a broadcast nested-loop the corpus never shuffles
    for), then one (vec_id)-grain agg. Cosine rounds to 1e-6 per the
    float policy before the max AND the threshold compare, so the flag
    is bit-stable cross-engine.
    """
    from .simsearch import COSINE_DUP_THRESHOLD, KNN_QUERIES, _dot, _emb

    base = _emb(spark, sf_dir)
    ev = base.where(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("eval_id"),
        F.col("emb").alias("e_emb"),
        F.col("norm").alias("e_norm"),
    )
    corpus = base.where(F.col("vec_id") >= KNN_QUERIES)
    cos = F.round(
        _dot(F.col("emb"), F.col("e_emb"))
        / (F.col("norm") * F.col("e_norm")),
        6,
    )
    return (
        corpus.crossJoin(F.broadcast(ev))
        .select("vec_id", cos.alias("cos"))
        .groupBy("vec_id")
        .agg(F.max("cos").alias("max_eval_cosine"))
        .select(
            "vec_id",
            "max_eval_cosine",
            (F.col("max_eval_cosine") >= F.lit(COSINE_DUP_THRESHOLD)).alias(
                "contaminated"
            ),
        )
    )


def _decon_embedding_sql() -> str:
    from .simsearch import _EMB_SQL, COSINE_DUP_THRESHOLD, KNN_QUERIES

    return f"""
WITH e AS ({_EMB_SQL}),
p AS (
    SELECT c.vec_id,
           round(list_dot_product(c.emb, q.emb) / (c.norm * q.norm), 6)
               AS cos
    FROM e c CROSS JOIN e q
    WHERE c.vec_id >= {KNN_QUERIES} AND q.vec_id < {KNN_QUERIES}
)
SELECT vec_id, max(cos) AS max_eval_cosine,
       max(cos) >= {COSINE_DUP_THRESHOLD} AS contaminated
FROM p GROUP BY vec_id
"""


# ---------------------------------------------------------------------------
# Deterministic BPE-merge tokenizer trainer
# ---------------------------------------------------------------------------

BPE_MERGES = 6            # merge rounds reported by bpe_merges_topn
BPE_MAX_WORD_LEN = 24     # trainer ignores longer "words" (junk for BPE)


def _bpe_word_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's working state: one row per DISTINCT word with
    its corpus frequency and its current symbol sequence (initially
    characters). The ONLY corpus-sized operation in the whole trainer
    is this word-frequency contraction — every merge round thereafter
    runs over the vocabulary-sized state."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        # lowercase-alpha word population: BPE pre-normalization is
        # orthogonal to the merge algorithm, and the restriction
        # guarantees symbols never contain the oracle's '|' serializer
        .where(
            F.col("w").rlike("^[a-z]+$")
            & (F.length("w") <= BPE_MAX_WORD_LEN)
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
            "freq",
        )
    )


def _bpe_apply_merge(l: str, r: str) -> "F.Column":  # noqa: F821
    """Greedy left-to-right application of merge ``(l, r)`` to the
    ``syms`` array as a pure JVM ``aggregate`` fold: append each symbol
    unless the accumulator's LAST element is ``l`` and the incoming one
    is ``r``, in which case replace the tail with the merged token.

    This fold IS the classic greedy non-overlapping replacement: after
    a merge the tail becomes ``l||r``, which can never re-match ``l``
    (``r`` is non-empty), so an overlapping candidate — possible only
    when ``l == r`` inside a run like ``aaa`` — is skipped exactly as
    the scan-based implementation skips it (``aaa`` -> ``[aa, a]``).
    Property-tested against a reference scan in tests/test_bpe.py.
    """
    merged = l + r
    return F.aggregate(
        "syms",
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(l))
            & (s == F.lit(r)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_pair_argmax(cur: DataFrame) -> DataFrame:
    """ONE merge round's selection: adjacent-pair explode over the
    vocabulary-sized state (map-side combine contracts each task to its
    distinct pairs before the shuffle) and the argmax via
    ``orderBy(...).limit(1)`` — ``TakeOrderedAndProject``, per-partition
    1-row heaps, never a global sort. Shared by the training loop and
    the plan-audit probe (plans/probes.py) so the audited shape IS the
    executed shape."""
    return (
        cur.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.size("syms") - 1),
                    F.slice("syms", 2, F.size("syms") - 1),
                    lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        .agg(F.sum("freq").alias("cnt"))
        .orderBy(F.desc("cnt"), "l", "r")
        .limit(1)
    )


def bpe_merges_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BPE-merge tokenizer trainer: ``BPE_MERGES`` greedy
    frequent-pair merges over the documents corpus, emitting the merge
    table — (rank, left, right, merged token, frequency-weighted pair
    count) — the artifact a real pipeline ships to its tokenizer.

    Iterative fixed-point plan, same family as ``kmeans_lloyd_clusters``
    / ``copurchase_pagerank``: the corpus is scanned ONCE (word-freq
    contraction, checkpointed); each round then (a) folds the
    vocabulary-sized state to per-pair counts — adjacent-pair explode
    whose map-side combine contracts each task to its distinct pairs
    before the shuffle — (b) takes the argmax via
    ``orderBy(...).limit(1)`` (``TakeOrderedAndProject``: per-partition
    1-row heaps, never a global sort), so the DRIVER sees exactly one
    row per round, and (c) rewrites the symbol arrays with the chosen
    merge inlined as literals in a JVM ``aggregate`` fold (broadcast by
    value — zero joins, zero python islands). At 100 TB the state is
    web-vocabulary-sized (millions of distinct words) and stays fully
    distributed; per-round cost is a vocab scan, independent of corpus
    size.

    Determinism (why this is oracle-gated): pair counts are exact long
    sums (associative under any partitioning); selection tiebreaks by
    (count DESC, left ASC, right ASC) — a total order both engines
    evaluate identically on ASCII; application is the greedy fold
    proven equal to the oracle's serialized string-replace (see
    ``_bpe_apply_merge`` / ``_bpe_sql``). Pair counting uses ADJACENT
    (overlapping) occurrences, Sennrich's ``get_stats`` convention.
    """
    merges, cur = _bpe_train(spark, sf_dir)
    cur.unpersist()
    return spark.createDataFrame(
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "new_token string, pair_count long",
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Run the ``BPE_MERGES`` training rounds; returns ``(merges,
    final_state)`` — the merge tuples and the post-training word-state
    frame (lineage-pinned via ``pin`` — localCheckpoint by default,
    reliable checkpoint under the ``spark.graft.checkpointDir`` conf
    for executor-loss-safe training on a real cluster, VERDICT r10 #3;
    the merge-table consumer unpersists it,
    the token-count consumer keeps it live under its returned plan)."""
    cur = pin(_bpe_word_state(spark, sf_dir))
    merges: list[tuple] = []
    for k in range(1, BPE_MERGES + 1):
        best = _bpe_pair_argmax(cur).collect()
        if not best:
            break  # vocabulary fully merged before BPE_MERGES rounds
        l, r, cnt = best[0]["l"], best[0]["r"], int(best[0]["cnt"])
        merges.append((k, l, r, l + r, cnt))
        nxt = pin(cur.select(
            _bpe_apply_merge(l, r).alias("syms"), "freq"
        ))
        cur.unpersist()
        cur = nxt
    return merges, cur


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token counts UNDER the trained BPE vocabulary — the
    second artifact of VERDICT r9 #4 ('the merge table + resulting
    token counts'): after ``BPE_MERGES`` merges, every word is a
    sequence of vocabulary symbols; this reports each symbol's
    frequency-weighted corpus occurrence count and its occurrence
    count across distinct word FORMS (the stats a tokenizer report
    card publishes — compression ratio and dead-merge detection fall
    out of them).

    Plan: the training fixed point (shared ``_bpe_train``) plus ONE
    vocabulary-sized explode-and-fold over the final state — symbols
    number at most |alphabet| + BPE_MERGES, so the output and the agg
    are both tiny at any corpus scale.
    """
    _, cur = _bpe_train(spark, sf_dir)
    return (
        cur.select(F.explode("syms").alias("token"), "freq")
        .groupBy("token")
        .agg(
            F.sum("freq").alias("n_occurrences"),
            F.count("*").alias("n_form_occurrences"),
        )
    )


def _bpe_sql() -> str:
    """DuckDB oracle replaying the IDENTICAL greedy merges, unrolled
    round-by-round (the ``_km_cte_prefix`` pattern — recursive CTEs
    cannot reference the working table twice, so iteration unrolls).

    Merge application serializes each word's symbols as
    ``|s1||s2||...|``: every symbol occurrence is delimited on both
    sides, so the literal ``replace`` of ``|l||r|`` with ``|lr|``
    matches exactly the adjacent symbol pairs (a match must start at a
    delimiter and consume whole symbols — symbols cannot contain
    ``|``), and ``replace``'s left-to-right non-overlapping scan IS the
    greedy merge order, including the ``l == r`` run case where
    consecutive candidates share the middle symbol."""
    parts = [
        f"""
w0 AS (
    SELECT list_transform(range(1, length(w) + 1),
                          i -> substr(w, i, 1)) AS syms,
           count(*)::BIGINT AS freq
    FROM (
        SELECT unnest({_TOKS_SQL}) AS w
        FROM documents WHERE doc_id IS NOT NULL
    )
    WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {BPE_MAX_WORD_LEN}
    GROUP BY w
)"""
    ]
    for k in range(1, BPE_MERGES + 1):
        parts.append(f"""
p{k} AS (
    SELECT syms[i.i] AS l, syms[i.i + 1] AS r, sum(freq)::BIGINT AS cnt
    FROM w{k - 1} CROSS JOIN range(1, {BPE_MAX_WORD_LEN}) i(i)
    WHERE i.i <= len(syms) - 1
    GROUP BY 1, 2
)""")
        parts.append(f"""
b{k} AS (
    SELECT l, r, cnt FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
)""")
        parts.append(f"""
w{k} AS (
    -- LEFT JOIN ON TRUE, not CROSS JOIN (ADVICE r10): a corpus that
    -- exhausts mergeable pairs before BPE_MERGES rounds makes b{k}
    -- empty, and a cross join would wipe the word state; the left
    -- join keeps w{k - 1} unchanged, matching _bpe_train's early break.
    SELECT CASE WHEN b.l IS NULL THEN syms ELSE string_split(
               trim(replace('|' || array_to_string(syms, '||') || '|',
                            '|' || b.l || '||' || b.r || '|',
                            '|' || b.l || b.r || '|'),
                    '|'),
               '||') END AS syms,
           freq
    FROM w{k - 1} LEFT JOIN b{k} b ON TRUE
)""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym, "
        f"l || r AS new_token, cnt AS pair_count FROM b{k}"
        for k in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + finals


def _bpe_token_counts_sql() -> str:
    """Oracle for :func:`bpe_token_counts`: the same unrolled merge
    chain, folded over the FINAL state ``w{BPE_MERGES}`` instead of the
    per-round best rows."""
    chain = _bpe_sql()
    chain = chain[: chain.index("\nSELECT 1 AS merge_rank")]
    return f"""{chain}
SELECT token, sum(freq)::BIGINT AS n_occurrences,
       count(*)::BIGINT AS n_form_occurrences
FROM (SELECT unnest(syms) AS token, freq FROM w{BPE_MERGES})
GROUP BY token
"""


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (SentencePiece family), one hard-EM round (r13)
# ---------------------------------------------------------------------------

UNI_MAX_PIECE = 4        # candidate pieces are substrings up to this length
UNI_MAX_WORD_LEN = 16    # trainer ignores longer "words" (junk, as in BPE)


def _uni_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, freq, n) — the unigram trainer's word-frequency contraction,
    the ONLY corpus-sized operation (the ``_bpe_word_state`` argument
    verbatim: everything after runs at vocabulary grain)."""
    docs = t(spark, sf_dir, "documents").where(F.col("doc_id").isNotNull())
    return (
        docs.select(F.explode(tokens("text")).alias("w"))
        .where(
            F.col("w").rlike("^[a-z]+$")
            & (F.length("w") <= UNI_MAX_WORD_LEN)
        )
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select("w", "freq", F.length("w").cast("int").alias("n"))
    )


_UNI_SPANS_EXPR = f"""
flatten(transform(sequence(0, n - 1), j ->
    transform(sequence(j + 1, least(n, j + {UNI_MAX_PIECE})), i ->
        named_struct('j', j, 'i', i, 'piece', substr(w, j + 1, i - j)))))
"""

# Viterbi DP as ONE JVM aggregate fold per word: acc[k+1] holds
# (score, bj) for prefix length k; step i appends the best over
# candidate spans ending at i (score = acc[j+1].score + lp(j,i), micro
# longs). Tie-break: highest score, then smallest j (the longest
# piece) — encoded as array_sort over (-score, j) and taking element 1.
# Every word position is reachable: single characters are always in
# the candidate vocabulary, so filter(...) is never empty.
_UNI_DP_EXPR = """
aggregate(
  sequence(1, n),
  array(named_struct('score', 0L, 'bj', -1)),
  (acc, i) -> array_append(acc,
    named_struct(
      'score', -element_at(array_sort(transform(
          filter(sp, s -> s.i = i),
          s -> named_struct('ns', -(element_at(acc, s.j + 1).score + s.lp),
                            'j', s.j))), 1).ns,
      'bj', element_at(array_sort(transform(
          filter(sp, s -> s.i = i),
          s -> named_struct('ns', -(element_at(acc, s.j + 1).score + s.lp),
                            'j', s.j))), 1).j)))
"""

# Backtrace fold: walk bj pointers from position n down to 0 (at most
# UNI_MAX_WORD_LEN steps), collecting (j, i) piece spans.
_UNI_BT_EXPR = f"""
aggregate(
  sequence(1, {UNI_MAX_WORD_LEN}),
  named_struct('pos', n, 'ps', cast(array() as array<struct<j int, i int>>)),
  (st, k) -> if(st.pos <= 0, st,
    named_struct(
      'pos', element_at(dp, st.pos + 1).bj,
      'ps', array_append(st.ps, named_struct(
                'j', element_at(dp, st.pos + 1).bj, 'i', st.pos))))
).ps
"""

_UNI_LP_GRID = 1_000_000  # micro-nat quantization of piece log-probs


def _uni_model(spark: SparkSession, sf_dir: str):
    """The shared seed-model + Viterbi state both unigram queries
    consume: ``(lp, viterbi)`` where ``lp`` is the seed piece table
    (piece, seed_count, lp micro-nats) and ``viterbi`` is the per-word
    frame (w, freq, n, sp, dp, ps) carrying the DP table and backtrace
    spans. Construction is documented on :func:`unigram_lm_em_round`."""
    # cached (optimization r16): the word contraction is the chain's
    # ONLY corpus-sized pass, but it was re-executed per reference —
    # spans feeds both the seed aggregation and the span-collect, and
    # lp's subtree replays seed -> spans -> words at each of ITS two
    # references (measured: 8 documents FileScans in
    # unigram_lm_em_round's executed plan, 5 in doc_unigram_perplexity;
    # caching words + lp collapses each query to its intrinsic scans)
    words = _uni_words(spark, sf_dir).persist()
    spans = words.select(
        "w", "freq", "n", F.explode(F.expr(_UNI_SPANS_EXPR)).alias("s")
    ).select(
        "w", "freq", "n",
        F.col("s.j").alias("j"), F.col("s.i").alias("i"),
        F.col("s.piece").alias("piece"),
    )
    seed = spans.groupBy("piece").agg(F.sum("freq").alias("seed_count"))
    total0 = seed.agg(F.sum("seed_count").alias("t0"))
    lp = (
        seed.crossJoin(F.broadcast(total0))
        .select(
            "piece",
            "seed_count",
            F.round(
                F.log(
                    F.col("seed_count").cast("double")
                    / F.col("t0").cast("double")
                )
                * _UNI_LP_GRID,
                0,
            )
            .cast("long")
            .alias("lp"),
        )
    ).persist()  # vocab-grain; 2 references (span attach + EM output)
    word_sp = (
        spans.join(F.broadcast(lp.select("piece", "lp")), "piece")
        .groupBy("w", "freq", "n")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("j").alias("j"),
                    F.col("i").alias("i"),
                    F.col("lp").alias("lp"),
                )
            ).alias("sp")
        )
    )
    viterbi = word_sp.withColumn("dp", F.expr(_UNI_DP_EXPR)).withColumn(
        "ps", F.expr(_UNI_BT_EXPR)
    )
    return lp, viterbi


def unigram_lm_em_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hard-EM round of a SentencePiece-style unigram-LM tokenizer
    (VERDICT r12 #8 — the other production tokenizer family next to
    BPE): seed a candidate vocabulary with every substring of length
    1..{UNI_MAX_PIECE} of the corpus words weighted by occurrence,
    Viterbi-segment every word under the seed log-probs (the E-step of
    hard EM), and re-estimate piece probabilities from the Viterbi
    counts (the M-step). Pieces the segmentation never uses drop out —
    the prune step that shrinks SentencePiece's seed vocab toward the
    final model. Emits one row per SURVIVING piece: seed count,
    Viterbi count, totals, re-estimated probability and micro-nat
    log-prob.

    Determinism (the BPE/Lloyd discipline): seed and Viterbi counts
    are exact long sums; log-probs quantize one ln() each to the 1e-6
    grid on identical operands (the surprisal/PSI precedent); Viterbi
    scores are exact micro-long SUMS, so any correct DP computes the
    identical integers — Spark runs the DP as ONE JVM aggregate fold
    per word (no joins, no Python) while the oracle unrolls it as
    {UNI_MAX_WORD_LEN} CTE rounds, and the argmax tie-break (highest
    score, then smallest start = longest piece) is a total order on
    exact ints both engines evaluate identically.

    Plan: the corpus is scanned ONCE (word-freq contraction); spans,
    seed counts, the 1-row total, the DP fold, and the count rollup
    are all vocabulary-grain. The piece table rides a broadcast join
    into the span frame; per-word DP is O(len · {UNI_MAX_PIECE})
    inside whole-stage codegen. At 100 TB the state is web-vocabulary
    sized and fully distributed — per-round cost is independent of
    corpus size, the same economics as ``bpe_merges_topn``."""
    lp, viterbi = _uni_model(spark, sf_dir)
    segmented = (
        viterbi.select(
            "w",
            "freq",
            F.explode(
                F.expr("transform(ps, p -> substr(w, p.j + 1, p.i - p.j))")
            ).alias("piece"),
        )
    )
    counts = segmented.groupBy("piece").agg(
        F.sum("freq").alias("viterbi_count")
    )
    total1 = counts.agg(F.sum("viterbi_count").alias("t1"))
    prob = F.col("viterbi_count").cast("double") / F.col("t1").cast("double")
    return (
        counts.join(F.broadcast(lp.select("piece", "seed_count")), "piece")
        .crossJoin(F.broadcast(total1))
        .select(
            "piece",
            "seed_count",
            "viterbi_count",
            F.col("t1").alias("n_total"),
            prob.alias("prob"),
            F.round(F.log(prob) * _UNI_LP_GRID, 0)
            .cast("long")
            .alias("logprob_micro"),
        )
    )


def doc_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document perplexity under the trained unigram-LM piece model
    — the CCNet-style LM quality filter (Wenzek et al. 2020 score
    documents with a KenLM; here the LM is the corpus's own seed
    unigram model from :func:`_uni_model`, so the filter is
    self-contained): junk documents (unmodelable tokens, atypical
    character sequences) segment into low-probability pieces and score
    HIGH perplexity, which is the standard removal signal for
    pretraining corpora.

    Per doc: every token that exists in the word model (the
    lowercase-alpha ≤ {UNI_MAX_WORD_LEN}-char population) contributes
    its word's exact Viterbi log-prob (the DP table's final cell — an
    exact micro-nat long) and its piece count; tokens outside the
    model population are counted as ``n_oov`` (their own quality
    signal) and excluded from the average. Emits (doc_id, n_scored,
    n_oov, n_pieces, sum_logprob_micro, avg_logprob_per_piece, ppl)
    with ppl = round(exp(−avg), 6) — the sums are exact longs, the
    average is one exactly-rounded division, and the single libm
    ``exp`` is 6-decimal-rounded on identical operands (the surprisal
    precedent). Documents with zero scorable tokens are excluded
    (nothing to average — the n_oov signal for them lives in
    ``quality_filter_battery``'s alpha-ratio rule).

    Plan: the word model is vocabulary-grain (one corpus contraction +
    the in-row DP); doc scoring is ONE more corpus-token pass joined
    against the (w, score, pieces) table and contracted per doc — the
    same economics as ``tokenizer_vocab_coverage``. The score-table
    join carries NO compile-time broadcast hint (the
    ``dedup_near_dup_survivors`` rationale): a web corpus's vocabulary
    runs to tens of millions of words, past safe broadcast size — AQE
    still picks the broadcast at runtime whenever the vocab genuinely
    fits, and the fallback shuffle join on ``w`` is safe at every
    scale."""
    _, viterbi = _uni_model(spark, sf_dir)
    wscore = viterbi.select(
        "w",
        F.expr("element_at(dp, n + 1).score").alias("score"),
        F.size("ps").cast("long").alias("np"),
    )
    docw = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode(tokens("text")).alias("w"))
    )
    matched = docw.join(wscore, "w").groupBy("doc_id").agg(
        F.count("*").alias("n_scored"),
        F.sum("np").alias("n_pieces"),
        F.sum("score").alias("sum_logprob_micro"),
    )
    n_all = docw.groupBy("doc_id").agg(F.count("*").alias("n_all"))
    avg = (
        F.col("sum_logprob_micro").cast("double") / F.col("n_pieces")
    ) / F.lit(float(_UNI_LP_GRID))
    return (
        matched.join(n_all, "doc_id")
        .select(
            "doc_id",
            "n_scored",
            (F.col("n_all") - F.col("n_scored")).alias("n_oov"),
            "n_pieces",
            "sum_logprob_micro",
            avg.alias("avg_logprob_per_piece"),
            F.round(F.exp(-avg), 6).alias("ppl"),
        )
    )


def _unigram_cte_parts() -> list[str]:
    """The shared unrolled-CTE chain (words → spans → seed log-probs →
    {UNI_MAX_WORD_LEN} Viterbi argmax rounds → backtrace → pieces)
    both unigram oracles compose. MATERIALIZED throughout — the
    accumulated dp table is referenced by every later round (the
    Jacobi-chain lesson)."""
    parts = [f"""
w0 AS MATERIALIZED (
    SELECT w, count(*)::BIGINT AS freq, length(w)::INT AS n
    FROM (
        SELECT unnest({_TOKS_SQL}) AS w
        FROM documents WHERE doc_id IS NOT NULL
    )
    WHERE regexp_matches(w, '^[a-z]+$') AND length(w) <= {UNI_MAX_WORD_LEN}
    GROUP BY w
),
spans AS MATERIALIZED (
    SELECT w, freq, n, j.j::INT AS j, i.i::INT AS i,
           substr(w, j.j + 1, i.i - j.j) AS piece
    FROM w0
    CROSS JOIN range(0, {UNI_MAX_WORD_LEN}) j(j)
    CROSS JOIN range(1, {UNI_MAX_WORD_LEN + 1}) i(i)
    WHERE j.j < n AND i.i > j.j AND i.i <= least(n, j.j + {UNI_MAX_PIECE})
),
seed AS MATERIALIZED (
    SELECT piece, sum(freq)::BIGINT AS seed_count FROM spans GROUP BY 1
),
t0 AS (SELECT sum(seed_count)::BIGINT AS t0 FROM seed),
lp AS MATERIALIZED (
    SELECT piece, seed_count,
           round(ln(seed_count::DOUBLE / t0.t0::DOUBLE)
                 * {_UNI_LP_GRID})::BIGINT AS lp
    FROM seed CROSS JOIN t0
),
sp AS MATERIALIZED (
    SELECT s.w, s.freq, s.n, s.j, s.i, l.lp
    FROM spans s JOIN lp l USING (piece)
),
dp0 AS MATERIALIZED (
    SELECT w, 0::INT AS i, 0::BIGINT AS score, -1::INT AS bj FROM w0
)"""]
    for k in range(1, UNI_MAX_WORD_LEN + 1):
        parts.append(f"""
dp{k} AS MATERIALIZED (
    SELECT w, i, score, bj FROM (
        SELECT s.w, s.i, (d.score + s.lp)::BIGINT AS score, s.j AS bj,
               row_number() OVER (
                   PARTITION BY s.w
                   ORDER BY (d.score + s.lp) DESC, s.j ASC) AS rn
        FROM sp s JOIN dpa{k - 1 if k > 1 else 0} d
          ON d.w = s.w AND d.i = s.j
        WHERE s.i = {k}
    ) WHERE rn = 1
),
dpa{k} AS MATERIALIZED (
    SELECT * FROM dpa{k - 1 if k > 1 else 0} UNION ALL SELECT * FROM dp{k}
)""".replace("dpa0", "dp0"))
    parts.append(f"""
bt0 AS MATERIALIZED (SELECT w, freq, n AS pos FROM w0)""")
    for k in range(1, UNI_MAX_WORD_LEN + 1):
        parts.append(f"""
bt{k} AS MATERIALIZED (
    SELECT b.w, b.freq, d.bj AS pos,
           substr(b.w, d.bj + 1, b.pos - d.bj) AS piece
    FROM bt{k - 1} b JOIN dpa{UNI_MAX_WORD_LEN} d
      ON d.w = b.w AND d.i = b.pos
    WHERE b.pos > 0
)""")
    pieces_union = "\nUNION ALL\n".join(
        f"SELECT w, freq, piece FROM bt{k}"
        for k in range(1, UNI_MAX_WORD_LEN + 1)
    )
    parts.append(f"""
pieces AS MATERIALIZED ({pieces_union})""")
    return parts


def _unigram_sql() -> str:
    """DuckDB oracle for :func:`unigram_lm_em_round`: identical seed
    vocabulary + log-probs, Viterbi, backtrace, and count
    re-estimation over the shared chain."""
    parts = _unigram_cte_parts() + [f"""
cnt AS MATERIALIZED (
    SELECT piece, sum(freq)::BIGINT AS viterbi_count FROM pieces GROUP BY 1
),
t1 AS (SELECT sum(viterbi_count)::BIGINT AS t1 FROM cnt)"""]
    return (
        "WITH " + ",".join(parts) + f"""
SELECT c.piece, l.seed_count, c.viterbi_count, t1.t1 AS n_total,
       c.viterbi_count::DOUBLE / t1.t1::DOUBLE AS prob,
       round(ln(c.viterbi_count::DOUBLE / t1.t1::DOUBLE)
             * {_UNI_LP_GRID})::BIGINT AS logprob_micro
FROM cnt c JOIN lp l USING (piece) CROSS JOIN t1
"""
    )


def _doc_unigram_ppl_sql() -> str:
    """Oracle for :func:`doc_unigram_perplexity`: the shared chain's
    final DP cells (dpa{UNI_MAX_WORD_LEN} at i = len(w)) and backtrace
    piece counts joined onto the raw document token stream."""
    parts = _unigram_cte_parts() + [f"""
wscore AS MATERIALIZED (
    SELECT w0.w, d.score, pc.np
    FROM w0
    JOIN dpa{UNI_MAX_WORD_LEN} d ON d.w = w0.w AND d.i = w0.n
    JOIN (SELECT w, count(*)::BIGINT AS np FROM pieces GROUP BY w) pc
      ON pc.w = w0.w
),
docw AS MATERIALIZED (
    SELECT doc_id, unnest({_TOKS_SQL}) AS w
    FROM documents WHERE doc_id IS NOT NULL
),
matched AS (
    SELECT doc_id, count(*)::BIGINT AS n_scored,
           sum(np)::BIGINT AS n_pieces,
           sum(score)::BIGINT AS sum_logprob_micro
    FROM docw JOIN wscore USING (w) GROUP BY doc_id
),
alln AS (SELECT doc_id, count(*)::BIGINT AS n_all FROM docw GROUP BY doc_id)"""]
    return (
        "WITH " + ",".join(parts) + f"""
SELECT m.doc_id, m.n_scored, (a.n_all - m.n_scored)::BIGINT AS n_oov,
       m.n_pieces, m.sum_logprob_micro,
       (m.sum_logprob_micro::DOUBLE / m.n_pieces)
           / {float(_UNI_LP_GRID)} AS avg_logprob_per_piece,
       round(exp(-((m.sum_logprob_micro::DOUBLE / m.n_pieces)
                   / {float(_UNI_LP_GRID)})), 6) AS ppl
FROM matched m JOIN alln a USING (doc_id)
"""
    )


PRETRAIN_SPECS = [
    QuerySpec(
        "doc_unigram_perplexity",
        doc_unigram_perplexity,
        _doc_unigram_ppl_sql(),
        ("quality-lm-perplexity-filter",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "unigram_lm_em_round",
        unigram_lm_em_round,
        _unigram_sql(),
        ("tokenizer-unigram-lm-em",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "decontaminate_ngram_overlap",
        decontaminate_ngram_overlap,
        DECONTAMINATE_SQL,
        ("decontamination",),
    ),
    QuerySpec(
        "doc_chunk_tokens",
        doc_chunk_tokens,
        DOC_CHUNK_SQL,
        ("chunking",),
    ),
    QuerySpec(
        "chunk_dedup_exact",
        chunk_dedup_exact,
        CHUNK_DEDUP_EXACT_SQL,
        ("chunk-dedup",),
    ),
    QuerySpec(
        "pack_sequences_greedy",
        pack_sequences_greedy,
        PACK_SEQUENCES_SQL,
        ("sequence-packing",),
    ),
    QuerySpec(
        "source_mix_rebalance",
        source_mix_rebalance,
        SOURCE_MIX_SQL,
        ("mix-rebalance",),
    ),
    QuerySpec(
        "decontaminate_exact_substring",
        decontaminate_exact_substring,
        DECONTAMINATE_SUBSTRING_SQL,
        ("decontamination-substring",),
    ),
    QuerySpec(
        "source_temperature_mix",
        source_temperature_mix,
        SOURCE_TEMPERATURE_MIX_SQL,
        ("mix-temperature-sampling",),
        touched_round=16,  # r16: AUDIT row changed
    ),
    QuerySpec(
        "source_kl_divergence",
        source_kl_divergence,
        SOURCE_KL_DIVERGENCE_SQL,
        ("mix-kl-drift",),
    ),
    QuerySpec(
        "tokenizer_vocab_coverage",
        tokenizer_vocab_coverage,
        TOKENIZER_VOCAB_COVERAGE_SQL,
        ("vocab-oov-coverage",),
        touched_round=7,  # r7: vocab via TakeOrderedAndProject rewrite
    ),
    QuerySpec(
        "decontaminate_embedding_cosine",
        decontaminate_embedding_cosine,
        _decon_embedding_sql(),
        ("decontamination-semantic",),
    ),
    QuerySpec(
        "bpe_merges_topn",
        bpe_merges_topn,
        _bpe_sql(),
        ("bpe-merge-training",),
        touched_round=11,  # r11: oracle gains the exhausted-merge LEFT JOIN guard
    ),
    QuerySpec(
        "bpe_token_counts",
        bpe_token_counts,
        _bpe_token_counts_sql(),
        ("bpe-token-report",),
        touched_round=11,  # r11: oracle gains the exhausted-merge LEFT JOIN guard
    ),
]
