"""Shared column expressions (SURVEY.md §2.5 C1-C7 + hashing primitives).

Everything here is a *pure Column expression* — JVM-side, whole-stage
codegen-eligible, no Python in the hot path. The hashing primitives are
deliberately built on ``md5`` (not ``xxhash64``) so the exact same value is
computable in ANSI SQL by the DuckDB correctness oracle; swap
``portable_hash64`` for ``F.xxhash64`` in production if oracle parity is
not needed (xxhash64 is ~3x faster, same distribution properties).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def likeness_score(positive: Column, negative: Column) -> Column:
    """``positive / (negative if negative > 0 else 1)`` cast to double —
    the reference's conditional ratio (data_transformer.py:118-124, C1).
    """
    return (
        positive / F.when(negative > 0, negative).otherwise(F.lit(1))
    ).cast("double")


def with_minmax_normalized(
    df: DataFrame, col: str, out: str, *, scalable: bool = True
) -> DataFrame:
    """Min-max normalize ``col`` over the whole frame; constant column → 0.0
    (reference tools.py:67-94, C2 + A5 with the min==max guard at 85-87).

    Scale note: the naive form is ``min/max OVER ()`` — an empty-partition
    window that funnels every row through ONE task. The scalable form used
    here is a 2-row aggregate cross-joined back with a broadcast: the agg
    is a map-side-combined tree reduction and the join adds no shuffle.
    """
    x = F.col(col)
    if scalable:
        stats = df.agg(
            F.min(x).alias("__mn"), F.max(x).alias("__mx")
        )
        normalized = F.when(F.col("__mx") == F.col("__mn"), F.lit(0.0)).otherwise(
            (x - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))
        )
        return (
            df.crossJoin(F.broadcast(stats))
            .withColumn(out, normalized)
            .drop("__mn", "__mx")
        )
    from pyspark.sql.window import Window

    w = Window.partitionBy()
    mn, mx = F.min(x).over(w), F.max(x).over(w)
    return df.withColumn(
        out,
        F.when(mx == mn, F.lit(0.0)).otherwise((x - mn) / (mx - mn)),
    )


#: Env flag selecting the hashing backend for :func:`portable_hash64`.
#: ``portable`` (default) = md5-prefix, bit-identical in DuckDB — the
#: oracle-parity mode every test and driver check runs in. ``xxhash64`` =
#: Spark's native xxhash64 — ~3x cheaper per value, same distribution,
#: NOT reproducible in ANSI SQL, so oracle equality checks do not apply
#: (production mode for 100 TB runs; see SCALE.md for the measured
#: minhash/simhash speedup).
HASH_MODE_ENV = "SPARK_GRAFT_HASH_MODE"


def hash_mode() -> str:
    import os

    return os.environ.get(HASH_MODE_ENV, "portable")


def portable_hash64(col: Column | str, seed: int = 0) -> Column:
    """Deterministic 60-bit hash of a string column, reproducible in ANSI
    SQL: ``int(md5(x || '#seed')[0:15], 16)``. Uniform (md5 prefix), fits
    a signed 64-bit int (16^15 == 2^60).

    With ``SPARK_GRAFT_HASH_MODE=xxhash64`` the md5 path is swapped for
    native ``xxhash64`` (seed mixed in as an extra hashed column) — full
    signed-64 range, so every consumer here already handles negatives
    (``pmod`` in minhash, per-bit masks in simhash).
    """
    c = F.col(col) if isinstance(col, str) else col
    if hash_mode() == "xxhash64":
        return F.xxhash64(c, F.lit(seed)) if seed else F.xxhash64(c)
    salted = F.concat(c, F.lit(f"#{seed}")) if seed else c
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str, seed: int = 0) -> str:
    """The DuckDB-SQL twin of :func:`portable_hash64` (for oracles)."""
    salted = f"({expr} || '#{seed}')" if seed else expr
    return f"('0x' || substring(md5({salted}), 1, 15))::BIGINT"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: ``split(trim(text), '\\s+')``.

    Trim first so leading/trailing whitespace doesn't create empty tokens
    (same contract as DuckDB ``string_split_regex(trim(x), '\\s+')``).
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), r"\s+")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles as an array<string> — pure JVM expression.

    Built as ``zip_with`` over k shifted slices of the token array rather
    than ``transform(sequence(...), i -> slice(toks, i+1, k))``: an
    expression captured INSIDE a HOF lambda is re-evaluated per element,
    so the transform form re-runs the regex split O(n) times per row
    (measured ~8x slowdown on the shingling stage). With zip_with the
    token array is only ever a direct HOF input — evaluated once per
    reference, ~k+2 times per row total.

    No explode: the shingle set stays one array cell per row, so shingling
    adds zero shuffle and the downstream minhash is a per-row map.
    """
    toks = tokens(text)
    n = F.size(toks)
    acc = toks
    for i in range(1, k):
        shifted = F.slice(toks, i + 1, F.greatest(n - i, F.lit(0)))
        # zip_with pads the shorter side with nulls; concat propagates the
        # null, and the final slice drops the null tail.
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat(x, F.lit(" "), y))
    return F.when(n < k, F.array().cast("array<string>")).otherwise(
        F.slice(acc, 1, n - k + 1)
    )


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature as array<long>, one ``min(hash(s, seed_j))`` per
    seed — the standard shingle→minhash construction (Broder '97), computed
    entirely with built-in collection expressions (no UDF, no explode, no
    shuffle): signature[j] = array_min(transform(shingles, h_j)).

    Empty shingle sets get NULL entries (caller decides policy).
    """
    # NB: Spark HOF lambdas are arity-sensitive — a default-arg second
    # param would be treated as a 2-arg lambda — so bind the seed via a
    # closure factory.
    def hasher(seed):
        return lambda s: portable_hash64(s, seed=seed)

    return F.array(
        *[
            F.array_min(F.transform(shingles, hasher(j + 1)))
            for j in range(num_hashes)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array<string> columns (distinct
    semantics), as double; empty-union pairs → 0.0.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )


def unordered_pair_rows(
    df: DataFrame, arr_col: str, a_name: str, b_name: str
) -> DataFrame:
    """Expand each row's distinct-element array into its unordered
    ``(a, b)`` pairs with ``a < b`` — the in-bucket pairing step shared
    by the co-purchase basket family, PMI collocations, and the LSH /
    Hamming band buckets. Emits ONLY the two pair columns; every
    consumer aggregates or distincts the pair stream, so enumeration
    order is immaterial.

    Form (optimization r15, guide §4.1): ``sort_array`` once per row,
    then ``posexplode`` + ``slice`` enumerate exactly the pairs with
    ``a`` before ``b`` in sort order through two whole-stage-codegen
    Generate stages. The previous ``transform×transform`` + ``filter``
    spelling built |set|² structs per row in the INTERPRETED lambda
    evaluator (higher-order functions are CodegenFallback); on the
    sf0.1 copurchase basket frame the swap measured 1.34 → 0.91 s with
    a bit-identical pair multiset (both forms enumerate
    {(a, b) : a, b ∈ set, a < b}; elements are distinct by contract —
    collect_set / array_distinct / per-bucket-distinct upstream).

    DISTINCT-ELEMENTS CONTRACT (ADVICE r15): with a duplicated element
    the posexplode+slice form emits (x, x) self-pairs and inflated
    multiplicities that the old ``a < b`` filter excluded — a caller
    passing ``collect_list`` output gets wrong pairs. Every current
    call site feeds collect_set / array_distinct / per-bucket-distinct
    arrays; an in-helper ``array_distinct`` guard was measured at +7%
    on the isolated sf0.1 ``copurchase_pairs`` (1.08 → 1.16 s — a pure
    tax across 16 consumers whose inputs are already distinct), so the
    contract is enforced by tests instead:
    tests/test_functions.py::test_unordered_pair_rows_requires_distinct_elements
    pins the duplicate-input divergence loudly so a future caller
    cannot mistake it for the filtered semantics.
    """
    s = df.select(F.sort_array(arr_col).alias("__ps"))
    return s.select(
        F.posexplode("__ps").alias("__i", a_name), "__ps"
    ).select(
        a_name,
        F.explode(
            F.slice("__ps", F.col("__i") + F.lit(2), F.size("__ps"))
        ).alias(b_name),
    )


#: Session conf key opting iterative-state pinning into RELIABLE
#: checkpoints (see :func:`pin`). Unset/empty -> localCheckpoint.
RELIABLE_CHECKPOINT_CONF = "spark.graft.checkpointDir"


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Sever lineage on an iterative-loop state frame (VERDICT r10 #3).

    The iterative trainers (connected components, PageRank, the BPE
    merge loop) re-reference the previous round's state several times,
    so without truncation the logical plan grows exponentially with the
    round count. Two ways to truncate:

    - ``localCheckpoint`` (the default): executor-local blocks, zero
      disk/DFS traffic — but lineage is SEVERED, so on a real cluster
      an executor loss makes the pinned partitions unrecoverable and
      fails the job mid-training. Exactly right for ``local[n]`` and
      for jobs cheap to re-run end-to-end.
    - reliable ``checkpoint``: partitions are written to the
      fault-tolerant directory named by the session conf
      ``spark.graft.checkpointDir`` (propagated to
      ``sparkContext.setCheckpointDir``), so a lost executor recovers
      the state from storage and a multi-hour trainer survives node
      churn. Costs one distributed write per round — the right trade
      whenever (rounds x state size) is large next to re-run cost.

    The knob is a SESSION conf so deployments flip it without touching
    query code: ``spark.conf.set("spark.graft.checkpointDir", dir)``
    before running; ``spark.conf.unset(...)`` restores the local path.
    Emitted results are identical either way — pinning only changes
    where the already-computed partitions live (test_checkpoint_knob
    asserts identical BPE merges through both paths).

    Blast radius beyond the trainers: ``pin`` also shares a
    multiply-referenced contraction inside about ten ONE-SHOT analytic
    queries under ``plans/``. There:

    - the default ``eager=True`` runs the pinned subtree as a Spark job
      while the query DataFrame is BUILT, so constructing a query (for
      ``explain`` or to run later) already scans the corpus, and a
      failure after construction leaves the checkpoint blocks behind
      until a persistent-RDD sweep or the session ends;
    - under ``localCheckpoint`` an executor loss fails the whole query,
      where an unpinned plan would recompute the lost partitions;
    - with ``spark.graft.checkpointDir`` set, every call pays one
      reliable distributed write instead.

    Checkpoint-file GC: reliable checkpoints are NOT reclaimed by Spark
    unless ``spark.cleaner.referenceTracking.cleanCheckpoints`` was true
    at SparkContext creation — ``session.get_spark`` sets it, so rounds'
    directories are deleted as their RDDs fall out of scope. A session
    built elsewhere (or a pre-existing context) must set that static
    conf itself or GC ``spark.graft.checkpointDir`` out of band; without
    it a long trainer leaves one directory per pinned round.
    """
    spark = df.sparkSession
    try:
        ckpt_dir = spark.conf.get(RELIABLE_CHECKPOINT_CONF, None)
    except Exception:  # pragma: no cover - conf layer quirks
        ckpt_dir = None
    if ckpt_dir:
        sc = df.sparkSession.sparkContext
        # setCheckpointDir is idempotent for the same path; cheap enough
        # to call per pin and keeps the conf the single source of truth.
        sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)
