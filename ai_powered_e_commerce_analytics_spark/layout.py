"""Data-layout optimization: multi-column clustering (Z-order) and a
min/max file-skipping index (beyond-reference — the lakehouse layout
layer that makes selective scans cheap at 100 TB).

Parquet already stores per-column min/max in footers, and Spark prunes
row groups with them — but footer pruning still OPENS every file. At
100 TB / ~1M files, listing+footer reads dominate selective queries.
The production fix (Delta/Iceberg do exactly this) is:

1. **Cluster the layout** so each file covers a narrow range of the
   filter columns. A single-column sort helps one column only;
   Z-ordering (bit-interleaved Morton code) gives EVERY interleaved
   column locality, so a range filter on any of them touches few files.
2. **Harvest a file-grain min/max index** (one tiny parquet of
   ``file, min_a, max_a, min_b, max_b`` rows — O(files), not O(rows))
   in the same pass as the write.
3. **Prune by manifest before the scan**: select the file subset whose
   [min, max] interval overlaps the predicate, and hand ONLY those
   paths to ``spark.read`` — the driver never lists or opens skipped
   files. The residual filter still applies (index is a superset
   guarantee, never a truncation).

Everything here is Column-expression / metadata-grain work: the Morton
code is a pure per-row bit-op chain (whole-stage codegen), the
clustering is one ``repartitionByRange`` exchange on the code, and the
index build aggregates by ``input_file_name`` (O(files) result rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_Z_BITS = 21   # bits per column in the Morton code (2 cols -> 42 bits)


def morton_code(a: Column, b: Column, *, bits: int = _Z_BITS) -> Column:
    """Bit-interleaved Morton (Z-order) code of two non-negative longs.

    ``a``'s bit i lands at position 2i, ``b``'s at 2i+1. Values are
    masked to ``bits`` low bits (callers rank-normalize or truncate
    first if columns exceed the range; 21 bits covers 2M distinct
    values per column). Pure shift/and/or chain — stays inside
    whole-stage codegen, no UDF.
    """
    mask = (1 << bits) - 1
    a = a.cast("long").bitwiseAND(F.lit(mask))
    b = b.cast("long").bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    *,
    n_files: int = 8,
) -> None:
    """Write ``df`` as parquet clustered by the Morton code of
    (col_a, col_b): one range-exchange on the code (range partitioning
    keeps the curve contiguous per file — hash would scatter it), a
    within-partition sort so row groups inside each file stay narrow
    too, and the code column itself is dropped before write.
    """
    # Normalize both columns onto the full bit range before
    # interleaving: raw values give the wider-domain column all the
    # high Morton bits, so the narrow column would never influence file
    # boundaries and its range filters would prune nothing (Delta's
    # OPTIMIZE ZORDER does the same via per-column range ids). One tiny
    # 1-row agg for the bounds, then a pure per-row expression.
    mask = (1 << _Z_BITS) - 1
    bounds = df.agg(
        F.min(col_a).alias("a_lo"),
        F.max(col_a).alias("a_hi"),
        F.min(col_b).alias("b_lo"),
        F.max(col_b).alias("b_hi"),
    ).collect()[0]
    if bounds["a_lo"] is None or bounds["b_lo"] is None:
        # empty input (or all-null cluster columns): nothing to order by
        df.write.mode("overwrite").parquet(path)
        return

    def norm(c: str, lo, hi) -> Column:
        if hi <= lo:
            return F.lit(0).cast("long")
        # Scale in DOUBLE: a long (col - lo) * mask product overflows
        # (wraps) once the domain spans > 2^42 — e.g. epoch-microsecond
        # timestamps over ~51 days — silently scrambling the codes. The
        # double path loses only sub-bucket precision (53-bit mantissa
        # vs 21-bit target), never ordering.
        return (
            (F.col(c).cast("double") - F.lit(float(lo)))
            * F.lit(float(mask))
            / F.lit(float(hi) - float(lo))
        ).cast("long")

    z = morton_code(
        norm(col_a, bounds["a_lo"], bounds["a_hi"]),
        norm(col_b, bounds["b_lo"], bounds["b_hi"]),
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def build_minmax_index(
    spark: SparkSession, table_dir: str, cols: list[str]
) -> DataFrame:
    """File-grain min/max manifest for ``cols``: one scan that reads
    ONLY the indexed columns, aggregated by ``input_file_name`` —
    O(files) output rows. Persist next to the table (tiny parquet) and
    rebuild incrementally for appended files in production.
    """
    df = spark.read.parquet(table_dir).select(
        F.input_file_name().alias("file"), *cols
    )
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return df.groupBy("file").agg(*aggs)


def pruned_files(
    index: DataFrame, col: str, lo, hi
) -> list[str]:
    """Files whose [min_col, max_col] interval intersects [lo, hi] —
    the superset guarantee: a file outside the interval can contain no
    matching row, so skipping it never drops data. O(files) driver
    rows, same class as the sink's bucket listings."""
    hit = index.where(
        (F.col(f"max_{col}") >= lo) & (F.col(f"min_{col}") <= hi)
    )
    return [r["file"] for r in hit.select("file").collect()]


def read_pruned(
    spark: SparkSession,
    table_dir: str,
    index: DataFrame,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Scan only the index-surviving files and apply the exact residual
    filter (the index prunes files; the predicate still runs — pruning
    is an optimization, never a semantic change). When NO file
    overlaps, fall back to the full-dir scan with the same predicate —
    schema-correct and provably empty (costs one listing, happens only
    for empty results)."""
    pred = (F.col(col) >= lo) & (F.col(col) <= hi)
    files = pruned_files(index, col, lo, hi)
    if not files:
        return spark.read.parquet(table_dir).where(pred)
    return spark.read.parquet(*files).where(pred)
