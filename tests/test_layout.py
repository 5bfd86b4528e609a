"""Z-order clustering + min/max file-skipping index (layout.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ai_powered_e_commerce_analytics_spark.layout import (
    build_minmax_index,
    morton_code,
    pruned_files,
    read_pruned,
    write_zordered,
)

from conftest import SF_DIR


def test_morton_code_interleaves_bits(spark):
    # 0b101 (a) and 0b011 (b) interleave to
    # b2 a2 b1 a1 b0 a0 = 0 1 1 0 1 1 = 0b011011 = 27.
    row = (
        spark.range(1)
        .select(morton_code(F.lit(5), F.lit(3)).alias("z"))
        .collect()[0]
    )
    assert row["z"] == 27
    # Monotone on each axis within the other's bucket: (0,0)<(1,0)<(0,1).
    vals = (
        spark.range(1)
        .select(
            morton_code(F.lit(0), F.lit(0)).alias("a"),
            morton_code(F.lit(1), F.lit(0)).alias("b"),
            morton_code(F.lit(0), F.lit(1)).alias("c"),
        )
        .collect()[0]
    )
    assert vals["a"] < vals["b"] < vals["c"]


def test_zorder_index_prunes_and_preserves_results(spark, tmp_path):
    table = str(tmp_path / "li_z")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    write_zordered(li, table, "l_partkey", "l_suppkey", n_files=8)

    idx = build_minmax_index(spark, table, ["l_partkey", "l_suppkey"])
    n_files = idx.count()
    assert n_files >= 4  # layout actually split into multiple files

    # A narrow range on EITHER z-ordered column should skip most files.
    pk_lo, pk_hi = 10, 30
    hit_pk = pruned_files(idx, "l_partkey", pk_lo, pk_hi)
    assert 0 < len(hit_pk) < n_files

    got = (
        read_pruned(spark, table, idx, "l_partkey", pk_lo, pk_hi)
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("l_partkey").alias("s"))
        .collect()[0]
    )
    want = (
        li.where((F.col("l_partkey") >= pk_lo) & (F.col("l_partkey") <= pk_hi))
        .groupBy()
        .agg(F.count("*").alias("n"), F.sum("l_partkey").alias("s"))
        .collect()[0]
    )
    assert (got["n"], got["s"]) == (want["n"], want["s"])

    # The second interleaved column prunes too (single-column sort
    # layouts can't do both) — suppkey range also hits a strict subset.
    sk = pruned_files(idx, "l_suppkey", 1, 3)
    assert 0 < len(sk) < n_files


def test_read_pruned_empty_range_is_schema_correct(spark, tmp_path):
    table = str(tmp_path / "li_z2")
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").limit(500)
    write_zordered(li, table, "l_partkey", "l_suppkey", n_files=4)
    idx = build_minmax_index(spark, table, ["l_partkey"])
    out = read_pruned(spark, table, idx, "l_partkey", -100, -1)
    assert out.count() == 0
    assert out.columns == li.columns


def test_morton_code_roundtrip_bijection(spark):
    # The interleave must be a bijection on (a, b) within the bit budget:
    # decode z back to (a, b) in plain Python over a deterministic sample
    # of awkward values (mask edges, bit boundaries, primes).
    import itertools

    vals = [0, 1, 2, 3, 7, 8, 255, 256, 1 << 20, (1 << 21) - 1, 999_983]
    pairs = list(itertools.product(vals, vals))
    df = spark.createDataFrame(pairs, "a long, b long").select(
        "a", "b", morton_code(F.col("a"), F.col("b")).alias("z")
    )
    for r in df.collect():
        a = b = 0
        for i in range(21):
            a |= ((r["z"] >> (2 * i)) & 1) << i
            b |= ((r["z"] >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r["a"], r["b"]), (r["a"], r["b"], r["z"])
