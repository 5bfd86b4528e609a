"""DuckDB-oracle equality for every registry query (mirrors the driver's
t2 gate: row-count + schema-shape + order-insensitive value equality).
At the ledger's scale each query's plan fingerprint must also equal its
``PLAN_LEDGER.json`` row, so a plan edit is recorded for the rotation.

Runs at sf0.001 by default for speed; set SPARK_GRAFT_TEST_SF_DIR to
/root/testdata/sf0.01 to reproduce the driver's exact scale.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd
import pytest

from ai_powered_e_commerce_analytics_spark.functions.core import released
from ai_powered_e_commerce_analytics_spark.plans import QUERIES
from ai_powered_e_commerce_analytics_spark.plans.probes import plan_fingerprint
from ai_powered_e_commerce_analytics_spark.plans.registry import read_ledger
from ai_powered_e_commerce_analytics_spark.schemas import TESTDATA_TABLES

from conftest import SF_DIR


@pytest.fixture(scope="module")
def oracle():
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: "<NULL>" if pd.isna(v) else str(v))
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: {sorted(a.columns)} vs {sorted(b.columns)}"]
    if len(a) != len(b):
        errs.append(f"row counts differ: {len(a)} vs {len(b)}")
        return errs
    a, b = canonicalize(a), canonicalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype == "float64":
            both_nan = av.isna() & bv.isna()
            eq = (av == bv) | both_nan
        else:
            eq = (av.astype(str) == bv.astype(str))
        if not eq.all():
            idx = (~eq).idxmax()
            errs.append(
                f"col {c}: {int((~eq).sum())} mismatches, first at row {idx}: "
                f"{av[idx]!r} vs {bv[idx]!r}"
            )
    return errs


def _shares(spark) -> tuple[set[int], bool]:
    """The session's persisted RDD ids and whether its CacheManager is
    empty: what a query shared and did not release shows in one."""
    return (
        set(spark.sparkContext._jsc.getPersistentRDDs().keys()),
        spark._jsparkSession.sharedState().cacheManager().isEmpty(),
    )


LEDGER = read_ledger()


@pytest.mark.parametrize("spec", QUERIES, ids=lambda s: s.name)
def test_query_matches_oracle(spark, oracle, spec):
    before = _shares(spark)
    with released(spark) as scope:
        df = spec.spark(spark, SF_DIR)
        fingerprint = plan_fingerprint(df, scope)
        got = df.toPandas()
    assert _shares(spark) == before, f"{spec.name} left shares behind"
    if SF_DIR == LEDGER["sf_dir"]:
        recorded = LEDGER["queries"].get(spec.name, {}).get("fingerprint")
        assert fingerprint == recorded, (
            f"{spec.name}: plan fingerprint {fingerprint} is not the one "
            f"PLAN_LEDGER.json records ({recorded}); if the plan change is "
            "meant, record it with "
            "`python -m ai_powered_e_commerce_analytics_spark ledger`"
        )
    if spec.oracle is None:
        assert len(got) >= 0  # rows-only check (driver's weak gate)
        return
    want = oracle.execute(spec.oracle).fetchdf()
    errs = frames_equal(got, want)
    assert not errs, f"{spec.name}: " + "; ".join(errs)


def test_registry_is_complete():
    names = [q.name for q in QUERIES]
    assert len(names) == len(set(names))
    assert len(names) >= 30
