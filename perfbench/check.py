"""Correctness checks, run inside every benchmark run but outside the
timed passes. Each function returns a list of mismatch descriptions; an
empty list means the output is correct."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

from .llm import stub_sentiment_sql


def oracle_connection(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')"
        )
    return con


def _canon(v) -> str:
    if v is None or v is pd.NaT or v is pd.NA:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        return repr(float(f"{v:.12g}"))
    if isinstance(v, (dt.datetime, np.datetime64)):
        # DuckDB hands DATE columns to pandas as midnight timestamps.
        v = pd.Timestamp(v)
        return v.date().isoformat() if v == v.normalize() else v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def canonical_hash(df: pd.DataFrame) -> tuple[int, str]:
    """(row count, order-insensitive hash of the canonical row values with
    columns taken in name order). Doubles are compared at 12 significant
    digits; integers that pandas widened to floats hash like integers."""
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False, name=None):
        parts = []
        for v in rec:
            if isinstance(v, float) and not math.isnan(v) and v.is_integer() and abs(v) < 2**53:
                v = int(v)
            parts.append(_canon(v))
        rows.append("\x1f".join(parts))
    rows.sort()
    h = hashlib.sha256("\x1e".join(rows).encode()).hexdigest()
    return len(rows), h


def check_query(got: pd.DataFrame, want: tuple[int, str]) -> list[str]:
    """Compare an output with the oracle's ``canonical_hash``."""
    want_n, want_h = want
    got_n, got_h = canonical_hash(got)
    if got_n != want_n:
        return [f"row count {got_n} != oracle {want_n}"]
    if got_h != want_h:
        return ["value hash differs from oracle"]
    return []


def _null(v) -> bool:
    return v is None or (isinstance(v, float) and math.isnan(v))


def _close(a, b) -> bool:
    if _null(a) or _null(b):
        return _null(a) and _null(b)
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-12)
    return a == b


KPI_KEYS = {"user_kpis": "id", "shop_kpis": "shop_id", "date_kpis": "date"}


def expected_kpis(round_files: list[list[str]]) -> dict[str, pd.DataFrame]:
    """Recompute the three KPI tables in DuckDB from the generated bronze
    rounds: per round, the stub review and sentiment rules give each row's
    sentiment and the round's KPI rows; across rounds the latest round wins
    per key, as the keyed upsert does."""
    con = duckdb.connect()
    out: dict[str, list[pd.DataFrame]] = {k: [] for k in KPI_KEYS}
    for r, files in enumerate(round_files):
        file_list = ", ".join(f"'{f}'" for f in files)
        con.execute(
            f"""CREATE OR REPLACE TABLE gold AS
            SELECT *, {stub_sentiment_sql('description', 'category')} AS sentiment
            FROM read_json([{file_list}], format='newline_delimited', columns={{
                product_name: 'VARCHAR', price: 'DOUBLE', quantity: 'BIGINT',
                category: 'VARCHAR', description: 'VARCHAR',
                availability: 'BOOLEAN', discount_percentage: 'DOUBLE',
                date: 'VARCHAR', id: 'VARCHAR', shop_id: 'VARCHAR'}})"""
        )
        for name, key in (("user_kpis", "id"), ("shop_kpis", "shop_id")):
            avg_alias = "average_spent" if key == "id" else "average_profit"
            df = con.execute(
                f"""WITH agg AS (
                    SELECT {key}, avg(price) AS {avg_alias},
                      sum(CASE WHEN sentiment THEN 1 ELSE 0 END)::BIGINT AS positive_reviews,
                      sum(CASE WHEN NOT sentiment THEN 1 ELSE 0 END)::BIGINT AS negative_reviews
                    FROM gold GROUP BY {key}),
                l AS (SELECT *, (positive_reviews / CASE WHEN negative_reviews > 0
                      THEN negative_reviews ELSE 1 END)::DOUBLE AS likeness_score FROM agg)
                SELECT *, CASE WHEN max(likeness_score) OVER () = min(likeness_score) OVER ()
                  THEN 0.0 ELSE (likeness_score - min(likeness_score) OVER ())
                  / (max(likeness_score) OVER () - min(likeness_score) OVER ()) END
                  AS normalized_likeness_score, {r} AS __round FROM l"""
            ).fetchdf()
            out[name].append(df)
        out["date_kpis"].append(con.execute(
            f"SELECT date, avg(price) AS average_profit_per_day, {r} AS __round "
            "FROM gold GROUP BY date"
        ).fetchdf())
    result = {}
    for name, key in KPI_KEYS.items():
        df = pd.concat(out[name], ignore_index=True)
        df = df.sort_values("__round").drop_duplicates(key, keep="last")
        result[name] = df.drop(columns="__round")
    return result


def check_kpis(got: pd.DataFrame, want: pd.DataFrame, key: str) -> list[str]:
    if len(got) != len(want):
        return [f"{key}: {len(got)} rows != expected {len(want)}"]
    cols = [c for c in want.columns if c != key]
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return [f"{key}: missing columns {missing}"]
    g = got.set_index(key)
    bad = 0
    for rec in want.itertuples(index=False):
        k = getattr(rec, key)
        if k not in g.index:
            bad += 1
            continue
        row = g.loc[k]
        if not all(_close(_py(row[c]), _py(getattr(rec, c))) for c in cols):
            bad += 1
    return [f"{key}: {bad} rows differ from the DuckDB recomputation"] if bad else []


def _py(v):
    return v.item() if hasattr(v, "item") else v


def check_empty_dirs(*dirs: str) -> list[str]:
    errs = []
    for d in dirs:
        left = [
            os.path.join(root, f)
            for root, _, files in os.walk(d)
            for f in files
            if f.endswith(".json")
        ]
        if left:
            errs.append(f"{d}: {len(left)} input files not archived")
    return errs


def check_sessions(streamed: set, batch: set, watermark_us: int, gap_us: int) -> list[str]:
    """The streamed sessions must be exactly the batch sessions that the
    final watermark has closed (session end + gap at or before it)."""
    closed = {s for s in batch if s[2] + gap_us <= watermark_us}
    errs = []
    if streamed - batch:
        errs.append(f"{len(streamed - batch)} streamed sessions not in the batch result")
    if closed - streamed:
        errs.append(f"{len(closed - streamed)} closed sessions missing from the stream")
    return errs
