"""Query-spec plumbing for the correctness registry.

Each spec pairs a Spark implementation (the engine under test) with an
ANSI-SQL oracle DuckDB runs on the same parquet tables. Column names AND
types must agree — the driver sorts columns by name and value-hashes.

Float policy (cross-engine determinism): aggregation of doubles is not
associative, so naive sum/avg can differ between engines in the last
ulps — and rounding does NOT fix it (2-decimal money averages sit
EXACTLY on decimal .5 boundaries, where Spark's and DuckDB's rounding
rules disagree; observed at sf0.01). Policy:

- money columns are exactly 2-decimal -> aggregate in integer CENTS
  (``round(x*100)::BIGINT``): long sums are exact, and
  ``(sum_cents / count) / 100.0`` is a deterministic IEEE expression on
  identical operands -> bit-identical across engines. Emit RAW doubles,
  never round (rounding an exact-decimal rational hits .5 boundaries).
- exact-integer ratios (likeness, jaccard, token stats) -> emit raw;
  bit-identical by construction.
- genuinely float-accumulated values (cosine, L2 norm) -> round(x, 6):
  cross-engine ulp noise is ~1e-14, the 1e-6 grid swamps it, and such
  values are never exactly on a decimal boundary.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import load_table as t  # noqa: F401 - the plans' table read


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    #: DuckDB SQL over the pre-registered views; None -> rows-only check.
    oracle: str | None
    #: Which SURVEY.md §2 operators / north-star ops this covers.
    covers: tuple[str, ...] = field(default=())
    #: Round in which this query's PLAN was last materially rewritten.
    #: Bump manually when a rewrite lands so the driver-rotation treats
    #: the query as unverified until a driver window re-checks it —
    #: age-only staleness would otherwise let a rewrite coast on stale
    #: green evidence for two rounds (VERDICT r7 finding #1).
    touched_round: int = 0


def cents(col) -> "Column":  # noqa: F821
    """Exact integer cents of a 2-decimal money column (see float policy)."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def cents_sql(expr: str) -> str:
    return f"round({expr} * 100)::BIGINT"


_US_PER_DAY = 86_400_000_000


def event_ts_us(df: DataFrame, col: str = "ts"):
    """Event time as exact epoch MICROSECONDS (long).

    Robust to every encoding the driver's testdata generator has used for
    ``events.ts``:

    - ``TIMESTAMP_NTZ`` (current): wall clock IS the UTC instant. Computed
      with pure field arithmetic (days-since-epoch + time-of-day), which is
      session-timezone-independent — unlike ``cast(ts as timestamp)``,
      which would shift by the driver session's zone offset. ``extract
      (second)`` yields DECIMAL(8,6) seconds-with-fraction, so ``* 1e6``
      is exact on the µs grid.
    - ``long`` (legacy ``nanosAsLong`` surface of TIMESTAMP(NANOS)):
      integer ``DIV 1000`` — never float division; ns magnitudes ~1.7e18
      exceed double's 2^53 exact range.
    - ``timestamp`` (instant-typed): ``unix_micros`` reads the stored UTC
      instant directly, timezone-free.

    Matches DuckDB ``epoch_us(ts)`` bit-exactly in all three cases, so
    all ordering / gap / band arithmetic happens in the same integer-µs
    domain in both engines.
    """
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        return F.expr(f"{col} DIV 1000")
    if dt == "timestamp_ntz":
        return (
            F.datediff(F.to_date(F.col(col)), F.lit("1970-01-01").cast("date"))
            .cast("long") * _US_PER_DAY
            + F.hour(col).cast("long") * 3_600_000_000
            + F.minute(col).cast("long") * 60_000_000
            + F.expr(f"cast(extract(second from {col}) * 1000000 as bigint)")
        )
    return F.unix_micros(F.col(col))


def event_date(df: DataFrame, col: str = "ts"):
    """Event DATE (wall clock), adaptive like :func:`event_ts_us`. For
    timestamp-typed columns ``to_date`` reads the stored wall clock with
    no timezone conversion (NTZ); the legacy long-ns surface goes
    through ``timestamp_micros`` (UTC-session contract)."""
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        return F.to_date(F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    return F.to_date(F.col(col))


def event_hour_str(df: DataFrame, col: str = "ts"):
    """Event hour as the string ``yyyy-MM-dd HH:00:00``.

    On timestamp-typed columns ``date_format`` renders the wall clock of
    the stored value with no timezone conversion for NTZ (verified: same
    output under UTC and America/New_York sessions), matching DuckDB
    ``strftime(date_trunc('hour', ts), ...)``. On the legacy long-ns
    surface, reconstruct via ``timestamp_micros`` (UTC-safe only under a
    UTC session — the legacy path's original contract).
    """
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        src = F.timestamp_micros(F.expr(f"{col} DIV 1000"))
    else:
        src = F.col(col)
    return F.date_format(src, "yyyy-MM-dd HH:00:00")
