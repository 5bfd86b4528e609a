"""Assembled correctness-query registry (driver contract surface).

The driver oracle-checks the first 50 entries of ``QUERIES`` each round,
so the registry order is the evidence-rotation policy. Its inputs are
committed files at the repo root: each query's last-verified round
comes from the driver's ``CORRECTNESS_r*.json`` (``driver_verified_rounds``),
the round its plan last changed in from ``PLAN_LEDGER.json``
(``refresh_ledger``, the ``ledger`` CLI command).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .analytics import ANALYTICS_SPECS
from .approx import APPROX_SPECS
from .er import ER_SPECS
from .filtering import FILTERING_SPECS
from .graph import GRAPH_SPECS
from .multimodal import MULTIMODAL_SPECS
from .pretrain import PRETRAIN_SPECS
from .profiling import PROFILING_SPECS
from .relational import RELATIONAL_SPECS
from .relational_tpch import RELATIONAL_TPCH_SPECS
from .relational_tpch2 import RELATIONAL_TPCH2_SPECS
from .retrieval import RETRIEVAL_SPECS
from .sampling import SAMPLING_SPECS
from .simsearch import SIMSEARCH_SPECS
from ..functions.core import released
from .probes import plan_fingerprint
from .spec import QuerySpec
from .temporal import TEMPORAL_SPECS
from .textops import TEXTOPS_SPECS

_ALL_SPECS: list[QuerySpec] = (
    RELATIONAL_SPECS
    + TEXTOPS_SPECS
    + SIMSEARCH_SPECS
    + APPROX_SPECS
    + SAMPLING_SPECS
    + PRETRAIN_SPECS
    + MULTIMODAL_SPECS
    + ANALYTICS_SPECS
    + TEMPORAL_SPECS
    + RELATIONAL_TPCH_SPECS
    + RELATIONAL_TPCH2_SPECS
    + RETRIEVAL_SPECS
    + FILTERING_SPECS
    + GRAPH_SPECS
    + PROFILING_SPECS
    + ER_SPECS
)

#: Repo root, where the driver writes one ``CORRECTNESS_r{N}.json`` per round.
_EVIDENCE_DIR = Path(__file__).resolve().parents[2]
_GREEN_FLAGS = ("rows_match", "schema_match", "hash_match")
#: Per-query plan fingerprints and the round each plan last changed in.
LEDGER_PATH = _EVIDENCE_DIR / "PLAN_LEDGER.json"
#: The ledger's scale, tier-1's (TESTDATA.md): two queries turn a driver
#: collect into a plan literal, so a fingerprint holds for one sf only.
LEDGER_SF_DIR = "/root/testdata/sf0.001"


def _round_files(evidence_dir: Path):
    """``(round, path)`` of every ``CORRECTNESS_r{N}.json`` in the dir."""
    for path in evidence_dir.glob("CORRECTNESS_r*.json"):
        if m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name):
            yield int(m.group(1)), path


def driver_verified_rounds(evidence_dir: Path = _EVIDENCE_DIR) -> dict[str, int]:
    """Query name -> newest driver round with a green row for it.

    Reads every ``CORRECTNESS_r{N}.json`` in ``evidence_dir``. A row is
    green when its ``err`` is null and rows, schema and hash all match;
    an errored or mismatched row credits nothing. With no CORRECTNESS
    file present every query reads as never checked (round 0), so the
    rotation falls back to registration order."""
    last: dict[str, int] = {}
    for rnd, path in _round_files(evidence_dir):
        for name, row in json.loads(path.read_text()).items():
            if row.get("err") is None and all(row.get(k) for k in _GREEN_FLAGS):
                last[name] = max(last.get(name, 0), rnd)
    return last


def read_ledger(path: Path = LEDGER_PATH) -> dict:
    """``{"sf_dir": ..., "queries": {name: {"fingerprint": 16 hex,
    "changed_round": N}}}``; no rows when the file is missing."""
    if not path.exists():
        return {"sf_dir": None, "queries": {}}
    return json.loads(path.read_text())


def ledger_rows(old: dict, fingerprints: dict[str, str], next_round: int) -> dict:
    """Ledger rows for freshly computed ``fingerprints``: a query whose
    fingerprint equals its ``old`` row keeps that row; a changed or new
    one records ``next_round`` as the round its plan changed in."""
    return {
        name: old[name]
        if old.get(name, {}).get("fingerprint") == fp
        else {"fingerprint": fp, "changed_round": next_round}
        for name, fp in fingerprints.items()
    }


_VERIFIED = driver_verified_rounds()
_CHANGED = {n: r["changed_round"] for n, r in read_ledger()["queries"].items()}


def _last_verified_round(name: str) -> int:
    """Most recent driver round whose CORRECTNESS file holds a green row
    for this query name, or 0 if never driver-checked."""
    return _VERIFIED.get(name, 0)


def staleness(verified: int, changed: int) -> int:
    """Rotation key, least-recently-verified first: 0 for a query never
    driver-checked, 1 for one whose plan changed after its last green
    check (its evidence is stale), else 2 + that round, oldest first.
    Without a ledger every ``changed`` reads 0: the order is age-only."""
    if verified == 0:
        return 0
    return 1 if changed > verified else 2 + verified


def _staleness(q: QuerySpec) -> int:
    return staleness(_last_verified_round(q.name), _CHANGED.get(q.name, 0))


QUERIES: list[QuerySpec] = sorted(_ALL_SPECS, key=_staleness)

_names = [q.name for q in QUERIES]
assert len(_names) == len(set(_names)), "duplicate query names in registry"


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.spark for q in QUERIES}


def oracle_sql_map() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES if q.oracle is not None}


def refresh_ledger(
    spark: SparkSession,
    names: set[str] | None = None,
    path: Path = LEDGER_PATH,
) -> dict[str, int]:
    """Rebuild the named queries (default: all) at ``LEDGER_SF_DIR``,
    fingerprint each (``probes.plan_fingerprint``) and rewrite the
    ledger by ``ledger_rows``, a changed plan taking the newest
    CORRECTNESS round + 1. Unnamed rows are kept; a full refresh drops
    rows of queries no longer registered. Returns the rows that changed
    as ``{name: changed_round}``."""
    old = read_ledger(path)["queries"]
    fingerprints = {}
    for q in QUERIES:
        if names is None or q.name in names:
            with released(spark) as scope:
                fp = plan_fingerprint(q.spark(spark, LEDGER_SF_DIR), scope)
            fingerprints[q.name] = fp
    newest = max((rnd for rnd, _ in _round_files(_EVIDENCE_DIR)), default=0)
    rows = ledger_rows(old, fingerprints, newest + 1)
    kept = {} if names is None else old
    ledger = {"sf_dir": LEDGER_SF_DIR, "queries": dict(sorted({**kept, **rows}.items()))}
    path.write_text(json.dumps(ledger, indent=1) + "\n")
    return {n: r["changed_round"] for n, r in rows.items() if old.get(n) != r}
