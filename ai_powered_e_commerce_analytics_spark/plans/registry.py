"""Assembled correctness-query registry (driver contract surface).

The driver oracle-checks the first 50 entries of ``QUERIES`` each round,
so the registry order is the evidence-rotation policy. Each query's
last-verified round is derived from the driver's ``CORRECTNESS_r*.json``
files at the repo root (see ``driver_verified_rounds``): a new round's
file enters the rotation with no edit here. ``QuerySpec.touched_round``
is still bumped by hand when a query's plan changes, until a generated
plan-fingerprint ledger can derive it too.
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


def driver_verified_rounds(evidence_dir: Path = _EVIDENCE_DIR) -> dict[str, int]:
    """Query name -> newest driver round with a green row for it.

    Reads every ``CORRECTNESS_r{N}.json`` in ``evidence_dir``. A row is
    green when its ``err`` is null and rows, schema and hash all match;
    an errored or mismatched row credits nothing. With no CORRECTNESS
    file present every query reads as never checked (round 0), so the
    rotation falls back to registration order."""
    last: dict[str, int] = {}
    for path in evidence_dir.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if row.get("err") is None and all(row.get(k) for k in _GREEN_FLAGS):
                last[name] = max(last.get(name, 0), rnd)
    return last


_VERIFIED = driver_verified_rounds()


def _last_verified_round(name: str) -> int:
    """Most recent driver round whose CORRECTNESS file holds a green row
    for this query name, or 0 if never driver-checked."""
    return _VERIFIED.get(name, 0)


# Order matters: the external driver verifies the FIRST 50 entries against
# the DuckDB oracle each round, least-recently-verified first. The
# ordering is PLAN-AWARE (VERDICT r7 finding #1): a query whose
# implementation was materially rewritten AFTER its last driver check
# (QuerySpec.touched_round > last verified round) carries stale
# evidence, so it jumps the queue alongside never-checked additions
# instead of coasting on a pre-rewrite green row. Partition order:
#
#   1. never driver-checked (new additions)           -> key 0
#   2. plan touched since last driver verification    -> key 1
#   3. by last-verified round ascending (oldest first) -> key 2 + round
#
# touched_round EXEMPTION RULE (VERDICT r12 finding #2): a wrapper or
# shared-helper sweep that is PROVEN plan-identical — the query's
# AUDIT.json row (physical-plan feature counts) is unchanged before and
# after the edit, and the executed plan is bit-identical under the
# driver's configuration — is exempt from the "shared-helper rewrites
# count" rule and need not bump touched_round. Anything short of that
# proof (reasoning alone, "should be identical") must bump it. The r12
# pin() routing sweep (semdedup, BPE vocab frame, graph loops) used
# this exemption: pin() is the identity transformation when
# spark.graft.checkpointDir is unset, which is the driver's
# configuration, and the AUDIT rows were regenerated unchanged.
def _staleness(q: QuerySpec) -> float:
    verified = _last_verified_round(q.name)
    if verified == 0:
        return 0
    if q.touched_round > verified:
        return 1
    return 2 + verified


QUERIES: list[QuerySpec] = sorted(_ALL_SPECS, key=_staleness)

_names = [q.name for q in QUERIES]
assert len(_names) == len(set(_names)), "duplicate query names in registry"


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {q.name: q.spark for q in QUERIES}


def oracle_sql_map() -> dict[str, str]:
    return {q.name: q.oracle for q in QUERIES if q.oracle is not None}
