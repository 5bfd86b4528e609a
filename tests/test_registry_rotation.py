"""Driver-rotation invariants (pure Python — no SparkSession needed).

The external driver oracle-checks the FIRST 50 registry entries each
round, so the ordering IS the evidence-freshness policy. Verification
history is derived from the committed ``CORRECTNESS_r*.json`` files;
the rotation is plan-aware via ``QuerySpec.touched_round`` (VERDICT r7
finding #1: age-only staleness let plan rewrites coast on old green
rows).
"""

from __future__ import annotations

import json
from pathlib import Path

from ai_powered_e_commerce_analytics_spark.plans import registry

WINDOW = 50
REPO_ROOT = Path(__file__).resolve().parents[1]


def test_registry_names_unique_and_complete():
    names = [q.name for q in registry.QUERIES]
    assert len(names) == len(set(names))
    assert len(names) >= 150


def _green_rounds_by_name(evidence_dir: Path) -> dict[str, set[int]]:
    """Independent parse of the driver's CORRECTNESS files."""
    rounds: dict[str, set[int]] = {}
    for path in sorted(evidence_dir.glob("CORRECTNESS_r*.json")):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name, row in json.loads(path.read_text()).items():
            green = (
                row["err"] is None
                and row["rows_match"] is True
                and row["schema_match"] is True
                and row["hash_match"] is True
            )
            if green:
                rounds.setdefault(name, set()).add(rnd)
    return rounds


def test_last_verified_round_is_true_maximum():
    """``_last_verified_round`` is the NEWEST round whose committed
    CORRECTNESS file holds a green row for the query, or 0."""
    rounds = _green_rounds_by_name(REPO_ROOT)
    assert len({r for rs in rounds.values() for r in rs}) >= 16
    names = {q.name for q in registry.QUERIES}
    # every verified name still exists in the registry
    assert set(rounds) <= names
    for n in names:
        assert registry._last_verified_round(n) == max(
            rounds.get(n, {0})
        ), n
    # never-checked queries (new additions plus any fixed-after-error
    # re-entries) all sit at the head of the rotation
    never = names - set(rounds)
    head = {q.name for q in registry.QUERIES[: len(never)]}
    assert never == head or not never


def test_driver_verified_rounds_from_synthetic_evidence(tmp_path):
    """Newest green round wins, an errored or mismatched row credits
    nothing, and an unknown query (or an empty directory) reads 0."""
    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "err": None,
    }
    files = {
        1: {"a": green, "b": green, "c": green},
        2: {"a": green, "b": {**green, "err": "boom"}},
        3: {"b": {**green, "hash_match": False}, "c": green},
        # not a round file: must be ignored
        "3_c8": {"a": green},
    }
    for rnd, rows in files.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    (tmp_path / "CORRECTNESS_r10.json").write_text(
        json.dumps({"c": {**green, "rows_match": False}})
    )
    got = registry.driver_verified_rounds(tmp_path)
    assert got == {"a": 2, "b": 1, "c": 3}
    assert registry._last_verified_round("no_such_query") == 0
    assert registry.driver_verified_rounds(tmp_path / "empty") == {}


def test_plan_touched_queries_lead_next_window():
    """Any query rewritten after its last driver check must re-enter the
    upcoming 50-query window — stale green evidence is not evidence."""
    window = {q.name for q in registry.QUERIES[:WINDOW]}
    for q in registry.QUERIES:
        if q.touched_round > registry._last_verified_round(q.name) > 0:
            assert q.name in window, (
                f"{q.name} was plan-touched in round {q.touched_round} "
                f"but is outside the driver window"
            )


def test_window_orders_by_staleness():
    keys = [registry._staleness(q) for q in registry.QUERIES]
    assert keys == sorted(keys)


def test_window_composition_and_band_structure():
    """The derived rotation after the round-16 evidence: the upcoming
    window is led by the 36 queries whose plans round 16 changed and
    its driver window did not re-check, then filled from the oldest
    (r12) band. Four r16-touched queries were green in r16 itself and
    correctly stay out of the head."""
    from collections import Counter

    names = [q.name for q in registry.QUERIES]
    assert len(names) == 196
    assert Counter(registry._last_verified_round(n) for n in names) == {
        16: 50, 14: 50, 13: 46, 12: 50,
    }
    touched = [
        q.name for q in registry.QUERIES
        if q.touched_round == 16 and registry._last_verified_round(q.name) < 16
    ]
    assert len(touched) == 36
    window = names[:WINDOW]
    assert window[:36] == touched
    assert all(registry._last_verified_round(n) == 12 for n in window[36:])
    for n in (
        "events_dwell_percentiles",
        "part_price_size_date_skyline",
        "retrieval_rank_overlap_rbo",
        "weighted_sample_allocated",
    ):
        assert registry._last_verified_round(n) == 16
        assert n not in window
