"""Driver-rotation invariants (pure Python but for one fingerprint test).

The external driver oracle-checks the FIRST 50 registry entries each
round, so the ordering IS the evidence-freshness policy. Verification
history is derived from the committed ``CORRECTNESS_r*.json`` files,
and the round each plan last changed in from the generated
``PLAN_LEDGER.json`` (VERDICT r7 finding #1: age-only staleness let plan
rewrites coast on old green rows).
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


def test_ledger_rows_keep_unchanged_and_bump_changed(tmp_path):
    """An unchanged fingerprint keeps its row's round; a changed or new
    one records the newest CORRECTNESS round + 1."""
    for rnd in (3, 12):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text("{}")
    (tmp_path / "CORRECTNESS_r12_c8.json").write_text("{}")
    newest = max(rnd for rnd, _ in registry._round_files(tmp_path))
    old = {
        "same": {"fingerprint": "aa", "changed_round": 5},
        "edited": {"fingerprint": "bb", "changed_round": 9},
        "gone": {"fingerprint": "cc", "changed_round": 2},
    }
    got = registry.ledger_rows(
        old, {"same": "aa", "edited": "b2", "new": "dd"}, newest + 1
    )
    assert got == {
        "same": {"fingerprint": "aa", "changed_round": 5},
        "edited": {"fingerprint": "b2", "changed_round": 13},
        "new": {"fingerprint": "dd", "changed_round": 13},
    }


def test_rotation_from_synthetic_ledger_and_evidence(tmp_path):
    """A query whose plan changed after its last green round leads the
    ones verified since; with no ledger the order is age-only."""
    green = {
        "rows_match": True, "schema_match": True, "hash_match": True,
        "err": None,
    }
    (tmp_path / "CORRECTNESS_r1.json").write_text(
        json.dumps({"old": green, "edited": green})
    )
    (tmp_path / "CORRECTNESS_r2.json").write_text(
        json.dumps({"fresh": green, "edited": green})
    )
    ledger = tmp_path / "PLAN_LEDGER.json"
    ledger.write_text(json.dumps({"sf_dir": "x", "queries": {
        "edited": {"fingerprint": "aa", "changed_round": 3},
        "fresh": {"fingerprint": "bb", "changed_round": 2},
        "old": {"fingerprint": "cc", "changed_round": 0},
    }}))
    verified = registry.driver_verified_rounds(tmp_path)

    def order(ledger_path):
        changed = {
            n: r["changed_round"]
            for n, r in registry.read_ledger(ledger_path)["queries"].items()
        }
        return sorted(
            ["fresh", "edited", "old", "never"],
            key=lambda n: registry.staleness(
                verified.get(n, 0), changed.get(n, 0)
            ),
        )

    assert order(ledger) == ["never", "edited", "old", "fresh"]
    assert registry.read_ledger(tmp_path / "missing.json")["queries"] == {}
    assert order(tmp_path / "missing.json") == [
        "never", "old", "fresh", "edited",
    ]


def test_fingerprint_sees_below_checkpoint_not_python_structure(spark):
    """A filter constant edited BELOW a checkpoint share changes the
    fingerprint, though the returned plan starts at the checkpoint's
    LogicalRDD either way; the same frame built through differently
    structured Python does not. A nested scope hands its checkpointed
    plans to the enclosing one."""
    from pyspark.sql import functions as F

    from ai_powered_e_commerce_analytics_spark.functions.core import (
        Scope,
        released,
        share,
    )
    from ai_powered_e_commerce_analytics_spark.plans.probes import (
        plan_fingerprint,
    )
    from ai_powered_e_commerce_analytics_spark.plans.spec import t

    from conftest import SF_DIR

    def inline(min_price):
        with released(spark) as scope:
            big = share(
                t(spark, SF_DIR, "orders")
                .where(F.col("o_totalprice") > min_price)
                .select("o_custkey", "o_totalprice"),
                "checkpoint",
            )
            out = big.groupBy("o_custkey").agg(
                F.sum("o_totalprice").alias("spend")
            )
            return plan_fingerprint(out, scope), plan_fingerprint(out, Scope())

    def composed(min_price):
        cols = ["o_custkey", "o_totalprice"]

        def expensive(df):
            return df.where(F.col("o_totalprice") > min_price).select(*cols)

        def per_customer(df):
            return df.groupBy(cols[0]).agg(F.sum(cols[1]).alias("spend"))

        with released(spark) as outer:
            with released(spark):
                big = share(expensive(t(spark, SF_DIR, "orders")), "checkpoint")
            assert len(outer.checkpointed) == 1
            return plan_fingerprint(per_customer(big), outer)

    fp, returned_only = inline(1000.0)
    edited, edited_returned_only = inline(2000.0)
    assert fp != edited
    assert returned_only == edited_returned_only
    assert composed(1000.0) == fp


def test_plan_touched_queries_lead_next_window():
    """Any query whose plan changed after its last driver check must
    re-enter the upcoming 50-query window — stale green evidence is not
    evidence."""
    window = {q.name for q in registry.QUERIES[:WINDOW]}
    for q in registry.QUERIES:
        changed = registry._CHANGED.get(q.name, 0)
        if changed > registry._last_verified_round(q.name) > 0:
            assert q.name in window, (
                f"{q.name}'s plan changed in round {changed} "
                f"but is outside the driver window"
            )


def test_ledger_has_one_row_per_query():
    ledger = registry.read_ledger()
    assert ledger["sf_dir"] == registry.LEDGER_SF_DIR
    assert set(ledger["queries"]) == {q.name for q in registry.QUERIES}


def test_window_orders_by_staleness():
    keys = [registry._staleness(q) for q in registry.QUERIES]
    assert keys == sorted(keys)


def test_window_composition_and_band_structure():
    """The derived rotation after the round-16 evidence: the upcoming
    window is led by the 36 queries whose plans round 16 changed (per
    PLAN_LEDGER.json) and its driver window did not re-check, then
    filled from the oldest (r12) band. Four r16-changed queries were
    green in r16 itself and correctly stay out of the head."""
    from collections import Counter

    names = [q.name for q in registry.QUERIES]
    assert len(names) == 196
    assert Counter(registry._last_verified_round(n) for n in names) == {
        16: 50, 14: 50, 13: 46, 12: 50,
    }
    changed = [
        n for n in names
        if registry._CHANGED.get(n, 0) == 16
        and registry._last_verified_round(n) < 16
    ]
    assert len(changed) == 36
    window = names[:WINDOW]
    assert window[:36] == changed
    assert all(registry._last_verified_round(n) == 12 for n in window[36:])
    for n in (
        "events_dwell_percentiles",
        "part_price_size_date_skyline",
        "retrieval_rank_overlap_rbo",
        "weighted_sample_allocated",
    ):
        assert registry._last_verified_round(n) == 16
        assert n not in window
