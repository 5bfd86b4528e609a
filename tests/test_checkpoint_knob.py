"""Reliable-checkpoint knob for the iterative trainers (VERDICT r10 #3).

``share(df, "checkpoint")`` defaults to ``localCheckpoint`` (right for
local[n]; lineage severed, unrecoverable after an executor loss) and
switches to a reliable ``checkpoint(dir)`` when the session sets
``spark.graft.checkpointDir`` — the form a long training job needs on
a real cluster. The contract under test: BOTH paths emit identical
results (pinning only changes where the materialized partitions live),
and the reliable path genuinely writes to the configured directory.
"""

from __future__ import annotations

import os

import pytest

from ai_powered_e_commerce_analytics_spark.functions.core import (
    RELIABLE_CHECKPOINT_CONF,
    release,
    share,
)
from ai_powered_e_commerce_analytics_spark.plans.pretrain import (
    bpe_merges_topn,
)
from ai_powered_e_commerce_analytics_spark.plans.textops import (
    dedup_components,
)

from conftest import SF_DIR


def _rdd_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out.extend(os.path.join(dirpath, f) for f in files)
    return out


@pytest.fixture
def reliable_dir(spark, tmp_path):
    """Arm the knob for one test and ALWAYS disarm it after — the
    session is shared across the suite and a leaked conf would silently
    flip every later iterative test onto the disk path."""
    d = str(tmp_path / "ckpt")
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, d)
    try:
        yield d
    finally:
        spark.conf.unset(RELIABLE_CHECKPOINT_CONF)


def test_bpe_merges_identical_through_reliable_path(spark, reliable_dir):
    # local-path anchor first, computed WITHOUT the knob (the fixture
    # already armed it, so unset around the anchor run)
    spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
    local_rows = sorted(
        tuple(r) for r in bpe_merges_topn(spark, SF_DIR).collect()
    )
    assert local_rows, "anchor run must produce merges"
    assert not _rdd_files(reliable_dir) if os.path.isdir(reliable_dir) else True

    spark.conf.set(RELIABLE_CHECKPOINT_CONF, reliable_dir)
    reliable_rows = sorted(
        tuple(r) for r in bpe_merges_topn(spark, SF_DIR).collect()
    )
    assert reliable_rows == local_rows
    # the reliable path must have actually engaged: checkpoint files
    # exist under the configured directory
    assert _rdd_files(reliable_dir), "no checkpoint files written"


def test_cc_labels_identical_through_reliable_path(spark, reliable_dir):
    spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
    local_rows = sorted(
        tuple(r) for r in dedup_components(spark, SF_DIR).collect()
    )
    spark.conf.set(RELIABLE_CHECKPOINT_CONF, reliable_dir)
    reliable_rows = sorted(
        tuple(r) for r in dedup_components(spark, SF_DIR).collect()
    )
    assert reliable_rows == local_rows
    assert _rdd_files(reliable_dir), "no checkpoint files written"


def test_pin_default_is_local(spark):
    # no conf set -> localCheckpoint semantics (no checkpoint dir needed)
    df = share(spark.range(5), "checkpoint")
    assert df.count() == 5


def test_semdedup_identical_through_reliable_path(spark, reliable_dir):
    """r12 (VERDICT r11 #5): semantic_dedup_semdedup's assignment
    materialization was a bare ``localCheckpoint`` — unrecoverable on a
    real cluster during the downstream pair join. Now routed through
    ``share``: the knob must cover it, results identical."""
    from ai_powered_e_commerce_analytics_spark.plans.simsearch import (
        semantic_dedup_semdedup,
    )

    spark.conf.unset(RELIABLE_CHECKPOINT_CONF)
    local_rows = sorted(
        tuple(r) for r in semantic_dedup_semdedup(spark, SF_DIR).collect()
    )
    assert local_rows

    spark.conf.set(RELIABLE_CHECKPOINT_CONF, reliable_dir)
    reliable_rows = sorted(
        tuple(r) for r in semantic_dedup_semdedup(spark, SF_DIR).collect()
    )
    assert reliable_rows == local_rows
    assert _rdd_files(reliable_dir), "no checkpoint files written"


def test_no_bare_localcheckpoint_outside_pin():
    """Every materialization and release flows through the sharing seam
    (``share`` / ``release`` / ``released`` in functions/core.py), so
    ``spark.graft.checkpointDir`` covers every checkpoint and a scope
    frees every share (VERDICT r11 #5). Tokenize the package (comments
    and strings dropped) and assert that no ``.persist(``, ``.cache(``,
    ``.checkpoint(``, ``.localCheckpoint(`` or ``.unpersist(`` call and
    no ``getPersistentRDDs`` appears in CODE outside that module."""
    import io
    import pathlib
    import tokenize

    import ai_powered_e_commerce_analytics_spark as pkg

    calls = {"persist", "cache", "checkpoint", "localCheckpoint", "unpersist"}
    root = pathlib.Path(pkg.__file__).parent
    offenders = []
    for py in root.rglob("*.py"):
        if py.relative_to(root).as_posix() == "functions/core.py":
            continue
        toks = [
            tok.string
            for tok in tokenize.generate_tokens(
                io.StringIO(py.read_text()).readline
            )
            if tok.type in (tokenize.NAME, tokenize.OP)
        ]
        for k, name in enumerate(toks):
            if name == "getPersistentRDDs" or (
                name in calls
                and toks[k - 1] == "."
                and toks[k + 1 : k + 2] == ["("]
            ):
                offenders.append(f"{py.relative_to(root)}: {name}")
    assert not offenders, f"materialization outside the seam: {offenders}"


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_release_frees_a_checkpoint_share(spark):
    # unpersist() is a no-op on a checkpointed frame (it is not in the
    # CacheManager); release() must free the RDD behind its root
    before = _persisted(spark)
    df = share(spark.range(5), "checkpoint")
    assert len(_persisted(spark) - before) == 1
    release(df)
    assert _persisted(spark) == before


def test_bpe_merges_leave_no_checkpoints(spark):
    # every superseded training round and the final state are freed
    before = _persisted(spark)
    assert bpe_merges_topn(spark, SF_DIR).count() > 0
    assert _persisted(spark) == before
