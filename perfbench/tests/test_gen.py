"""The generators are pure functions of the seed: same seed, same bytes."""

import hashlib
import os

from perfbench import gen


def _digest(d: str) -> dict[str, str]:
    return {
        os.path.relpath(os.path.join(r, f), d): hashlib.sha256(
            open(os.path.join(r, f), "rb").read()
        ).hexdigest()
        for r, _, fs in os.walk(d)
        for f in fs
    }


def _write_all(d: str, seed: int) -> dict[str, str]:
    gen.write_tables(os.path.join(d, "tables"), seed, 0.001)
    gen.write_bronze_round(os.path.join(d, "bronze"), seed, 0, 263, 3)
    gen.write_event_split(
        os.path.join(d, "tables", "events.parquet"), os.path.join(d, "split"), 4
    )
    return _digest(d)


def test_same_seed_same_bytes(tmp_path):
    a = _write_all(str(tmp_path / "a"), 11)
    b = _write_all(str(tmp_path / "b"), 11)
    assert a == b
    assert len(a) == 10 + 3 + 4


def test_other_seed_other_bytes(tmp_path):
    a = _write_all(str(tmp_path / "a"), 11)
    b = _write_all(str(tmp_path / "b"), 12)
    assert a.keys() != b.keys() or a != b
    assert a["tables/lineitem.parquet"] != b["tables/lineitem.parquet"]


def test_rounds_share_keys_and_batch_tails():
    r0, r1 = gen.bronze_rows(5, 0, 2000), gen.bronze_rows(5, 1, 2000)
    users0, users1 = {r["id"] for r in r0}, {r["id"] for r in r1}
    assert len(users0 & users1) == 1000
    assert len({r["shop_id"] for r in r0} & {r["shop_id"] for r in r1}) == 1000
    assert {r["date"] for r in r0} & {r["date"] for r in r1}


def test_event_split_is_time_ordered(tmp_path):
    import pyarrow.parquet as pq

    gen.write_tables(str(tmp_path), 3, 0.001)
    paths = gen.write_event_split(str(tmp_path / "events.parquet"), str(tmp_path / "s"), 5)
    last = None
    for p in paths:
        ts = pq.read_table(p)["ts"].to_pylist()
        assert ts == sorted(ts)
        if last is not None:
            assert ts[0] >= last
        last = ts[-1]
