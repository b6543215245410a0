"""Tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import zlib

import pytest

import gen
import oracle
import stats
from gen import Event


def _digest(inputs: gen.Inputs) -> str:
    h = hashlib.sha256()
    h.update(repr(inputs.at_rows).encode())
    h.update(repr(inputs.card_rows).encode())
    for f in inputs.all_files():
        h.update(f.name.encode())
        h.update(f.data)
    return h.hexdigest()


def _small(seed: int, skew: str = "uniform") -> gen.Inputs:
    return gen.generate(seed, 500, 50, skew, 3, 100, 20, 10)


@pytest.mark.parametrize("skew", ["uniform", "recent"])
def test_generator_is_byte_identical_per_seed(skew):
    assert _digest(_small(7, skew)) == _digest(_small(7, skew))


@pytest.mark.parametrize("skew", ["uniform", "recent"])
def test_generator_differs_across_seeds(skew):
    assert _digest(_small(7, skew)) != _digest(_small(8, skew))


def test_generator_offsets_are_consecutive_and_keys_valid():
    inputs = _small(3, "recent")
    events = [e for f in inputs.all_files() for e in f.events]
    assert [e.offset for e in events] == list(range(1, len(events) + 1))
    live = {r[0] for r in inputs.at_rows}
    for e in events:
        if e.op == "c":
            assert e.key not in live
            live.add(e.key)
        else:
            assert e.key in live and e.before[0] == e.key
            if e.op == "d":
                live.remove(e.key)


def _row(i: int, version: int, amount: int = 100) -> tuple:
    return (i, version, 1, 1, "2026-01-01", amount, "2026-01-01 00:00:07",
            False, True, amount, "PURCHASE", f"REF{i}")


def _state(rep: oracle.Replay) -> dict:
    return {k: (row[1], off) for k, (row, off) in rep.live.items()}


def test_replay_orders_by_offset_within_a_batch():
    snap = [_row(1, 1)]
    batch = [Event(3, "u", 1, _row(1, 2), _row(1, 3)),
             Event(2, "u", 1, _row(1, 1), _row(1, 2))]
    assert _state(oracle.replay(snap, batch)) == {1: (3, 3)}


def test_replay_delete_then_recreate():
    snap = [_row(1, 1)]
    events = [Event(1, "d", 1, _row(1, 1), None),
              Event(2, "c", 1, None, _row(1, 5))]
    assert _state(oracle.replay(snap, events)) == {1: (5, 2)}
    assert _state(oracle.replay(snap, events[:1])) == {}


def test_replay_stale_upsert_does_not_resurrect_a_delete():
    snap = [_row(1, 1)]
    events = [Event(4, "d", 1, _row(1, 2), None),
              Event(3, "u", 1, _row(1, 1), _row(1, 2))]
    assert _state(oracle.replay(snap, events)) == {}


def test_replay_of_a_replayed_file_changes_nothing():
    inputs = _small(5)
    events = [e for f in inputs.all_files() for e in f.events]
    once = oracle.replay(inputs.at_rows, events)
    twice = oracle.replay(inputs.at_rows, events + inputs.live[2].events)
    assert once.live == twice.live
    assert oracle.checksum(once.rows()) == oracle.checksum(twice.rows())


def test_replay_upto_is_a_prefix():
    inputs = _small(5)
    events = [e for f in inputs.all_files() for e in f.events]
    cut = inputs.backlog[-1].last_offset
    assert (oracle.replay(inputs.at_rows, events, upto=cut).live
            == oracle.replay(inputs.at_rows, [e for e in events if e.offset <= cut]).live)


def test_checksum_is_order_independent_and_formats_like_spark():
    rows = [(*_row(1, 1, 1234), -1), (*_row(2, 1, 5), 7)]
    assert oracle.checksum(rows) == oracle.checksum(rows[::-1])
    assert oracle.row_string(rows[1]) == (
        "2|1|1|1|2026-01-01|0.05|2026-01-01 00:00:07|false|true|0.05|PURCHASE|REF2|7")
    assert oracle.checksum(rows[:1]) == (1, zlib.crc32(oracle.row_string(rows[0]).encode()))


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 100))  # 99 samples: p90 has only 9 beyond it
    assert stats.percentile(xs, 0.9) is None
    xs = list(range(1, 101))  # 100 samples: p90 = 90, with 10 beyond it
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile(list(range(19)), 0.5) is None
    assert stats.percentile(list(range(20)), 0.5) == 9
    assert stats.percentile([], 0.5) is None
    with pytest.raises(ValueError):
        stats.percentile(xs, 1.0)


def test_median_is_reported_for_any_sample():
    assert stats.median([3.0]) == 3.0
    assert stats.median([]) is None
