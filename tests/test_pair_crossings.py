"""Spark-free tests of the J3 crossing-pairing kernel (plans/match.pair_crossings).

The batch kernel feeds it per-trace runs cut at Arrow-batch boundaries and
the streaming kernel feeds it one micro-batch at a time, both carrying the
returned state into the next call — so a trace fed in pieces must emit
exactly what it emits fed whole.
"""

from __future__ import annotations

import random

import pytest

from traffic_engine_spark.config import MAX_SPEED
from traffic_engine_spark.functions.ids import tripline_id_py
from traffic_engine_spark.plans.match import pair_crossings

NEW_TRACE = ([], -1, 0)
A, B = 1 << 59 | 12345, 1 << 59 | 67890  # 60-bit ids, as the network builds them


def _run(rows, state=NEW_TRACE):
    """rows of (time, segment_id, tripline_index, dist) → (samples, state)."""
    out = ([], [], [], [], [], [])
    cols = [list(c) for c in zip(*rows)] if rows else [[], [], [], []]
    state = pair_crossings(*cols, state, out)
    return list(zip(*out)), state


def test_pairs_entry_and_exit_of_one_segment():
    samples, (pending, last_seg, last_time) = _run([(0, A, 1, 20.0), (5000, A, 2, 80.0)])
    # (segment_id, time, speed, end_time, prev_seg, prev_time)
    assert samples == [(A, 0, 60.0 / 5, 5000, -1, 0)]
    assert pending == [] and (last_seg, last_time) == (A, 0)


def test_second_sample_carries_the_first_as_prev():
    samples, _ = _run([(0, A, 1, 20.0), (5000, A, 2, 80.0),
                       (7000, B, 1, 20.0), (17000, B, 2, 220.0)])
    assert samples[1] == (B, 7000, 20.0, 17000, A, 0)


@pytest.mark.parametrize("rows", [
    [(0, A, 1, 20.0), (900, A, 2, 80.0)],    # dt_s == 0 (floor seconds)
    [(0, A, 1, 20.0), (1000, A, 2, 80.0)],   # 60 m/s > MAX_SPEED
    [(0, A, 1, 20.0), (5000, B, 2, 80.0)],   # exit of another segment
    [(0, A, 2, 80.0), (5000, A, 1, 20.0)],   # wrong direction: exit first
])
def test_rejected_pairs_emit_nothing(rows):
    assert 60.0 / 1 > MAX_SPEED
    assert _run(rows)[0] == []


def test_earliest_pending_wins_and_completion_clears_pending():
    rows = [(0, A, 1, 20.0), (1000, B, 1, 20.0), (2000, A, 1, 20.0), (9000, A, 2, 80.0)]
    samples, (pending, _, _) = _run(rows)
    assert samples == [(A, 0, 60.0 / 9, 9000, -1, 0)]
    assert pending == []  # B's pending entry went with the completion
    # a completed trace then pairs B afresh only from a new entry crossing
    samples, _ = _run(rows + [(12000, B, 2, 80.0)])
    assert len(samples) == 1


def test_pending_carries_tripline_id():
    _, (pending, _, _) = _run([(0, A, 1, 20.0)])
    assert pending == [(0, tripline_id_py(A, 1), A, 1, 20.0)]


def _random_trace(rng: random.Random):
    segs = [rng.getrandbits(60) for _ in range(rng.randint(1, 4))]
    length = {s: rng.uniform(80.0, 400.0) for s in segs}
    t = rng.randint(0, 10**12)
    rows = []
    for _ in range(rng.randint(0, 40)):
        # steps below 1 s give dt_s == 0, short steps over long segments
        # exceed MAX_SPEED, and equal times exercise the pending tie-break
        t += rng.choice([0, 0, 300, 999, 1000, 2500, 8000, 20000, 60000])
        s = rng.choice(segs)
        idx = rng.choice([1, 1, 2])  # repeated entry crossings stay pending
        rows.append((t, s, idx, 20.0 if idx == 1 else length[s] - 20.0))
    return rows


@pytest.mark.parametrize("seed", range(8))
def test_split_anywhere_equals_whole(seed):
    rng = random.Random(seed)
    n_samples = 0
    for _ in range(50):
        rows = _random_trace(rng)
        whole, whole_state = _run(rows)
        n_samples += len(whole)
        for k in range(len(rows) + 1):
            head, state = _run(rows[:k])
            tail, state = _run(rows[k:], state)
            assert head + tail == whole
            assert state == whole_state
        # and several pieces, as tiny Arrow batches or micro-batches cut it
        cuts = sorted(rng.sample(range(len(rows) + 1), min(4, len(rows) + 1)))
        got, state = [], NEW_TRACE
        for lo, hi in zip([0, *cuts], [*cuts, len(rows)]):
            part, state = _run(rows[lo:hi], state)
            got += part
        assert got == whole and state == whole_state
    assert n_samples > 0, "draws emitted no samples — not exercising the pairing"
    assert NEW_TRACE == ([], -1, 0)  # the caller's state is never mutated
