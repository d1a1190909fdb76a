"""The benchmark's own tests: the percentile rule, the output checker and
the open-loop generator. No Spark needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import os
import sys
import time

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import check, gen, model  # noqa: E402
from perfbench.env import Env, Environment, Receipts  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    with pytest.raises(ValueError):
        check.percentile(range(100), 99)  # one sample beyond p99
    with pytest.raises(ValueError):
        check.percentile(range(19), 50)
    assert check.percentile(range(1000), 99) == 989
    assert check.percentile(range(20), 50) == 9


def test_tail_picks_highest_supported_level():
    assert check.tail(range(1000)) == (99.0, 989)
    assert check.tail(range(30)) == (50.0, 14)
    assert check.tail(range(5)) == (0.0, 0.0)


def _docs(n):
    return [(f"doc-{i} some words", 1_700_000_000_000 + i) for i in range(n)]


def test_checker_accepts_exact_output():
    want = _docs(5) + [_docs(1)[0]]  # one document sent twice
    got = [(t, ms, True) for t, ms in want]
    assert check.check_ingest(want, reversed(got))["failed"] == 0


def test_checker_catches_dropped_doc():
    want = _docs(5)
    got = [(t, ms, True) for t, ms in want[1:]]
    verdict = check.check_ingest(want, got)
    assert verdict["missing"] == 1 and verdict["failed"] == 1


def test_checker_catches_duplicated_doc():
    want = _docs(5)
    got = [(t, ms, True) for t, ms in want + want[:1]]
    verdict = check.check_ingest(want, got)
    assert verdict["extra"] == 1 and verdict["failed"] == 1


def test_checker_catches_wrong_vector():
    text = "doc-1 some words"
    good = [float(x) for x in model.vector(text)]
    bad = list(good)
    bad[7] += 1 / 128
    assert model.vector_matches(text, good)
    assert not model.vector_matches(text, bad)
    assert not model.vector_matches(text, good[:-1])
    receipts = Receipts()
    receipts.append({"text": text, "date": "2024-01-01T00:00:00.001000", "passage_embedding": bad})
    verdict = check.check_ingest(
        [(text, 1704067200001)], ((t, ms, ok) for t, ms, ok, _ in receipts)
    )
    assert verdict["wrong_vector"] == 1 and verdict["missing"] == 0


def test_fake_model_vector_round_trips_through_float32():
    v = model.vector("hello world")
    assert v.dtype == np.float32 and v.shape == (model.DIM,)
    assert np.array_equal(v.astype(np.float64) * 128, np.round(v.astype(np.float64) * 128))


def test_reference_topk_tie_rule():
    base = model.vector("a").astype(np.float64)
    other = model.vector("b").astype(np.float64)
    corpus = np.stack([other, base, base, other])
    ids = [40, 30, 10, 20]
    top = check.reference_topk(ids, corpus, base[None, :], k=3)[0]
    assert [i for i, _ in top] == [10, 30, 20]  # equal sims: id ascending
    assert top[0][1] == 1.0


def test_round6_is_half_up():
    assert check.round6(0.1234565) == 0.123457
    assert check.round6(-0.1234565) == -0.123457


def test_generator_stamps_due_times():
    env = Environment(os.getpid(), timed=False)
    try:
        start = time.time() + 0.05
        n = env.trickle(seed=3, rate=400.0, seconds=0.5, start_at=start)
        env.wait_generator(5.0)
        assert env.records_put == n == 200
        for i, (_, ms) in enumerate(env.expected):
            assert abs(ms - math.floor((start + i / 400.0) * 1000)) <= 1
    finally:
        env.close()


def test_open_loop_generator_keeps_schedule_while_consumer_stalls():
    """Nothing consumes the stream and the driver process hogs its own
    interpreter; the generator, in the environment process, still
    emits every record on time."""
    env = Env(timed=False)
    try:
        env.call("ping")
        start = time.time() + 0.2
        n = env.call("trickle", 5, 1000.0, 1.0, start)
        spin_until = start + 1.1
        x = 0
        while time.time() < spin_until:  # a stalled, GIL-bound consumer
            x += 1
        env.call("wait_generator", 5.0)
        rep = env.call("report")
    finally:
        env.close()
    assert rep["records_put"] == n == 1000
    assert rep["backlog_end_docs"] == 1000  # the stalled consumer read nothing
    assert check.percentile(rep["late_s"], 99) < 0.05
