"""Output checks and the percentile rule the benchmark reports by.

Pure functions over plain Python/NumPy values, so they are tested
without Spark (perfbench/tests).
"""

from __future__ import annotations

import math
import statistics
from collections import Counter
from collections.abc import Iterable
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

MIN_BEYOND = 10
TAIL_LEVELS = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: Iterable[float], level: float) -> float:
    """Nearest-rank percentile that refuses to answer unless at least
    ``MIN_BEYOND`` samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    idx = max(0, math.ceil(level / 100.0 * n) - 1)
    beyond = n - idx - 1
    if beyond < MIN_BEYOND:
        raise ValueError(
            f"p{level:g} of {n} samples has {beyond} beyond it; "
            f"needs {MIN_BEYOND}"
        )
    return xs[idx]


def tail(values: Iterable[float]) -> tuple[float, float]:
    """(level, value) of the highest ``TAIL_LEVELS`` percentile the
    sample supports; (0, 0) when it supports none."""
    xs = sorted(values)
    for level in TAIL_LEVELS:
        try:
            return level, percentile(xs, level)
        except ValueError:
            continue
    return 0.0, 0.0


def median(values: Iterable[float]) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


def check_ingest(
    expected: Iterable[tuple[str, int]],
    indexed: Iterable[tuple[str, int, bool]],
) -> dict[str, int]:
    """Compare the multiset of indexed (text, created_at ms) with the
    generator's expected documents; each must appear exactly once per
    time it was sent, with the model's vector (``vector_ok``)."""
    want = Counter(expected)
    got: Counter = Counter()
    wrong_vector = 0
    for text, ms, ok in indexed:
        got[(text, ms)] += 1
        if not ok:
            wrong_vector += 1
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    return {
        "expected": sum(want.values()),
        "indexed": sum(got.values()),
        "missing": missing,
        "extra": extra,
        "wrong_vector": wrong_vector,
        "failed": missing + extra + wrong_vector,
    }


def round6(x: float) -> float:
    """Spark's ``round(x, 6)`` on a double: HALF_UP on the decimal form."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def reference_topk(
    corpus_ids: list[int],
    corpus: np.ndarray,
    queries: np.ndarray,
    k: int,
) -> list[list[tuple[int, float]]]:
    """Brute-force cosine top-k per query row: sim rounded to 6 dp
    descending, then id ascending (the program's tie rule). The fake
    model's coordinates are multiples of 1/128, so every dot product
    and squared norm here is exact in float64, as it is in Spark."""
    c = corpus.astype(np.float64)
    q = queries.astype(np.float64)
    c_norm = np.sqrt((c * c).sum(axis=1))
    out = []
    for qi in range(q.shape[0]):
        dots = c @ q[qi]
        q_norm = math.sqrt(float((q[qi] * q[qi]).sum()))
        sims = [
            round6(d / (cn * q_norm)) for d, cn in zip(dots.tolist(), c_norm.tolist())
        ]
        order = sorted(range(len(corpus_ids)), key=lambda j: (-sims[j], corpus_ids[j]))
        out.append([(corpus_ids[j], sims[j]) for j in order[:k]])
    return out


def check_topk(
    got: list[tuple[int, float]],
    want: list[tuple[int, float]],
    sim_tol: float = 1.5e-6,
) -> bool:
    """Same ids in the same order; sims equal up to one 6-dp rounding
    step (the JVM's and Python's decimal forms of a double can differ
    in the last digit)."""
    if [i for i, _ in got] != [i for i, _ in want]:
        return False
    return all(abs(a - b) <= sim_tol for (_, a), (_, b) in zip(got, want))
