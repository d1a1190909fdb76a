"""knn_join's two placements of one kernel. A corpus the cache manager
holds, within spark.sql.autoBroadcastJoinThreshold, is scored on the
driver from a pack built once, and a call runs no Spark job beyond
collecting its query side. Any other corpus keeps the mapInArrow plan,
a corpus found uncached loses its pack, and a pack build holds up no
call on another corpus."""

from __future__ import annotations

import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators import (
    similarity,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.similarity import (
    knn_join,
)


def _frames(spark):
    em = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    queries = em.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return queries, em.filter(F.col("vec_id") >= 8).select("vec_id", "embedding")


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn()`` ran, counted in its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _on_map_in_arrow(df) -> bool:
    return not df._jdf.isLocal() and "MapInArrow" in (
        df._jdf.queryExecution().executedPlan().toString()
    )


def test_cached_corpus_runs_no_job_beyond_the_query_side(spark):
    queries, corpus = _frames(spark)
    want = _rows(knn_join(queries, corpus, k=5))
    corpus.cache().count()
    try:
        assert _rows(knn_join(queries, corpus, k=5)) == want  # builds the pack
        assert corpus in similarity._PACKS
        query_side = _jobs(
            spark, "knn-query-side", lambda: queries.select("q_id", "q_vec").toArrow()
        )
        got = []
        request = _jobs(
            spark,
            "knn-request",
            lambda: got.extend(knn_join(queries, corpus, k=5).collect()),
        )
        assert query_side >= 1
        assert request == query_side
        assert sorted(tuple(r) for r in got) == want
    finally:
        corpus.unpersist()


@pytest.mark.parametrize("uncache", ["unpersist", "jvm_uncache"])
def test_uncached_corpus_falls_back_and_drops_the_pack(spark, uncache):
    queries, corpus = _frames(spark)
    corpus.cache().count()
    try:
        want = _rows(knn_join(queries, corpus, k=5))
        key = similarity._PACKS[corpus].key
        if uncache == "unpersist":
            corpus.unpersist()
        else:
            # what spark.catalog.clearCache() does to each cached frame,
            # here to this corpus alone: the session's other caches stay
            spark._jsparkSession.sharedState().cacheManager().uncacheQuery(
                corpus._jdf, False
            )
            assert corpus.is_cached  # the Python flag misses it
        out = knn_join(queries, corpus, k=5)
        assert _on_map_in_arrow(out)
        assert corpus not in similarity._PACKS
        assert _rows(out) == want
        # cached again: a new cache, so a new pack
        corpus.cache().count()
        out = knn_join(queries, corpus, k=5)
        assert out._jdf.isLocal()
        assert similarity._PACKS[corpus].key != key
        assert _rows(out) == want
    finally:
        corpus.unpersist()


def test_threshold_minus_one_keeps_the_map_in_arrow_plan(spark):
    queries, corpus = _frames(spark)
    corpus.cache().count()
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        assert _on_map_in_arrow(knn_join(queries, corpus, k=5))
        spark.conf.set(key, before)
        assert knn_join(queries, corpus, k=5)._jdf.isLocal()
    finally:
        spark.conf.set(key, before)
        corpus.unpersist()


def test_a_threshold_above_the_measured_bound_does_not_widen_it(spark, monkeypatch):
    """The corpus is within the session's broadcast threshold but over
    the driver placement's own byte bound (shrunk here to 1 KB)."""
    queries, corpus = _frames(spark)
    monkeypatch.setattr(similarity, "_DRIVER_MAX_BYTES", 1024)
    corpus.cache().count()
    try:
        assert _on_map_in_arrow(knn_join(queries, corpus, k=5))
    finally:
        corpus.unpersist()


def test_more_queries_than_the_driver_bound_keep_the_map_in_arrow_plan(spark):
    queries, corpus = _frames(spark)
    one = queries.limit(1).select("q_vec")
    bound = similarity._DRIVER_MAX_QUERIES

    def many(n):
        return spark.range(n).select(F.col("id").alias("q_id")).crossJoin(one)

    corpus.cache().count()
    try:
        at = knn_join(many(bound), corpus, k=5)
        over = knn_join(many(bound + 1), corpus, k=5)
        assert at._jdf.isLocal()
        assert _on_map_in_arrow(over)
        assert corpus in similarity._PACKS  # a large query set keeps the pack
        assert _rows(over.filter(F.col("q_id") < bound)) == _rows(at)
    finally:
        corpus.unpersist()


@pytest.mark.parametrize("k", [0, -1])
def test_knn_join_rejects_k_below_one_before_any_job(spark, k):
    queries, corpus = _frames(spark)

    def call():
        with pytest.raises(ValueError, match="k >= 1"):
            knn_join(queries, corpus, k=k)

    try:
        for cached in (False, True):
            if cached:
                corpus.cache().count()
            assert _jobs(spark, f"knn-bad-k-{k}-{cached}", call) == 0
    finally:
        corpus.unpersist()


def test_concurrent_first_calls_build_one_pack(spark, monkeypatch):
    """More callers than cores hit one freshly cached corpus at once:
    the pack is built once and every caller gets the same answer."""
    queries, corpus = _frames(spark)
    want = _rows(knn_join(queries, corpus, k=5))
    builds = []
    build = similarity._build_pack

    def counted(*args):
        builds.append(args)
        return build(*args)

    monkeypatch.setattr(similarity, "_build_pack", counted)
    corpus.cache().count()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as pool:
            calls = [
                pool.submit(lambda: _rows(knn_join(queries, corpus, k=5)))
                for _ in range(8)
            ]
            got = [call.result(timeout=300) for call in calls]
    finally:
        sys.setswitchinterval(interval)
        corpus.unpersist()
    assert len(builds) == 1
    assert got == [want] * 8


def test_a_pack_build_does_not_hold_up_other_corpora(spark, monkeypatch):
    """While one corpus's pack is being built, a call on another cached
    corpus is scored and returns; builds wait only for their own
    corpus."""
    queries, corpus = _frames(spark)
    other = corpus.filter(F.col("vec_id") % 2 == 0)
    want = _rows(knn_join(queries, other, k=5))
    building, release, built = (threading.Event() for _ in range(3))
    build = similarity._build_pack

    def slow(frame, *args):
        if frame is corpus:
            building.set()
            release.wait(timeout=60)
            built.set()
        return build(frame, *args)

    monkeypatch.setattr(similarity, "_build_pack", slow)
    corpus.cache().count()
    other.cache().count()
    try:
        with ThreadPoolExecutor(1) as pool:
            first = pool.submit(lambda: knn_join(queries, corpus, k=5).collect())
            try:
                assert building.wait(timeout=60)
                got = _rows(knn_join(queries, other, k=5))
                assert not built.is_set()
            finally:
                release.set()
            first.result(timeout=300)
        assert got == want
    finally:
        corpus.unpersist()
        other.unpersist()


def test_a_pack_build_holds_about_one_matrix(spark):
    """Building a pack keeps the float64 matrix plus small per-block
    temporaries: no index array per value, no second float64 copy, no
    full-size M * M or cumsum. numpy's allocations are traced; Arrow's
    are not."""
    import tracemalloc

    n, dim = 2000, 512
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array_repeat((F.col("id") % 7 + 1).cast("float"), dim).alias("embedding"),
    )
    corpus.cache().count()
    try:
        tracemalloc.start()
        try:
            _, matrices = similarity._build_pack(corpus, "vec_id", "embedding")
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        matrix = matrices[dim][1].nbytes
        assert matrix == n * dim * 8
        assert peak < 1.5 * matrix, (peak, matrix)
    finally:
        corpus.unpersist()


def _spark_round6(spark, values):
    """Spark's own ``round(x, 6)`` of each double."""
    import pyarrow as pa

    table = pa.table({"x": pa.array(values, pa.float64())})
    return spark.createDataFrame(table).select(F.round("x", 6)).toArrow().column(0).to_pylist()


def _same_double(a, b) -> bool:
    """Bit for bit, sign of zero included; NaN equals NaN, None None."""
    import struct

    if a is None or b is None:
        return a is b
    return struct.pack("<d", a) == struct.pack("<d", b) or (a != a and b != b)


def test_driver_rounding_is_spark_round_bit_for_bit(spark):
    """``_round6`` against Spark's ``round(x, 6)`` on ~200k doubles: the
    nearest doubles to every kind of 6-dp boundary ``k/1e6 + 5e-7`` and
    both of their neighbours, 7-dp decimals, uniform sims, wide
    magnitudes, ±0.0, tiny negatives, NaN, ±inf and NULL. A value the
    driver does not flag must come out as Spark's, bit for bit."""
    import math

    import numpy as np

    rng = np.random.default_rng(20261019)
    k = rng.integers(-1_000_000, 1_000_000, 50_000)
    nearest = (2 * k + 1) / 2_000_000  # one correctly rounded division
    below = np.nextafter(nearest, -np.inf)
    above = np.nextafter(nearest, np.inf)
    seven_dp = rng.integers(-10_000_000, 10_000_000, 25_000) / 1e7
    uniform = rng.uniform(-1.0, 1.0, 15_000)
    wide = rng.choice([-1.0, 1.0], 5_000) * 10.0 ** rng.uniform(-12, 12, 5_000)
    tiny_negatives = [-5e-324, -1e-300, -1e-9, -1e-7, -4.999e-7, -np.nextafter(5e-7, 0)]
    specials = [0.0, -0.0, math.nan, math.inf, -math.inf, None, 5e-7, -5e-7, 1.0, -1.0]
    values = [
        *nearest.tolist(),
        *below.tolist(),
        *above.tolist(),
        *seven_dp.tolist(),
        *uniform.tolist(),
        *wide.tolist(),
        *tiny_negatives,
        *specials,
    ]
    want = _spark_round6(spark, values)
    got = [similarity._round6([x]) for x in values]
    checked = {"nearest": 0, "neighbour": 0, "other": 0}
    n = len(k)
    for i, (x, g, w) in enumerate(zip(values, got, want)):
        if g is None:
            continue
        assert _same_double(g[0], w), (repr(x), g[0], w)
        checked["nearest" if i < n else "neighbour" if i < 3 * n else "other"] += 1
    # the sweep is not vacuous: most values are rounded on the driver,
    # boundary neighbours among them; the flagged ones are the rare kind
    assert checked["neighbour"] > 0.2 * n, checked
    assert checked["other"] > 0.85 * (len(values) - 3 * n), checked
    for x in tiny_negatives + [-0.0]:
        (r,) = similarity._round6([x])
        assert r == 0.0 and math.copysign(1.0, r) == 1.0, (x, r)
    for x in (math.nan, math.inf, -math.inf, None):
        assert _same_double(similarity._round6([x])[0], x)


def test_a_sim_on_a_rounding_boundary_is_rounded_in_spark(spark, monkeypatch):
    """A survivor whose sim is a 6-dp boundary sends the call's rounding
    to Spark, and its rows equal the mapInArrow placement's; a call with
    no such sim rounds on the driver, with the same rows."""
    # |e| = 128 exactly, so against a unit axis the sims are +-1/128 =
    # +-0.0078125 = +-(0.007812 + 5e-7), and 127/128 another boundary
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 127.0, 15.0, 5.0, 2.0]),
            (2, [-1.0, 127.0, 15.0, 5.0, 2.0]),
            (3, [3.0, 4.0, 0.0, 0.0, 0.0]),
            (4, [0.25, 1.0, 2.0, 0.0, 0.5]),
        ],
        "vec_id long, embedding array<float>",
    )
    on_boundary = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0, 0.0])],
        "q_id long, q_vec array<float>",
    )
    off_boundary = spark.createDataFrame(
        [(0, [1.0, 1.0, 0.0, 0.0, 0.3])], "q_id long, q_vec array<float>"
    )
    rounded_in_spark = []
    real = similarity._round6_in_spark

    def spy(*args):
        rounded_in_spark.append(1)
        return real(*args)

    monkeypatch.setattr(similarity, "_round6_in_spark", spy)
    corpus.cache().count()
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        for queries, falls_back in ((on_boundary, True), (off_boundary, False)):
            rounded_in_spark.clear()
            got = knn_join(queries, corpus, k=4)
            assert got._jdf.isLocal()
            assert bool(rounded_in_spark) is falls_back
            spark.conf.set(key, "-1")
            want = knn_join(queries, corpus, k=4)
            assert _on_map_in_arrow(want)
            assert _rows(got) == _rows(want)
            spark.conf.set(key, before)
        sims = {(r["q_id"], r["vec_id"]): r["sim"] for r in knn_join(on_boundary, corpus, k=4).collect()}
        assert (sims[(0, 1)], sims[(0, 2)], sims[(1, 1)]) == (0.007813, -0.007813, 0.992188)
    finally:
        spark.conf.set(key, before)
        corpus.unpersist()
