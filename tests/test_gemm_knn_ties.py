"""knn_join's per-batch GEMM pruning, adversarially: the partial top-k
cut must never change the result, even when huge rounded-tie groups
span partition boundaries (fixture: many IDENTICAL vectors spread
across partitions), and its ids, ranks and sims must equal the
per-pair cosine fold's on real embeddings and on the fold's null
cases. Plus a non-ASCII m05 parity pin on a synthetic sf_dir."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import SF_SMOKE


def test_s02_pruning_survives_cross_partition_ties(spark, tmp_path):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import plans

    # 8 query vectors (vec_id < 8) + 120 corpus vectors of which 100
    # are byte-identical (one big rounded-tie group) and 20 distinct.
    dim = 64
    base = [0.1] * dim
    rows = []
    for q in range(8):
        rows.append((q, [0.1 + 0.01 * q * (i % 3) for i in range(dim)], 0))
    for i in range(100):  # the tie block, scattered ids
        rows.append((8 + i * 3, base, 1))
    for i in range(20):
        rows.append((1000 + i, [0.05 * ((i + j) % 5) for j in range(dim)], 2))
    sf_dir = tmp_path / "sf"
    os.makedirs(sf_dir)
    (
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        .repartition(8)  # ties span partitions
        .write.mode("overwrite")
        .parquet(str(sf_dir / "embeddings.parquet"))
    )
    got = {
        (r["q_id"], r["rank"]): r["vec_id"]
        for r in plans.get_spec("s02_knn_join").build(spark, str(sf_dir)).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet/*.parquet'"
    )
    want = {
        (q, r): v
        for q, v, r in con.execute(
            plans.all_specs()["s02_knn_join"].oracle.replace(
                "SELECT q_id, vec_id, sim, rank", "SELECT q_id, vec_id, rank"
            )
        ).fetchall()
    }
    assert got == want
    # The tie group must resolve to the LOWEST vec_ids, proving the
    # batch cut kept the right representatives across partitions.
    assert len(got) == 40


def _fold_knn(queries, corpus, k):
    """The reference: every (query, corpus) pair scored by the
    cosine_similarity fold, then knn_join's rank window."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.functions.vector import (
        cosine_similarity,
    )

    scored = corpus.crossJoin(queries).select(
        "q_id",
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), F.col("q_vec")), 6).alias(
            "sim"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "vec_id", "sim", "rank")
    )


def test_knn_join_matches_cosine_fold(spark):
    """Same ids, ranks and sims as the fold, bit for bit: on the smoke
    embeddings, on NULL, all-zero, wrong-length and NULL-element vectors
    (on both sides, so a second query length is scored too), on a
    corpus smaller than k, and on an empty query frame."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.similarity import (
        knn_join,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.batch import (
        load_table,
    )

    em = load_table(spark, SF_SMOKE, "embeddings").select("vec_id", "embedding")
    dim = len(em.first()["embedding"])
    odd = spark.createDataFrame(
        [
            (-1, None),
            (-2, [0.0] * dim),
            (-3, [0.5] * (dim - 1)),
            (-4, [0.5, None] + [0.5] * (dim - 2)),
        ],
        "vec_id long, embedding array<float>",
    )
    corpus = em.filter(F.col("vec_id") >= 8).unionByName(odd)
    queries = (
        em.filter(F.col("vec_id") < 8)
        .unionByName(odd)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    small = corpus.filter(F.col("vec_id") < 12)  # 8 rows, k = 10
    empty = queries.filter(F.lit(False))
    for q, c, k in [(queries, corpus, 5), (queries, small, 10), (empty, corpus, 5)]:
        out = knn_join(q, c, k=k)
        ref = _fold_knn(q, c, k)
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in ref.schema
        ]
        got = sorted(tuple(r) for r in out.collect())
        assert got == sorted(tuple(r) for r in ref.collect())
        assert len(got) == (min(k, c.count()) * q.count())


def test_m05_oracle_matches_on_non_ascii_text(spark, tmp_path):
    """m05 hashes UTF-8 bytes; its oracle must agree on multi-byte
    text, not just the ASCII corpus (the codepoint-vs-byte divergence
    the round-6 review flagged)."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import plans

    texts = [
        "café au lait № 42 — übergroß",
        "café au lait № 42 — übergroß",  # exact dup of row 0, inside the id band
        "naïve façade jalapeño",
        "чистый текст для проверки",
        "日本語のテキスト",
        "plain ascii text here",
    ]
    rows = [
        (i, t, "xx", "src0", len(t)) for i, t in enumerate(texts)
    ]
    sf_dir = tmp_path / "sf"
    os.makedirs(sf_dir)
    (
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(str(sf_dir / "documents.parquet"))
    )
    spec = plans.all_specs()["m05_payload_phash_dedup"]
    got = sorted(
        tuple(r) for r in spec.build(spark, str(sf_dir)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet/*.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(spec.oracle).fetchall())
    assert got == want
    # The duplicated non-ASCII doc pair must surface at hamming 0.
    assert any(h == 0 for (_, _, h) in got)


def test_partial_topk_sims_are_the_fold_bit_for_bit():
    """Every raw sim knn_join's Arrow stage emits equals a left-to-right
    fold of dot / (|e| * |q|), bit for bit, on off-grid floats where a
    GEMM's or a pre-normalised sum differs in the last bits."""
    import math

    import numpy as np
    import pyarrow as pa

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.similarity import (
        _partial_topk,
    )

    def fold(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    rng = np.random.default_rng(7)
    E = rng.standard_normal((50, 64)).astype(np.float32)
    Q = rng.standard_normal((3, 64)).astype(np.float32)
    vec = pa.list_(pa.float32())
    q_table = pa.table({"q_id": pa.array([0, 1, 2]), "q_vec": pa.array(list(Q), vec)})
    batch = pa.RecordBatch.from_arrays(
        [pa.array(np.arange(50)), pa.array(list(E), vec)],
        names=["vec_id", "embedding"],
    )
    out = pa.Table.from_batches(list(_partial_topk(q_table, 50)(iter([batch]))))
    assert out.num_rows == 150
    for q, v, sim in zip(*(c.to_pylist() for c in out.columns)):
        e, qv = E[v].tolist(), Q[q].tolist()
        assert sim == fold(e, qv) / (math.sqrt(fold(e, e)) * math.sqrt(fold(qv, qv)))
