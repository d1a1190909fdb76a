"""OpenSearch sink adapter: bulk-emitter shape without a server.

An injected client_factory captures what the adapter sends, to verify
it builds the reference's exact bulk actions ({passage_embedding,
date, text} per doc, createIndexRequest2 at DataStreamJob.java:183-193)
and bootstraps the k-NN index once; the build-time config checks need
no Spark at all.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
    PipelineConfig,
)


def test_opensearch_writer_rejects_more_than_one_host():
    """The transport talks to one endpoint; a second host would be
    silently ignored, so the writer refuses it at build time."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )

    cfg = PipelineConfig(
        sink_format="opensearch",
        extra={"hosts": ["http://a:9200", "http://b:9200"]},
    )
    with pytest.raises(ValueError, match="exactly one endpoint"):
        foreach_batch_writer(cfg)


def test_opensearch_writer_rejects_region_without_credentials(
    empty_aws_chain, monkeypatch
):
    """aws_region asks for SigV4; with an empty credential chain every
    request would fail to sign, so the writer refuses the config at
    build time. Keys in the environment satisfy it."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )

    cfg = PipelineConfig(
        sink_format="opensearch",
        extra={"hosts": ["http://a:9200"], "aws_region": "us-east-1"},
    )
    with pytest.raises(ValueError, match="no credentials"):
        foreach_batch_writer(cfg)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKIDEXAMPLE")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "sk")
    aws.credentials.cache_clear()
    assert callable(foreach_batch_writer(cfg))


def test_memory_sink_format_is_unknown():
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )

    with pytest.raises(ValueError, match="unknown sink_format 'memory'"):
        foreach_batch_writer(PipelineConfig(sink_format="memory"))


def _file_capture_factory(capture_dir: str, fail_bulk: bool = False):
    """Stand-in for the opensearch client factory: each bulk call writes
    its actions to a unique file in capture_dir (workers share the local
    filesystem in local mode), so the test can count bulk calls and
    inspect the exact emitted actions — without a server. ``_source``
    bytes (the fused stage's pre-serialised JSON) are decoded, and each
    file also records the worker's TZ. With ``fail_bulk`` every bulk
    call raises after recording its actions. Returned as a closure:
    cloudpickle ships closures by value, while a test-module class would
    be pickled by reference and fail to import on executor workers."""

    def factory():
        import json
        import os
        import uuid

        class _FakeIndices:
            """Index bootstrap capture: exists/create persist through a
            file so create-if-missing happens exactly once per index."""

            def exists(self, index):
                return os.path.exists(os.path.join(capture_dir, f"index-{index}.json"))

            def create(self, index, body):
                with open(os.path.join(capture_dir, f"index-{index}.json"), "w") as f:
                    json.dump(body, f)
                return {"acknowledged": True}

        class _FakeClient:
            indices = _FakeIndices()

        def bulk(client, actions):
            decoded = [
                {
                    **a,
                    "_source": json.loads(a["_source"])
                    if isinstance(a["_source"], bytes)
                    else a["_source"],
                }
                for a in actions
            ]
            path = os.path.join(capture_dir, f"bulk-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump({"tz": os.environ.get("TZ"), "actions": decoded}, f)
            if fail_bulk:
                raise RuntimeError("bulk rejected")
            return len(decoded)

        return _FakeClient(), bulk

    return factory


def _captured(cap) -> list[dict]:
    import json
    import pathlib

    return [
        a
        for f in sorted(pathlib.Path(cap).glob("bulk-*.json"))
        for a in json.loads(f.read_text())["actions"]
    ]


def test_opensearch_writer_bulk_shape_runs_on_executors(spark, tmp_path, monkeypatch):
    """The bulk emitter must run per partition on the executors: the
    reference builds one bulk processor per subtask
    (DataStreamJob.java:158-177); a driver-side toLocalIterator loop is
    a single-machine bottleneck at any real scale. toLocalIterator and
    collect are poisoned for the duration to prove the batch is never
    materialized on the driver."""
    import pathlib

    from pyspark.sql import DataFrame

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        DeterministicEmbedder,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=8,
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)

    def _poisoned(self, *a, **kw):  # noqa: ANN001
        raise AssertionError("batch materialized on the driver")

    monkeypatch.setattr(DataFrame, "toLocalIterator", _poisoned)
    monkeypatch.setattr(DataFrame, "collect", _poisoned)

    rows = [(f"doc {i}",) for i in range(64)]
    docs = (
        spark.createDataFrame(rows, ["text"])
        .repartition(4)
        .withColumn("created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    )
    writer(opensearch_index(docs, cfg, DeterministicEmbedder), 0)

    files = sorted(pathlib.Path(cap).glob("bulk-*.json"))
    # one bulk call per NON-EMPTY partition chunk, not one global call
    assert len(files) > 1
    actions = _captured(cap)
    assert len(actions) == 64
    for action in actions:
        assert action["_index"] == "docs"
        src = action["_source"]
        assert set(src) == {"passage_embedding", "date", "text"}
        assert len(src["passage_embedding"]) == 8
        assert src["date"].startswith("2024-01-01T00:00:00")
    assert {a["_source"]["text"] for a in actions} == {r[0] for r in rows}


def test_opensearch_writer_tolerates_missing_error_column(spark, tmp_path):
    """embed() drops the error column under on_error='drop'/'fail'; the
    OpenSearch path must not depend on it: its fused stage applies the
    same policy itself and still indexes the good rows under 'drop'."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        DeterministicEmbedder,
        embed,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=8,
        on_error="drop",
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)
    docs = spark.createDataFrame([("hello world",)], ["text"]).withColumn(
        "created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    batch = embed(docs, dim=8, on_error="drop")
    assert "error" not in batch.columns
    writer(opensearch_index(docs, cfg, DeterministicEmbedder), 0)
    actions = _captured(cap)
    assert [a["_source"]["text"] for a in actions] == ["hello world"]


def test_opensearch_writer_bootstraps_knn_index(spark, tmp_path):
    """D1's other half: before the first bulk write the sink must create
    the k-NN index with the reference's exact hnsw mapping
    (index-creation-function/lambda_function.py:66-97) — a mapping-less
    auto-created index stores vectors as plain floats and silently
    breaks k-NN queries."""
    import json
    import pathlib

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        DeterministicEmbedder,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=8,
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)
    batch = opensearch_index(
        spark.createDataFrame([("hello",)], ["text"]).withColumn(
            "created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        ),
        cfg,
        DeterministicEmbedder,
    )
    writer(batch, 0)
    mapping_file = pathlib.Path(cap) / "index-docs.json"
    first_mtime = mapping_file.stat().st_mtime_ns
    writer(batch, 1)  # second batch must NOT re-issue the create
    assert mapping_file.stat().st_mtime_ns == first_mtime

    body = json.loads(mapping_file.read_text())
    vec = body["mappings"]["properties"]["passage_embedding"]
    assert vec["type"] == "knn_vector"
    assert vec["dimension"] == 8
    assert vec["method"]["name"] == "hnsw"
    assert vec["method"]["parameters"] == {"ef_construction": 128, "m": 24}
    assert (vec["method"]["space_type"], vec["method"]["engine"]) == ("l2", "nmslib")
    assert body["mappings"]["properties"]["date"] == {"type": "date"}
    # text keeps the reference's text type, plus the keyword subfield
    # the paginated read-back sorts on (fielddata is disabled on text
    # fields on a real domain)
    assert body["mappings"]["properties"]["text"] == {
        "type": "text",
        "fields": {"raw": {"type": "keyword"}},
    }
    assert body["settings"]["index"]["knn"] is True
    assert body["settings"]["index"]["number_of_shards"] == 5
    assert body["settings"]["index"]["number_of_replicas"] == 1


def test_knn_index_body_follows_model_dimension():
    """titan-v1 -> 1536, titan-v2 -> 1024 (lambda_function.py:58-61)."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        knn_index_body,
    )

    for model, dim in (("titan-v1", 1536), ("titan-v2", 1024)):
        cfg = PipelineConfig(embedding_model=model)
        body = knn_index_body(cfg.resolved_dim())
        assert body["mappings"]["properties"]["passage_embedding"]["dimension"] == dim


def _stub_embedder_factory(vectors: dict):
    """embedder_factory returning ``vectors[text]`` for each text."""

    def factory(dim):
        class _Stub:
            def embed_batch(self, texts):
                return [vectors[t] for t in texts]

        return _Stub()

    return factory


_UNINDEXABLE = {
    "nan": [float("nan"), 0.0, 0.0, 0.0],
    "inf": [0.0, float("-inf"), 0.0, 0.0],
    "beyond float32": [1e39, 0.0, 0.0, 0.0],
    "too long": [0.5] * 5,
    "too short": [0.5] * 3,
}


def test_embed_chunk_marks_unindexable_vectors():
    """With the index dimension given, a vector that is not ``dim``
    finite float32 values is a per-row error (an index rejects it, and
    its bulk would fail on every replay); a missing vector is not."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed_chunk,
    )

    vectors = {**_UNINDEXABLE, "ok": [0.25, -0.0, 1e-7, 3.4e38], "none": None}
    emb = _stub_embedder_factory(vectors)(4)
    texts = list(vectors)
    vecs, errs = embed_chunk(emb, texts, "dead-letter", dim=4)
    got = dict(zip(texts, errs))
    assert got["ok"] is None and got["none"] is None
    for t in _UNINDEXABLE:
        assert got[t].startswith("unindexable vector"), (t, got[t])
    # an indexable vector comes back as the same float32 bits; the rest as given
    out = dict(zip(texts, vecs))
    ok = np.asarray(vectors["ok"], np.float32)
    assert out["ok"].dtype == np.float32 and out["ok"].tobytes() == ok.tobytes()
    assert all(out[t] is vectors[t] for t in texts if t != "ok")
    with pytest.raises(RuntimeError, match="unindexable vector"):
        embed_chunk(emb, texts, "fail", dim=4)


def test_fused_stage_dead_letters_unindexable_vectors(spark, tmp_path):
    """Unindexable vectors become dead-letter status rows and never
    reach the bulk; under on_error='fail' they fail the micro-batch."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    vectors = {**_UNINDEXABLE, "ok": [0.25, 0.5, 0.75, 1.0]}
    docs = spark.createDataFrame([(t,) for t in vectors], ["text"]).withColumn(
        "created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=4,
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    status = opensearch_index(docs, cfg, _stub_embedder_factory(vectors))
    assert status.columns == ["error", "bulk_bytes"]
    rows = status.collect()
    assert len(rows) == len(vectors)
    bad = [r for r in rows if r.error is not None]
    assert len(bad) == len(_UNINDEXABLE)
    assert all(r.error.startswith("unindexable vector") for r in bad)
    assert all(r.bulk_bytes == 0 for r in bad)
    [good] = [r for r in rows if r.error is None]
    assert good.bulk_bytes > 0
    actions = _captured(cap)
    assert [a["_source"]["text"] for a in actions] == ["ok"]
    assert actions[0]["_source"]["passage_embedding"] == [0.25, 0.5, 0.75, 1.0]

    failing = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=4,
        on_error="fail",
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    with pytest.raises(Exception, match="unindexable vector"):
        foreach_batch_writer(failing)(
            opensearch_index(docs, failing, _stub_embedder_factory(vectors)), 0
        )


def test_bulk_failure_on_first_chunk_fails_the_micro_batch(spark, tmp_path):
    """A bulk runs on the sender thread while the next chunk embeds; its
    failure must still fail the task (at the next wait, or at the end
    of the partition), and no later chunk's bulk may be sent after it."""
    import pathlib

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        DeterministicEmbedder,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    for n_docs in (12, 4):  # three chunks of 4, then a single chunk
        cap = tmp_path / f"captured-{n_docs}"
        cap.mkdir()
        cfg = PipelineConfig(
            sink_format="opensearch",
            embedding_dim=8,
            embed_batch_size=4,
            extra={
                "index": "docs",
                "client_factory": _file_capture_factory(str(cap), fail_bulk=True),
            },
        )
        docs = (
            spark.createDataFrame([(f"doc {i}",) for i in range(n_docs)], ["text"])
            .coalesce(1)
            .withColumn("created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        )
        with pytest.raises(Exception, match="bulk rejected"):
            foreach_batch_writer(cfg)(
                opensearch_index(docs, cfg, DeterministicEmbedder), 0
            )
        assert len(list(pathlib.Path(cap).glob("bulk-*.json"))) == 1


def test_date_is_sent_as_a_utc_instant_under_non_utc_time_zones(spark, tmp_path):
    """``date`` is an absolute UTC instant whatever the session and
    worker time zones: formatting a naive local datetime would index
    12:00Z as 07:00 under America/New_York, and OpenSearch reads a date
    without an offset as UTC."""
    import datetime

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        DeterministicEmbedder,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.schemas import (
        CREATED_AT_FORMAT,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=8,
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    sc = spark.sparkContext
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    # Python workers are started per environment: this stage runs in
    # workers whose local time zone is New York
    sc.environment["TZ"] = "America/New_York"
    try:
        docs = spark.createDataFrame(
            [("noon utc", "2024-01-01T12:00:00.000Z")], ["text", "created_at"]
        ).withColumn("created_at", F.to_timestamp("created_at", CREATED_AT_FORMAT))
        foreach_batch_writer(cfg)(opensearch_index(docs, cfg, DeterministicEmbedder), 0)
    finally:
        del sc.environment["TZ"]
        spark.conf.set("spark.sql.session.timeZone", session_tz)
    import json
    import pathlib

    [f] = pathlib.Path(cap).glob("bulk-*.json")
    captured = json.loads(f.read_text())
    assert captured["tz"] == "America/New_York"
    [action] = captured["actions"]
    date = action["_source"]["date"]
    assert date.endswith(("Z", "+00:00")), date
    assert datetime.datetime.fromisoformat(date.replace("Z", "+00:00")) == (
        datetime.datetime(2024, 1, 1, 12, tzinfo=datetime.timezone.utc)
    )
