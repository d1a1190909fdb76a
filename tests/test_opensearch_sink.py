"""OpenSearch sink adapter: bulk-emitter shape without a server.

An injected client_factory captures what the adapter sends, to verify
it builds the reference's exact bulk actions ({passage_embedding,
date, text} per doc, createIndexRequest2 at DataStreamJob.java:183-193)
and bootstraps the k-NN index once; the build-time config checks need
no Spark at all.
"""

from __future__ import annotations

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


def test_opensearch_writer_rejects_region_without_credentials():
    """aws_region asks for SigV4; without both keys every request would
    go out unsigned, so the writer refuses the config at build time."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )

    for keys in ({}, {"aws_access_key": "AKIDEXAMPLE"}, {"aws_secret_key": "sk"}):
        cfg = PipelineConfig(
            sink_format="opensearch",
            extra={"hosts": ["http://a:9200"], "aws_region": "us-east-1", **keys},
        )
        with pytest.raises(ValueError, match="aws_access_key and aws_secret_key"):
            foreach_batch_writer(cfg)
    signed = PipelineConfig(
        sink_format="opensearch",
        extra={
            "hosts": ["http://a:9200"],
            "aws_region": "us-east-1",
            "aws_access_key": "AKIDEXAMPLE",
            "aws_secret_key": "sk",
        },
    )
    assert callable(foreach_batch_writer(signed))


def test_memory_sink_format_is_unknown():
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )

    with pytest.raises(ValueError, match="unknown sink_format 'memory'"):
        foreach_batch_writer(PipelineConfig(sink_format="memory"))


def _file_capture_factory(capture_dir: str):
    """Stand-in for the opensearch client factory: each partition's bulk
    call writes its actions to a unique file in capture_dir (workers
    share the local filesystem in local mode), so the test can count
    bulk calls per partition and inspect the exact emitted actions —
    without a server. Returned as a closure: cloudpickle
    ships closures by value, while a test-module class would be pickled
    by reference and fail to import on executor workers."""

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
            path = os.path.join(capture_dir, f"bulk-{uuid.uuid4().hex}.json")
            with open(path, "w") as f:
                json.dump(list(actions), f)

        return _FakeClient(), bulk

    return factory


def test_opensearch_writer_bulk_shape_runs_on_executors(spark, tmp_path, monkeypatch):
    """The bulk emitter must run per partition on the executors: the
    reference builds one bulk processor per subtask
    (DataStreamJob.java:158-177); a driver-side toLocalIterator loop is
    a single-machine bottleneck at any real scale. toLocalIterator and
    collect are poisoned for the duration to prove the batch is never
    materialized on the driver."""
    import json
    import pathlib

    from pyspark.sql import DataFrame

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)

    def _poisoned(self, *a, **kw):  # noqa: ANN001
        raise AssertionError("batch materialized on the driver")

    monkeypatch.setattr(DataFrame, "toLocalIterator", _poisoned)
    monkeypatch.setattr(DataFrame, "collect", _poisoned)

    rows = [(f"doc {i}",) for i in range(64)]
    batch = embed(
        spark.createDataFrame(rows, ["text"])
        .repartition(4)
        .withColumn("created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))),
        dim=8,
    )
    writer(batch, 0)

    files = sorted(pathlib.Path(cap).glob("bulk-*.json"))
    # one bulk call per NON-EMPTY partition, not one global call
    assert len(files) > 1
    actions = [a for f in files for a in json.loads(f.read_text())]
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
    writer must not assume it exists (it previously raised
    AnalysisException on the first micro-batch for those policies)."""
    import json
    import pathlib

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        on_error="drop",
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)
    batch = embed(
        spark.createDataFrame([("hello world",)], ["text"]).withColumn(
            "created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        ),
        dim=8,
        on_error="drop",
    )
    assert "error" not in batch.columns
    writer(batch, 0)
    actions = [
        a
        for f in pathlib.Path(cap).glob("bulk-*.json")
        for a in json.loads(f.read_text())
    ]
    assert [a["_source"]["text"] for a in actions] == ["hello world"]


def test_opensearch_writer_bootstraps_knn_index(spark, tmp_path):
    """D1's other half: before the first bulk write the sink must create
    the k-NN index with the reference's exact hnsw mapping
    (index-creation-function/lambda_function.py:66-97) — a mapping-less
    auto-created index stores vectors as plain floats and silently
    breaks k-NN queries."""
    import json
    import pathlib

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )

    cap = tmp_path / "captured"
    cap.mkdir()
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=8,
        extra={"index": "docs", "client_factory": _file_capture_factory(str(cap))},
    )
    writer = foreach_batch_writer(cfg)
    batch = embed(
        spark.createDataFrame([("hello",)], ["text"]).withColumn(
            "created_at", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
        ),
        dim=8,
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
