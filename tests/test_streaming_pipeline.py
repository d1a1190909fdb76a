"""End-to-end Structured Streaming pipeline test (SURVEY.md §5.2/5.3).

Replays the reference dataflow over a JSON-lines file stream: wire JSON
-> parse -> normalize -> empty-text filter -> embed -> parquet vector
sink, with corrupt records and empty texts dropped along the way.
"""

from __future__ import annotations

import json
import time
import os

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
    PipelineConfig,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming import (
    build_source,
    run_pipeline,
)


@pytest.fixture()
def wire_dir(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    records = [
        {"text": "the quick brown fox", "created_at": "2024-01-01T00:00:00.000Z"},
        {"text": "jumps over the lazy dog", "created_at": "2024-01-01T00:01:00.000Z"},
        {"text": "", "created_at": "2024-01-01T00:02:00.000Z"},  # F1 drops
        {"text": "packs my box", "created_at": "2024-01-01T00:03:00.000Z"},
    ]
    with open(src / "batch1.jsonl", "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")
        f.write("{not valid json\n")  # corrupt record, dropped not crashed
    return str(src)


def test_pipeline_end_to_end(spark, wire_dir, tmp_path):
    sink = str(tmp_path / "vectors")
    cfg = PipelineConfig(
        source_format="json",
        source_path=wire_dir,
        sink_format="parquet",
        sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_dim=32,
        extra={"id_strategy": "deterministic"},
    )
    q = run_pipeline(spark, cfg)
    q.awaitTermination(120)
    assert not q.isActive

    out = spark.read.parquet(sink)
    assert sorted(out.columns) == ["date", "passage_embedding", "text"]
    rows = out.collect()
    # 5 wire records: 1 corrupt + 1 empty dropped -> 3 embedded docs
    assert len(rows) == 3
    assert {r.text for r in rows} == {
        "the quick brown fox",
        "jumps over the lazy dog",
        "packs my box",
    }
    assert all(len(r.passage_embedding) == 32 for r in rows)
    assert all(r.date is not None for r in rows)
    # no embedding failures -> no dead-letter table
    assert not os.path.exists(sink + "_dead_letter")


def test_pipeline_restart_is_exactly_once_over_checkpoint(
    spark, wire_dir, tmp_path
):
    """Re-running with the same checkpoint must not re-process drained
    input (source offsets are the only state, as in the reference)."""
    sink = str(tmp_path / "vectors")
    cfg = PipelineConfig(
        source_format="json",
        source_path=wire_dir,
        sink_format="parquet",
        sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_dim=16,
    )
    run_pipeline(spark, cfg).awaitTermination(120)
    n1 = spark.read.parquet(sink).count()
    run_pipeline(spark, cfg).awaitTermination(120)
    assert spark.read.parquet(sink).count() == n1 == 3


def test_kafka_source_requires_config(spark):
    with pytest.raises(ValueError, match="kafka"):
        build_source(spark, PipelineConfig(source_format="kafka"))


@pytest.mark.parametrize("fmt", ["bogus", "kinesis", "kinesis-lite-simple"])
def test_unknown_source_format(spark, fmt):
    with pytest.raises(ValueError, match="unknown source_format"):
        build_source(spark, PipelineConfig(source_format=fmt))


def test_idempotent_sink_replay_no_duplicates(spark, wire_dir, tmp_path):
    """With idempotent_sink, re-running a replayed batch overwrites its
    _batch partition instead of appending a second copy."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",)], ["text"]
    ).withColumn("created_at", F.current_timestamp())
    emb = embed(docs, dim=8)
    cfg = PipelineConfig(
        sink_format="parquet",
        sink_path=str(tmp_path / "vec"),
        extra={"idempotent_sink": True},
    )
    writer = foreach_batch_writer(cfg)
    writer(emb, 0)
    writer(emb, 0)  # replay of the same batch id
    out = spark.read.parquet(str(tmp_path / "vec"))
    assert out.count() == 2  # not 4
    writer(emb, 1)  # a genuinely new batch appends
    assert spark.read.parquet(str(tmp_path / "vec")).count() == 4


def test_cli_entrypoint_runs_pipeline(spark, wire_dir, tmp_path):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.__main__ import (
        main,
    )

    rc = main(
        [
            "--source-path", wire_dir,
            "--sink-path", str(tmp_path / "vectors"),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--dim", "16",
            "--idempotent",
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "vectors"))
    assert out.count() == 3
    assert sorted(c for c in out.columns if c != "_batch") == [
        "date", "passage_embedding", "text",
    ]


def test_pipeline_dead_letters_embedding_failures(spark, wire_dir, tmp_path):
    """A failing embedder backend must dead-letter rows into the side
    table, not crash the stream or emit nulls (the reference's failure
    mode)."""
    def exploding_factory():
        class Exploding:
            def __init__(self, dim):
                self.dim = dim

            def embed_batch(self, texts):
                raise RuntimeError("backend down")

        return Exploding

    sink = str(tmp_path / "vectors")
    cfg = PipelineConfig(
        source_format="json",
        source_path=wire_dir,
        sink_format="parquet",
        sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_dim=8,
        on_error="dead-letter",
    )
    q = run_pipeline(spark, cfg, embedder_factory=exploding_factory())
    q.awaitTermination(120)

    dead = spark.read.parquet(sink + "_dead_letter")
    assert dead.count() == 3  # every non-empty doc failed
    assert all("RuntimeError" in r.error for r in dead.collect())
    # the main table got the (empty) good split written as zero rows or
    # was never created — either way no null embeddings leaked through
    import os

    if os.path.exists(sink):
        good = spark.read.parquet(sink)
        assert good.filter(good.passage_embedding.isNull()).count() == 0


def test_rate_source_shape(spark):
    """The rate load-generator source must produce the RAW wire schema
    as an unbounded stream (full execution needs wall-clock time, so
    this pins the plan shape only)."""
    cfg = PipelineConfig(source_format="rate", extra={"rows_per_second": 5})
    src = build_source(spark, cfg)
    assert src.isStreaming
    assert src.columns == ["value"]
    assert dict(src.dtypes)["value"] == "string"


def test_kinesis_reader_options_mirror_reference_consumer():
    """S1: the Kinesis branch maps PipelineConfig onto kinesis-lite's
    own options — stream/region/endpoint plus the reference's LATEST
    start position (DataStreamJob.java:130), with 'earliest' ->
    TRIM_HORIZON. No live endpoint needed: the option mapping is the
    contract."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        kinesis_reader_options,
    )

    cfg = PipelineConfig(
        source_format="kinesis-lite",
        start_position="latest",
        extra={"kinesis_stream": "input-stream", "kinesis_region": "us-east-1"},
    )
    assert kinesis_reader_options(cfg) == {
        "stream_name": "input-stream",
        "region": "us-east-1",
        "endpoint_url": "https://kinesis.us-east-1.amazonaws.com",
        "starting_position": "LATEST",
    }

    cfg_e = PipelineConfig(
        source_format="kinesis-lite",
        start_position="earliest",
        extra={
            "kinesis_stream": "s",
            "kinesis_region": "eu-west-1",
            "kinesis_endpoint": "https://localhost:4566",
        },
    )
    opts = kinesis_reader_options(cfg_e)
    assert opts["starting_position"] == "TRIM_HORIZON"
    assert opts["endpoint_url"] == "https://localhost:4566"

    import pytest

    with pytest.raises(ValueError, match="kinesis_stream"):
        kinesis_reader_options(PipelineConfig(source_format="kinesis-lite"))


def test_pipeline_observed_metrics_account_for_every_row(
    spark, wire_dir, tmp_path
):
    """The Observation-API counters must reconcile exactly with the wire
    fixture: 5 records in, 1 corrupt, 1 empty-text, 3 embedded, 0
    dead-lettered — the per-stage accounting the reference only has as
    scattered log lines. Metrics ride the existing micro-batch pass
    (no second scan), so this is free at any scale."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        observed_metrics,
    )

    cfg = PipelineConfig(
        source_format="json",
        source_path=wire_dir,
        sink_format="parquet",
        sink_path=str(tmp_path / "vectors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_dim=32,
        extra={"id_strategy": "deterministic"},
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        MetricsListener,
    )

    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        q = run_pipeline(spark, cfg)
        q.awaitTermination(120)
        expected = {
            "graft_parse": {"rows_in": 5, "rows_corrupt": 1},
            "graft_docs": {"rows_nonempty": 3},
            "graft_embed": {"rows_embedded": 3, "rows_dead_lettered": 0},
        }
        assert observed_metrics(q) == expected
        # the lifetime listener (continuous-mode path, immune to the
        # recentProgress ring buffer) must agree with the drained
        # total; listener events are delivered asynchronously, so poll
        deadline = time.time() + 30
        while time.time() < deadline and listener.totals(q.id) != expected:
            time.sleep(0.5)
        assert listener.totals(q.id) == expected
    finally:
        spark.streams.removeListener(listener)


def _counting_opensearch():
    """The in-process OpenSearch endpoint, also summing the bytes of
    every _bulk body it receives."""
    import threading

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
        FakeOpenSearchServer,
    )

    class Counting(FakeOpenSearchServer):
        bulk_bytes = 0
        _count_lock = threading.Lock()

        def _handle(self, method, path, body):
            if method == "POST" and path == "/_bulk":
                with self._count_lock:
                    self.bulk_bytes += len(body)
            return super()._handle(method, path, body)

    srv = Counting()
    return srv, srv.start()


def test_opensearch_pipeline_observed_metrics_account_for_every_row(
    spark, wire_dir, tmp_path
):
    """The OpenSearch twin of the observed-metrics test: the fused
    embed-and-index stage keeps graft_embed exact under every policy
    that lets a batch commit, and graft_sink counts the indexed
    documents and exactly the _bulk bytes the endpoint received."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        MetricsListener,
        observed_metrics,
    )

    for on_error in ("dead-letter", "drop"):
        srv, url = _counting_opensearch()
        cfg = PipelineConfig(
            source_format="json",
            source_path=wire_dir,
            sink_format="opensearch",
            checkpoint_dir=str(tmp_path / f"ckpt-{on_error}"),
            embedding_dim=32,
            on_error=on_error,
            extra={"id_strategy": "deterministic", "hosts": [url], "index": "embeddings"},
        )
        listener = MetricsListener()
        spark.streams.addListener(listener)
        try:
            q = run_pipeline(spark, cfg)
            q.awaitTermination(120)
            assert srv.bulk_bytes > 0
            expected = {
                "graft_parse": {"rows_in": 5, "rows_corrupt": 1},
                "graft_docs": {"rows_nonempty": 3},
                "graft_embed": {"rows_embedded": 3, "rows_dead_lettered": 0},
                "graft_sink": {"rows_indexed": 3, "bulk_bytes": srv.bulk_bytes},
            }
            assert observed_metrics(q) == expected, on_error
            deadline = time.time() + 30
            while time.time() < deadline and listener.totals(q.id) != expected:
                time.sleep(0.5)
            assert listener.totals(q.id) == expected, on_error
            assert sorted(d["text"] for d in srv.docs["embeddings"]) == [
                "jumps over the lazy dog",
                "packs my box",
                "the quick brown fox",
            ]
        finally:
            spark.streams.removeListener(listener)
            srv.stop()


def test_opensearch_pipeline_dead_letters_unindexable_vectors(
    spark, wire_dir, tmp_path
):
    """A NaN or wrong-length vector is a dead letter counted in
    rows_dead_lettered; it never reaches the bulk, so the micro-batch
    still commits instead of failing on every replay. Under 'drop' the
    same rows are dropped, and rows_dead_lettered counts them."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        observed_metrics,
    )

    def bad_vectors_factory(dim):
        class _Stub:
            def embed_batch(self, texts):
                return [
                    [float("nan")] * dim
                    if t.startswith("the quick")
                    else [0.5] * (dim + 1)
                    if t.startswith("jumps")
                    else [0.5] * dim
                    for t in texts
                ]

        return _Stub()

    for on_error in ("dead-letter", "drop"):
        srv, url = _counting_opensearch()
        cfg = PipelineConfig(
            source_format="json",
            source_path=wire_dir,
            sink_format="opensearch",
            checkpoint_dir=str(tmp_path / f"ckpt-{on_error}"),
            embedding_dim=8,
            on_error=on_error,
            extra={"hosts": [url], "index": "embeddings"},
        )
        try:
            q = run_pipeline(spark, cfg, embedder_factory=bad_vectors_factory)
            q.awaitTermination(120)
            assert q.exception() is None
            metrics = observed_metrics(q)
            assert metrics["graft_embed"] == {
                "rows_embedded": 1,
                "rows_dead_lettered": 2,
            }, on_error
            assert metrics["graft_sink"] == {
                "rows_indexed": 1,
                "bulk_bytes": srv.bulk_bytes,
            }, on_error
            assert [d["text"] for d in srv.docs["embeddings"]] == ["packs my box"]
        finally:
            srv.stop()


def test_kafka_reader_options_msk_iam_and_passthrough():
    """S2: the Kafka branch maps PipelineConfig onto Spark's Kafka
    connector options — bootstrap/subscribe/startingOffsets plus the
    reference's consumer-property passthrough
    (MSK-S/.../DataStreamJob.java getKafkaProperties:108-125): every
    extra key under the 'kafka.' prefix is forwarded verbatim, and
    extra.msk_iam=True force-sets the exact four IAM/SASL properties
    the reference hardcodes (:117-121) AFTER the passthrough, so a
    stray kafka.* credential option cannot override the IAM mode. No
    broker needed: the option mapping is the executable contract (the
    read path itself needs the Kafka connector jar + a broker, neither
    in this container — recorded in BASELINE.md)."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        MSK_IAM_KAFKA_OPTIONS,
        kafka_reader_options,
    )

    cfg = PipelineConfig(
        source_format="kafka",
        kafka_bootstrap="b-1.msk.example:9098,b-2.msk.example:9098",
        kafka_topic="input-topic",
        start_position="earliest",
        extra={
            "msk_iam": True,
            "kafka.client.id": "engine-1",
            # attempts to soften the forced IAM mode must lose:
            "kafka.security.protocol": "PLAINTEXT",
        },
    )
    opts = kafka_reader_options(cfg)
    assert opts["kafka.bootstrap.servers"] == (
        "b-1.msk.example:9098,b-2.msk.example:9098"
    )
    assert opts["subscribe"] == "input-topic"
    assert opts["startingOffsets"] == "earliest"  # reference :132
    assert opts["kafka.client.id"] == "engine-1"  # passthrough
    for key, val in MSK_IAM_KAFKA_OPTIONS.items():
        assert opts[key] == val  # forced, reference :117-121
    assert opts["kafka.security.protocol"] == "SASL_SSL"

    # without the flag: plain passthrough, nothing forced
    plain = kafka_reader_options(
        PipelineConfig(
            source_format="kafka",
            kafka_bootstrap="localhost:9092",
            kafka_topic="t",
            extra={"kafka.isolation.level": "read_committed"},
        )
    )
    assert plain["kafka.isolation.level"] == "read_committed"
    assert "kafka.sasl.mechanism" not in plain

    with pytest.raises(ValueError, match="kafka"):
        kafka_reader_options(PipelineConfig(source_format="kafka"))


def test_kafka_topic_bootstrap_mirrors_reference_lambda():
    """The MSK variant's topic-creation Lambda
    (MSK-S/topicCreation/index.py:37-59) as an engine bootstrap:
    ensure_topic creates once, is idempotent on reruns, and routes the
    reference's exact NewTopic parameters. A fake admin client stands
    in for the broker (kafka-python is import-gated, like boto3/delta)."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.kafka_admin import (
        ensure_topic,
    )

    calls: list = []

    class FakeAdmin:
        def __init__(self):
            self.topics = {"existing"}

        def list_topics(self):
            return sorted(self.topics)

        def create_topics(self, new_topics, validate_only):
            assert not validate_only
            for t in new_topics:
                name = t["name"] if isinstance(t, dict) else t.name
                self.topics.add(name)
                calls.append(t)

        def close(self):
            calls.append("closed")

    admin = FakeAdmin()

    def factory(bootstrap, region):
        assert bootstrap == "b-1:9098"
        assert region == "us-east-1"
        return admin

    created = ensure_topic(
        "b-1:9098",
        "input-topic",
        num_partitions=3,
        replication_factor=2,
        region="us-east-1",
        admin_factory=factory,
    )
    assert created
    spec = calls[0]
    assert spec["name"] == "input-topic"
    assert spec["num_partitions"] == 3
    assert spec["replication_factor"] == 2
    assert calls[-1] == "closed"

    # idempotent rerun: no second create, still closes the client
    assert not ensure_topic(
        "b-1:9098", "input-topic", region="us-east-1", admin_factory=factory
    )
    assert calls.count("closed") == 2
    assert len([c for c in calls if c != "closed"]) == 1

    # the real factory is import-gated with a actionable error
    with pytest.raises(NotImplementedError, match="kafka-python"):
        ensure_topic("b:9092", "t")


def test_kafka_topic_bootstrap_tolerates_create_race():
    """list-then-create is racy: a concurrent bootstrap can create the
    topic between our list and create. The broker's TopicAlreadyExists
    is the idempotent-success case, not a failure."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.kafka_admin import (
        ensure_topic,
    )

    class TopicAlreadyExistsError(Exception):
        pass

    class RacyAdmin:
        def list_topics(self):
            return []  # the racing creator hasn't landed yet...

        def create_topics(self, new_topics, validate_only):
            raise TopicAlreadyExistsError("...but wins the create")

        def close(self):
            pass

    assert not ensure_topic(
        "b:9092", "t", admin_factory=lambda b, r: RacyAdmin()
    )


def test_run_pipeline_bootstraps_kafka_topic_when_asked(spark):
    """extra.bootstrap_topic=True makes run_pipeline create the source
    topic before the stream starts — the reference's topicCreation
    custom resource in the engine's ensure_knn_index position. The
    stream build itself fails in this container (no Kafka connector
    jar), so the injected fake admin records the bootstrap and the
    failure mode proves ordering: topic DDL ran FIRST."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        run_pipeline,
    )

    created = []

    class FakeAdmin:
        def list_topics(self):
            return []

        def create_topics(self, new_topics, validate_only):
            created.extend(new_topics)

        def close(self):
            pass

    cfg = PipelineConfig(
        source_format="kafka",
        kafka_bootstrap="b-1:9098",
        kafka_topic="input-topic",
        checkpoint_dir=str(spark.conf.get("spark.sql.warehouse.dir")),
        extra={
            "bootstrap_topic": True,
            "topic_partitions": 3,
            "kafka_admin_factory": lambda b, r: FakeAdmin(),
        },
    )
    with pytest.raises(Exception):
        # the kafka connector jar is absent — the stream build raises
        # AFTER the bootstrap, which is exactly the ordering under test
        run_pipeline(spark, cfg)
    assert len(created) == 1
    spec = created[0]
    name = spec["name"] if isinstance(spec, dict) else spec.name
    parts = (
        spec["num_partitions"] if isinstance(spec, dict) else spec.num_partitions
    )
    assert (name, parts) == ("input-topic", 3)
