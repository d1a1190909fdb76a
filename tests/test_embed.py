"""Embedding operator unit tests (SURVEY.md §5 property tests).

Covers the semantics the reference leaves implicit or broken: the
empty-text filter (DataStreamJob.java:146 throws on missing keys), the
error policy (BedRockEmbeddingModelAsyncCustomMessage.java:109-112 emits
null, which would NPE its own sink), and embedding-dimension invariance
(index-creation-function/lambda_function.py:58-61).
"""

from __future__ import annotations

import importlib
import math

import pytest
from pyspark.sql import functions as F

from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
    DeterministicEmbedder,
    embed,
)


def _exploding_embedder():
    # Defined inside a function so cloudpickle ships it by value (a
    # module-level class in a test file isn't importable on workers).
    class ExplodingEmbedder:
        def __init__(self, dim: int = 8):
            self.dim = dim

        def embed_batch(self, texts):
            raise RuntimeError("backend down")

    return ExplodingEmbedder


def test_deterministic_and_normalized():
    e = DeterministicEmbedder(dim=32)
    a1 = e.embed_batch(["hello world"])[0]
    a2 = DeterministicEmbedder(dim=32).embed_batch(["hello world"])[0]
    assert a1 == a2
    assert abs(math.sqrt(sum(x * x for x in a1)) - 1.0) < 1e-5


@pytest.mark.parametrize("dim", [64, 1024, 1536])
def test_dim_invariance(dim):
    e = DeterministicEmbedder(dim=dim)
    vec = e.embed_batch(["some text"])[0]
    assert len(vec) == dim


def test_embed_dataframe_schema(spark):
    df = spark.createDataFrame([("a b c",), ("d e",)], ["text"])
    out = embed(df, dim=16)
    rows = out.collect()
    assert out.schema["embedding"].dataType.simpleString() == "array<float>"
    assert all(len(r.embedding) == 16 for r in rows)
    assert all(r.error is None for r in rows)


def test_embed_null_text_dead_letters(spark):
    df = spark.createDataFrame([("x",), (None,)], "text string")
    rows = embed(df, dim=8).collect()
    by_text = {r.text: r for r in rows}
    assert by_text["x"].embedding is not None
    assert by_text[None].embedding is None


def test_on_error_drop(spark):
    df = spark.createDataFrame([("x",)], ["text"])
    out = embed(df, embedder_factory=_exploding_embedder(), dim=8, on_error="drop")
    assert out.count() == 0
    assert "error" not in out.columns


def test_on_error_dead_letter(spark):
    df = spark.createDataFrame([("x",)], ["text"])
    rows = embed(
        df, embedder_factory=_exploding_embedder(), dim=8, on_error="dead-letter"
    ).collect()
    assert rows[0].embedding is None
    assert "RuntimeError" in rows[0].error


def test_on_error_fail_raises(spark):
    df = spark.createDataFrame([("x",)], ["text"])
    out = embed(df, embedder_factory=_exploding_embedder(), dim=8, on_error="fail")
    with pytest.raises(Exception, match="backend down"):
        out.collect()


def test_on_error_unknown_policy(spark):
    df = spark.createDataFrame([("x",)], ["text"])
    with pytest.raises(ValueError, match="unknown on_error"):
        embed(df, dim=8, on_error="bogus")


def test_embed_distinct_matches_plain_embed(spark):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed_distinct,
    )

    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other"), (4, "Same   TEXT")],
        ["id", "text"],
    )
    plain = {r.id: r.embedding for r in embed(df, dim=16).collect()}
    deduped = {r.id: r.embedding for r in embed_distinct(df, dim=16).collect()}
    assert set(plain) == set(deduped) == {1, 2, 3, 4}
    # rows 1/2/4 normalize to the same fingerprint -> identical vectors
    assert deduped[1] == deduped[2] == deduped[4]
    for i in plain:
        assert plain[i] == deduped[i]


def test_embed_distinct_drop_policy(spark):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed_distinct,
    )

    df = spark.createDataFrame([(1, "x"), (2, "x")], ["id", "text"])
    out = embed_distinct(
        df, embedder_factory=_exploding_embedder(), dim=8, on_error="drop"
    )
    assert out.count() == 0


def _client_error(code: str, status: int):
    """The botocore error Bedrock's client raises for an HTTP ``status``
    answer with error ``code``."""
    from botocore.exceptions import ClientError

    return ClientError(
        {
            "Error": {"Code": code, "Message": "simulated"},
            "ResponseMetadata": {"HTTPStatusCode": status},
        },
        "InvokeModel",
    )


@pytest.fixture()
def policy(monkeypatch):
    """Sets the embedder's retry bound, first pause and in-flight bound
    for one test: ``policy(retries, backoff_s, in_flight)``."""

    def set_policy(retries=aws.THROTTLE_RETRIES, backoff_s=0.0, in_flight=32):
        monkeypatch.setattr(aws, "THROTTLE_RETRIES", retries)
        monkeypatch.setattr(aws, "BACKOFF_S", backoff_s)
        # imported by name: the package's ``operators.embed`` attribute
        # is the function
        module = importlib.import_module(
            "real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed"
        )
        monkeypatch.setattr(module, "MAX_IN_FLIGHT", in_flight)

    return set_policy


class _StubBedrockClient:
    """Records invoke_model requests; scripted per-text behavior:
    'flaky ...' is throttled (fail_times) then succeeds, 'poison ...' is
    always throttled. Response shape mirrors the Bedrock runtime API."""

    def __init__(self, dim=4, fail_times=2):
        self.dim = dim
        self.fail_times = fail_times
        self.requests = []
        self._failures = {}

    def invoke_model(self, modelId, body, accept, contentType):
        import io
        import json

        self.requests.append({"modelId": modelId, "body": body})
        text = json.loads(body)["inputText"]
        if text.startswith("poison"):
            raise _client_error("ThrottlingException", 429)
        if text.startswith("flaky"):
            n = self._failures.get(text, 0)
            if n < self.fail_times:
                self._failures[text] = n + 1
                raise _client_error("ThrottlingException", 429)
        vec = [float(len(text) + i) for i in range(self.dim)]
        return {"body": io.BytesIO(json.dumps({"embedding": vec}).encode())}


def test_bedrock_adapter_request_response_mapping():
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    import json

    for key, model_id, dim in (
        ("titan-v1", "amazon.titan-embed-text-v1", 1536),
        ("titan-v2", "amazon.titan-embed-text-v2:0", 1024),
    ):
        client = _StubBedrockClient()
        emb = BedrockTitanEmbedder(model_key=key, client=client)
        assert emb.dim == dim
        vecs = emb.embed_batch(["hello world", None])
        # request shape: the reference's exact body (BedRockEmbedding
        # ModelAsyncCustomMessage.java:88-96) and model map (:80-85)
        (req,) = client.requests  # None text never hits the API
        assert req["modelId"] == model_id
        assert json.loads(req["body"]) == {"inputText": "hello world"}
        assert vecs[0] == [float(len("hello world") + i) for i in range(4)]
        assert vecs[1] is None
        assert emb.row_errors == [None, None]


def test_bedrock_adapter_retries_then_succeeds(policy):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=3)
    client = _StubBedrockClient(fail_times=2)
    emb = BedrockTitanEmbedder(client=client)
    vecs = emb.embed_batch(["flaky doc"])
    assert vecs[0] is not None
    assert emb.row_errors == [None]
    # initial attempt + 2 failures retried
    assert len(client.requests) == 3


def test_bedrock_adapter_per_row_dead_letter(policy):
    """One poisoned text must dead-letter ONLY its own row — the other
    texts in the batch still embed (the reference would null the record
    and crash its sink; per-row isolation is the fix)."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=1)
    client = _StubBedrockClient()
    emb = BedrockTitanEmbedder(client=client)
    vecs = emb.embed_batch(["good doc", "poison doc", "another good"])
    assert vecs[0] is not None and vecs[2] is not None
    assert vecs[1] is None
    assert emb.row_errors[0] is None and emb.row_errors[2] is None
    assert "ThrottlingException" in emb.row_errors[1]


def test_bedrock_rejected_request_is_not_retried(policy):
    """A request Bedrock rejects (400 ValidationException) would be
    rejected again: it is sent once and its row dead-letters at once,
    instead of holding the chunk through the backoff schedule; the
    other rows embed."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy()

    class RejectingClient(_StubBedrockClient):
        def invoke_model(self, modelId, body, accept, contentType):
            if body == '{"inputText": "bad input"}':
                self.requests.append({"modelId": modelId, "body": body})
                raise _client_error("ValidationException", 400)
            return super().invoke_model(modelId, body, accept, contentType)

    client = RejectingClient()
    emb = BedrockTitanEmbedder(client=client)
    texts = ["bad input"] + [f"fine row {i}" for i in range(10)]
    vecs = emb.embed_batch(texts)
    sent = [r["body"] for r in client.requests]
    assert sent.count('{"inputText": "bad input"}') == 1
    assert vecs[0] is None and "ValidationException" in emb.row_errors[0]
    assert emb.row_errors[1:] == [None] * 10
    for t, v in zip(texts[1:], vecs[1:]):
        assert v == [float(len(t) + i) for i in range(4)]


def test_bedrock_read_timeout_is_retried_then_dead_letters(policy):
    """No answer at all (a read timeout) may succeed later, so it is
    retried up to aws.THROTTLE_RETRIES times before its row
    dead-letters."""
    from botocore.exceptions import ReadTimeoutError

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=2)

    class SilentClient(_StubBedrockClient):
        def invoke_model(self, modelId, body, accept, contentType):
            self.requests.append({"modelId": modelId, "body": body})
            raise ReadTimeoutError(endpoint_url="http://bedrock.invalid")

    client = SilentClient()
    emb = BedrockTitanEmbedder(client=client)
    assert emb.embed_batch(["slow"]) == [None]
    assert len(client.requests) == aws.THROTTLE_RETRIES + 1 == 3
    assert "ReadTimeoutError" in emb.row_errors[0]


def test_bedrock_rows_dead_letter_through_embed(spark):
    """End-to-end through embed(): per-row adapter failures land
    in the error column under the dead-letter policy."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
        embed,
    )

    def factory(dim):
        # the stub client is defined inside the closure so cloudpickle
        # ships it by value to executor workers (a test-module class
        # would pickle by reference and fail to import there)
        import io
        import json

        class StubClient:
            def invoke_model(self, modelId, body, accept, contentType):
                text = json.loads(body)["inputText"]
                if text.startswith("poison"):
                    raise RuntimeError("ThrottlingException: simulated")
                vec = [float(i) for i in range(4)]
                return {
                    "body": io.BytesIO(json.dumps({"embedding": vec}).encode())
                }

        # a RuntimeError is not botocore's: dead-lettered, not retried
        return BedrockTitanEmbedder(client=StubClient())

    df = spark.createDataFrame(
        [("good doc",), ("poison doc",)], ["text"]
    ).repartition(1)
    out = embed(df, embedder_factory=factory, dim=4).collect()
    by_text = {r["text"]: r for r in out}
    assert by_text["good doc"]["error"] is None
    assert by_text["good doc"]["embedding"] is not None
    assert by_text["poison doc"]["embedding"] is None
    assert "ThrottlingException" in by_text["poison doc"]["error"]


class _BlockingBedrockClient:
    """invoke_model blocks until `expected` calls are simultaneously
    in flight (or `timeout` elapses) — proves the adapter actually
    overlaps calls instead of serializing them. Thread-safe."""

    def __init__(self, dim=4, expected=4, timeout=5.0):
        import threading

        self.dim = dim
        self.barrier = threading.Barrier(expected, timeout=timeout)
        self.peak_inflight = 0
        self._inflight = 0
        self._lock = threading.Lock()

    def invoke_model(self, modelId, body, accept, contentType):
        import io
        import json

        with self._lock:
            self._inflight += 1
            self.peak_inflight = max(self.peak_inflight, self._inflight)
        try:
            self.barrier.wait()
            text = json.loads(body)["inputText"]
            vec = [float(len(text) + i) for i in range(self.dim)]
            return {"body": io.BytesIO(json.dumps({"embedding": vec}).encode())}
        finally:
            with self._lock:
                self._inflight -= 1


def test_bedrock_adapter_overlaps_invokes(policy):
    """The reference holds up to 1000 unordered Bedrock calls in flight
    (DataStreamJob.java:148-154); the adapter's bounded pool must
    actually overlap calls — with sequential invokes this test would
    deadlock on the barrier (each call waits for 4 simultaneous
    callers), so passing proves >= 4 in-flight."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=0, in_flight=4)
    client = _BlockingBedrockClient(expected=4)
    emb = BedrockTitanEmbedder(client=client)
    texts = [f"doc number {i}" for i in range(8)]
    vecs = emb.embed_batch(texts)
    assert client.peak_inflight >= 4
    # order preserved: each row's vector derives from its own text
    for t, v in zip(texts, vecs):
        assert v == [float(len(t) + i) for i in range(4)]
    assert emb.row_errors == [None] * 8


def test_bedrock_concurrent_retry_and_dead_letter_order(policy):
    """Concurrency must not scramble the per-row dead-letter alignment:
    flaky texts retry (on their own pool thread) and recover, poison
    texts dead-letter, and every result lands on its source row."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=2, in_flight=8)
    client = _StubBedrockClient(fail_times=1)
    emb = BedrockTitanEmbedder(client=client)
    texts = ["good a", "flaky b", None, "poison c", "good d"]
    vecs = emb.embed_batch(texts)
    assert vecs[0] is not None and vecs[1] is not None and vecs[4] is not None
    assert vecs[2] is None and vecs[3] is None
    assert emb.row_errors[2] is None  # null text is not an error
    assert "ThrottlingException" in emb.row_errors[3]
    assert [emb.row_errors[i] for i in (0, 1, 4)] == [None, None, None]
    # row->vector alignment under concurrency
    for i in (0, 1, 4):
        assert vecs[i] == [float(len(texts[i]) + j) for j in range(4)]


def test_bedrock_sequential_when_concurrency_one(policy):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=0, in_flight=1)
    client = _StubBedrockClient()
    emb = BedrockTitanEmbedder(client=client)
    vecs = emb.embed_batch(["one", "two"])
    assert len(client.requests) == 2
    assert vecs[0] == [float(len("one") + i) for i in range(4)]


def test_bedrock_backoff_does_not_block_healthy_rows(policy):
    """Retry backoff must not park the pool: with ONE worker (the
    worst case), a throttled row's backoff window has to be spent
    serving the healthy rows, so the request order is flaky#1, all
    healthy rows, flaky#2, flaky#3 — the old sleep-on-pool-thread shape
    would run flaky#1,#2,#3 before any healthy row."""
    import json

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    policy(retries=2, backoff_s=0.3, in_flight=1)
    client = _StubBedrockClient(fail_times=2)
    emb = BedrockTitanEmbedder(client=client)
    texts = ["flaky slow row"] + [f"healthy row {i}" for i in range(10)]
    vecs = emb.embed_batch(texts)

    assert all(v is not None for v in vecs)
    assert emb.row_errors == [None] * len(texts)
    order = [json.loads(r["body"])["inputText"] for r in client.requests]
    assert len(order) == 13  # 10 healthy + 3 flaky attempts
    flaky_positions = [k for k, t in enumerate(order) if t.startswith("flaky")]
    assert flaky_positions[0] == 0
    # every healthy request was served BEFORE the flaky row's retry
    assert flaky_positions[1] >= 11, (
        f"retry ran at position {flaky_positions[1]}; healthy rows were "
        f"blocked behind the backoff: {order}"
    )
    assert flaky_positions[2] == 12


def _fixed_embedder():
    """A stub whose vectors are exact float32 values: 'short ...' texts
    get one value too few (an unindexable vector), NULL texts None."""

    class FixedEmbedder:
        def __init__(self, dim: int = 4):
            self.dim = dim

        def embed_batch(self, texts):
            return [
                None
                if t is None
                else [0.5] * (self.dim - 1)
                if t.startswith("short")
                else [len(t) + i / 4 for i in range(self.dim)]
                for t in texts
            ]

    return FixedEmbedder


_CONTRACT_ROWS = [
    (1, "alpha", "2024-01-01 00:00:00", 0.5),
    (2, None, None, None),
    (3, "short vector", "2024-01-02 12:30:00", 1.5),
    (4, "gamma delta", "2024-01-03 23:59:59", None),
    (5, "", "2024-01-04 00:00:01", 2.5),
]


@pytest.mark.parametrize("on_error", ["dead-letter", "drop", "fail"])
def test_embed_passes_every_column_through_under_each_policy(spark, on_error):
    """Every input column keeps its name, type, order and values
    (timestamps and NULL texts included), and the rows keep their order;
    ``embedding`` follows, and ``error`` only under 'dead-letter'. A
    wrong-length vector is kept with its error under 'dead-letter',
    left out under 'drop', and fails the job under 'fail'."""
    from pyspark.sql.types import ArrayType, FloatType, StringType, StructField

    df = spark.createDataFrame(
        _CONTRACT_ROWS, "id long, text string, created_at string, score double"
    ).withColumn("created_at", F.to_timestamp("created_at"))
    out = embed(
        df, embedder_factory=_fixed_embedder(), dim=4, batch_size=2, on_error=on_error
    )
    extra = [StructField("embedding", ArrayType(FloatType()), True)]
    if on_error == "dead-letter":
        extra.append(StructField("error", StringType(), True))
    assert out.schema.fields == df.schema.fields + extra
    want = []
    for i, text, created, score in df.collect():
        if text is None:
            vec, err = None, None
        elif text.startswith("short"):
            vec, err = [0.5] * 3, "unindexable vector: 3 values, index has 4"
        else:
            vec, err = [len(text) + j / 4 for j in range(4)], None
        if on_error == "dead-letter":
            want.append((i, text, created, score, vec, err))
        elif not err:
            want.append((i, text, created, score, vec))
    if on_error == "fail":
        with pytest.raises(Exception, match="unindexable vector"):
            out.collect()
        out = embed(
            df.filter(F.col("id") != 3), embedder_factory=_fixed_embedder(), dim=4,
            batch_size=2, on_error="fail",
        )
    assert [tuple(r) for r in out.collect()] == want


def test_embed_runs_on_a_streaming_input(spark, tmp_path):
    """A streaming DataFrame embeds as a batch one does."""
    src = str(tmp_path / "in")
    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, "c d e")], "id long, text string"
    )
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    assert stream.isStreaming
    q = (
        embed(stream, dim=8)
        .writeStream.format("memory")
        .queryName("embed_streaming_input")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        assert q.exception() is None
        got = spark.table("embed_streaming_input").orderBy("id").collect()
    finally:
        q.stop()
    want = embed(df, dim=8).orderBy("id").collect()
    assert got == want
    assert [r.error for r in got] == [None] * 3
