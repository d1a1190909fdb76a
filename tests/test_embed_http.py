"""BedrockTitanEmbedder over REAL HTTP (a local stub server).

Every other embed test injects a fake client object, so the adapter's
actual wire path — JSON request serialization in _invoke_once, the
HTTP round trip, streaming-body response parsing — never executed.
These tests stand up a threaded http.server speaking the Titan
response shape ({"embedding": [...]}, the reference's wire contract,
BedRockEmbeddingModelAsyncCustomMessage.java:88-104) and drive the
embedder through a minimal urllib client that performs a real POST:
the only faked thing is the far end of the socket. The last tests go
through the adapter's own botocore client (``endpoint_url`` at the stub,
dummy credentials from the environment), up to the whole job run by
the CLI.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import logging
import os
import subprocess
import sys
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
    PipelineConfig,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
    BedrockTitanEmbedder,
    bedrock_client,
)

# imported by name: the package's ``operators.embed`` attribute is the function
embed_module = importlib.import_module(
    "real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed"
)


def _stub_vector(text: str, dim: int = 4) -> list[float]:
    return [float((len(text) + i) % 7) for i in range(dim)]


# dummy credentials for botocore's default chain; with them the chain
# stops at the environment and never asks an instance metadata service
AWS_ENV = {
    "AWS_ACCESS_KEY_ID": "test",
    "AWS_SECRET_ACCESS_KEY": "test",
    "AWS_EC2_METADATA_DISABLED": "true",
}


class _TitanStub(BaseHTTPRequestHandler):
    """POST /model/{modelId}/invoke -> {"embedding": [...]} of
    server.dim values. server.throttle[text] = N fails the first N
    attempts with Bedrock's 429 ThrottlingException."""

    def do_POST(self):  # noqa: N802 - http.server API
        length = int(self.headers.get("Content-Length", "0"))
        raw = self.rfile.read(length)
        payload = json.loads(raw)
        srv = self.server
        with srv.lock:
            srv.requests.append(
                {
                    "path": self.path,
                    "content_type": self.headers.get("Content-Type"),
                    "accept": self.headers.get("Accept"),
                    "payload": payload,
                }
            )
            text = payload.get("inputText", "")
            srv.attempts[text] = srv.attempts.get(text, 0) + 1
            attempt = srv.attempts[text]
        if attempt <= srv.throttle.get(text, 0):
            body = b'{"message": "Too many requests"}'
            self.send_response(429)
            self.send_header("x-amzn-ErrorType", "ThrottlingException")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        body = json.dumps({"embedding": _stub_vector(text, srv.dim)}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # silence per-request stderr noise
        pass


class _HttpInvokeClient:
    """The smallest client honoring the boto3 invoke_model call shape:
    a real urllib POST whose response object exposes .read() (the
    streaming-body form _invoke_once must handle)."""

    def __init__(self, base_url: str):
        self.base_url = base_url

    def invoke_model(self, modelId, body, accept, contentType):  # noqa: N803
        req = urllib.request.Request(
            f"{self.base_url}/model/{modelId}/invoke",
            data=body.encode("utf-8"),
            headers={"Content-Type": contentType, "Accept": accept},
            method="POST",
        )
        resp = urllib.request.urlopen(req, timeout=10)
        return {"body": resp}


class _KeepAliveTitanStub(_TitanStub):
    """The stub over HTTP/1.1 keep-alive, as Bedrock serves it, counting
    the client connections it accepts in server.connections."""

    protocol_version = "HTTP/1.1"

    def setup(self):
        super().setup()
        with self.server.lock:
            self.server.connections += 1


@contextlib.contextmanager
def _serve(handler):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    srv.lock = threading.Lock()
    srv.requests = []
    srv.attempts = {}
    srv.throttle = {}
    srv.dim = 4
    srv.connections = 0
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


@pytest.fixture()
def titan_stub():
    with _serve(_TitanStub) as stub:
        yield stub


@pytest.fixture()
def aws_env(monkeypatch):
    for key in [k for k in os.environ if k.startswith("AWS_")]:
        monkeypatch.delenv(key)
    for key, val in AWS_ENV.items():
        monkeypatch.setenv(key, val)


def _boto3_embedder(url: str, model_key: str = "titan-v2"):
    """The adapter over its own botocore client, at the stub."""
    return BedrockTitanEmbedder(model_key, region="us-east-1", endpoint_url=url)


def test_http_roundtrip_executes_real_serialization(titan_stub):
    srv, url = titan_stub
    emb = BedrockTitanEmbedder(model_key="titan-v2", client=_HttpInvokeClient(url))
    texts = ["alpha", "beta gamma", None, "delta"]
    got = emb.embed_batch(texts)
    assert got[2] is None and emb.row_errors == [None] * 4
    for t, v in zip(texts, got):
        if t is not None:
            assert v == _stub_vector(t)

    # the wire contract the reference speaks: model id in the path,
    # JSON content type, and a body that is EXACTLY {"inputText": ...}
    assert all(
        r["path"] == "/model/amazon.titan-embed-text-v2:0/invoke"
        for r in srv.requests
    )
    assert all(r["content_type"] == "application/json" for r in srv.requests)
    assert all(r["accept"] == "application/json" for r in srv.requests)
    assert all(set(r["payload"]) == {"inputText"} for r in srv.requests)
    assert {r["payload"]["inputText"] for r in srv.requests} == {
        "alpha",
        "beta gamma",
        "delta",
    }


def test_http_429_retries_through_delay_heap(titan_stub, aws_env, monkeypatch):
    """Two 429s then success: the non-blocking retry scheduler must
    re-invoke over real HTTP until the throttle clears, healthy rows
    unaffected."""
    srv, url = titan_stub
    srv.throttle["hot"] = 2
    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 3)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.02)
    monkeypatch.setattr(embed_module, "MAX_IN_FLIGHT", 4)
    emb = _boto3_embedder(url, "titan-v1")
    got = emb.embed_batch(["hot", "cold", "warm"])
    assert emb.row_errors == [None, None, None]
    assert got[0] == _stub_vector("hot")
    assert got[1] == _stub_vector("cold")
    assert srv.attempts["hot"] == 3  # 2 throttled + 1 success
    assert srv.attempts["cold"] == 1
    # titan-v1 maps to the v1 model id (the reference's model map)
    assert any(
        "/model/amazon.titan-embed-text-v1/invoke" == r["path"]
        for r in srv.requests
    )


def test_http_exhausted_retries_dead_letter(titan_stub, aws_env, monkeypatch):
    """A text the server throttles past aws.THROTTLE_RETRIES
    dead-letters with the HTTP error in row_errors; the rest of the
    batch embeds."""
    srv, url = titan_stub
    srv.throttle["poison"] = 99
    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 1)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    monkeypatch.setattr(embed_module, "MAX_IN_FLIGHT", 2)
    emb = _boto3_embedder(url)
    got = emb.embed_batch(["poison", "fine"])
    assert got[0] is None and got[1] == _stub_vector("fine")
    assert emb.row_errors[1] is None
    # botocore names the error code of the 429, not its status
    assert emb.row_errors[0] is not None
    assert "ThrottlingException" in emb.row_errors[0]
    assert srv.attempts["poison"] == 2  # initial + 1 retry


def test_http_single_row_batch_retry_path(titan_stub, aws_env, monkeypatch):
    """A one-row batch goes through the same pool scheduler, speaks
    real HTTP and retries."""
    srv, url = titan_stub
    srv.throttle["solo"] = 1
    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 2)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    emb = _boto3_embedder(url)
    got = emb.embed_batch(["solo"])
    assert got[0] == _stub_vector("solo")
    assert emb.row_errors == [None]
    assert srv.attempts["solo"] == 2


# botocore sends the model id percent-encoded in the path
_V2_PATH = "/model/amazon.titan-embed-text-v2%3A0/invoke"


def test_boto3_client_makes_one_attempt_per_retry(titan_stub, aws_env, monkeypatch):
    """The adapter's own client does not retry a throttled call: a text
    throttled past aws.THROTTLE_RETRIES reaches Bedrock exactly
    aws.THROTTLE_RETRIES + 1 times, every wait on the delay heap rather
    than inside botocore, and the waits are the package's one schedule,
    aws.backoff(0), aws.backoff(1), ... in order."""
    srv, url = titan_stub
    srv.throttle["poison"] = 99
    asked = []
    monkeypatch.setattr(aws, "backoff", lambda attempt: asked.append(attempt) or 0.0)
    emb = _boto3_embedder(url)
    got = emb.embed_batch(["poison", "fine"])
    assert got[1] == _stub_vector("fine") and got[0] is None
    assert "ThrottlingException" in emb.row_errors[0]
    assert srv.attempts == {"poison": aws.THROTTLE_RETRIES + 1, "fine": 1}
    assert asked == list(range(aws.THROTTLE_RETRIES))
    assert {r["path"] for r in srv.requests} == {_V2_PATH}


def test_bedrock_client_has_the_one_timeout(aws_env):
    """Bedrock's connect and read timeouts are the package's one
    timeout, not botocore's 60 s, and botocore makes one attempt."""
    config = bedrock_client("us-east-1", "http://127.0.0.1:9").meta.config
    assert config.connect_timeout == config.read_timeout == aws.TIMEOUT_S
    assert config.retries["total_max_attempts"] == 1
    assert config.max_pool_connections == embed_module.MAX_IN_FLIGHT


def test_embedders_with_same_settings_share_one_client(aws_env):
    def build(key, endpoint):
        return BedrockTitanEmbedder(key, region="us-east-1", endpoint_url=endpoint)

    one = build("titan-v2", "http://127.0.0.1:9")
    assert build("titan-v1", "http://127.0.0.1:9")._client is one._client
    assert build("titan-v2", "http://127.0.0.1:10")._client is not one._client
    assert (one.model_id, one.dim) == ("amazon.titan-embed-text-v2:0", 1024)


def test_bedrock_pool_holds_every_in_flight_call(aws_env, caplog):
    """The shared client's connection pool holds the embedder's
    ``MAX_IN_FLIGHT`` in-flight calls: over three batches on a
    keep-alive endpoint it opens at most that many connections and
    never discards one for a full pool."""
    caplog.set_level(logging.WARNING, logger="urllib3.connectionpool")
    with _serve(_KeepAliveTitanStub) as (srv, url):
        emb = BedrockTitanEmbedder("titan-v2", region="us-east-1", endpoint_url=url)
        for batch in range(3):
            texts = [f"text {batch} {i}" for i in range(64)]
            assert emb.embed_batch(texts) == [_stub_vector(t) for t in texts]
        assert len(srv.requests) == 3 * 64
        assert 0 < srv.connections <= embed_module.MAX_IN_FLIGHT == 32
    assert not [r for r in caplog.records if "pool is full" in r.getMessage()]


def test_titan_key_without_factory_embeds_through_bedrock(
    spark, titan_stub, tmp_path, monkeypatch
):
    """With no injected factory, embedding_model='titan-v2' embeds
    through BedrockTitanEmbedder: every stored vector is the endpoint's
    1024-d answer for its text."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming import (
        run_pipeline,
    )

    srv, url = titan_stub
    srv.dim = 1024
    # Python workers take their environment from the context's map
    for key, val in AWS_ENV.items():
        monkeypatch.setitem(spark.sparkContext.environment, key, val)
    src = tmp_path / "in"
    src.mkdir()
    texts = ["alpha beta", "gamma", "delta epsilon zeta"]
    (src / "batch.jsonl").write_text(
        "".join(
            json.dumps({"text": t, "created_at": "2024-01-01T00:00:00.000Z"}) + "\n"
            for t in texts
        )
    )
    sink = str(tmp_path / "vectors")
    cfg = PipelineConfig(
        source_path=str(src),
        sink_path=sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_model="titan-v2",
        on_error="fail",
        extra={"bedrock_region": "us-east-1", "bedrock_endpoint": url},
    )
    run_pipeline(spark, cfg).awaitTermination(120)
    rows = spark.read.parquet(sink).collect()
    assert {r.text: list(r.passage_embedding) for r in rows} == {
        t: _stub_vector(t, 1024) for t in texts
    }
    assert {r["path"] for r in srv.requests} == {_V2_PATH}


def test_cli_runs_kinesis_titan_opensearch_job(titan_stub, tmp_path):
    """The paper's job from one property file: the CLI, in its own
    process, drains a Kinesis stream through Titan into OpenSearch, and
    every indexed vector is the endpoint's answer for its text. The file
    holds no keys: every Kinesis and OpenSearch request is signed with
    the environment's, through the one credential chain."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.docgen import (
        wire_record,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_fake import (
        FakeKinesisServer,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
        FakeOpenSearchServer,
    )

    srv, url = titan_stub
    srv.dim = 1024
    shards = {f"shardId-{i:012d}": [] for i in range(2)}
    texts = []
    for doc_id in range(12):
        _, wire = wire_record(7, doc_id)
        shards[f"shardId-{doc_id % 2:012d}"].append((str(doc_id), wire.encode()))
        texts.append(json.loads(wire)["text"])
    job = tmp_path / "job.json"
    env = {k: v for k, v in os.environ.items() if not k.startswith("AWS_")}
    env.update(AWS_ENV, SPARK_GRAFT_CPUS="2")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ksrv = FakeKinesisServer("docs", shards)
    osrv = FakeOpenSearchServer()
    kurl, ourl = ksrv.start(), osrv.start()
    try:
        job.write_text(
            json.dumps(
                {
                    "source_format": "kinesis-lite",
                    "start_position": "earliest",
                    "embedding_model": "titan-v2",
                    "on_error": "fail",
                    "sink_format": "opensearch",
                    "checkpoint_dir": str(tmp_path / "ckpt"),
                    "extra": {
                        "kinesis_stream": "docs",
                        "kinesis_region": "us-east-1",
                        "kinesis_endpoint": kurl,
                        "bedrock_region": "us-east-1",
                        "bedrock_endpoint": url,
                        "hosts": [ourl],
                        "index": "embeddings",
                        "aws_region": "us-east-1",
                    },
                }
            )
        )
        proc = subprocess.run(
            [
                sys.executable,
                "-m",
                "real_time_genai_embeddings_for_rag_with_apache_flink_spark",
                "--config",
                str(job),
            ],
            cwd=repo,
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
    finally:
        ksrv.stop()
        osrv.stop()
    assert proc.returncode == 0, proc.stderr[-4000:]
    mapping = osrv.indices["embeddings"]["mappings"]["properties"]
    assert mapping["passage_embedding"]["dimension"] == 1024
    docs = osrv.docs["embeddings"]
    assert sorted(d["text"] for d in docs) == sorted(texts)
    for d in docs:
        assert d["passage_embedding"] == _stub_vector(d["text"], 1024)
    assert {r["path"] for r in srv.requests} == {_V2_PATH}
    assert ksrv.access_keys and set(ksrv.access_keys) == {"test"}
    assert osrv.access_keys and set(osrv.access_keys) == {"test"}
