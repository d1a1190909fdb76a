"""BedrockTitanEmbedder over REAL HTTP (a local stub server).

Every other embed test injects a fake client object, so the adapter's
actual wire path — JSON request serialization in _invoke_once, the
HTTP round trip, streaming-body response parsing — never executed.
These tests stand up a threaded http.server speaking the Titan
response shape ({"embedding": [...]}, the reference's wire contract,
BedRockEmbeddingModelAsyncCustomMessage.java:88-104) and drive the
embedder through a minimal urllib client that performs a real POST:
the only faked thing is the far end of the socket. boto3 is not
required — the client parameter is the adapter's injection seam.
"""

from __future__ import annotations

import json
import threading
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
    BedrockTitanEmbedder,
)


def _stub_vector(text: str, dim: int = 4) -> list[float]:
    return [float((len(text) + i) % 7) for i in range(dim)]


class _TitanStub(BaseHTTPRequestHandler):
    """POST /model/{modelId}/invoke -> {"embedding": [...]}.
    server.throttle[text] = N fails the first N attempts with 429."""

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
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        body = json.dumps({"embedding": _stub_vector(text)}).encode()
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


@pytest.fixture()
def titan_stub():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _TitanStub)
    srv.lock = threading.Lock()
    srv.requests = []
    srv.attempts = {}
    srv.throttle = {}
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}"
    finally:
        srv.shutdown()
        srv.server_close()


def test_http_roundtrip_executes_real_serialization(titan_stub):
    srv, url = titan_stub
    emb = BedrockTitanEmbedder(
        model_key="titan-v2", client=_HttpInvokeClient(url), max_retries=0
    )
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


def test_http_429_retries_through_delay_heap(titan_stub):
    """Two 429s then success: the non-blocking retry scheduler must
    re-invoke over real HTTP until the throttle clears, healthy rows
    unaffected."""
    srv, url = titan_stub
    srv.throttle["hot"] = 2
    emb = BedrockTitanEmbedder(
        model_key="titan-v1",
        client=_HttpInvokeClient(url),
        max_retries=3,
        retry_base_seconds=0.02,
        max_concurrency=4,
    )
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


def test_http_exhausted_retries_dead_letter(titan_stub):
    """A text the server throttles past max_retries dead-letters with
    the HTTP error in row_errors; the rest of the batch embeds."""
    srv, url = titan_stub
    srv.throttle["poison"] = 99
    emb = BedrockTitanEmbedder(
        client=_HttpInvokeClient(url),
        max_retries=1,
        retry_base_seconds=0.01,
        max_concurrency=2,
    )
    got = emb.embed_batch(["poison", "fine"])
    assert got[0] is None and got[1] == _stub_vector("fine")
    assert emb.row_errors[1] is None
    assert emb.row_errors[0] is not None and "429" in emb.row_errors[0]
    assert srv.attempts["poison"] == 2  # initial + 1 retry


def test_http_single_row_batch_retry_path(titan_stub):
    """A one-row batch goes through the same pool scheduler, speaks
    real HTTP and retries."""
    srv, url = titan_stub
    srv.throttle["solo"] = 1
    emb = BedrockTitanEmbedder(
        client=_HttpInvokeClient(url), max_retries=2, retry_base_seconds=0.01
    )
    got = emb.embed_batch(["solo"])
    assert got[0] == _stub_vector("solo")
    assert emb.row_errors == [None]
    assert srv.attempts["solo"] == 2
