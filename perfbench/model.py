"""Fake Titan v2 embedding service, plugged into the production adapter
``BedrockTitanEmbedder`` through its ``client=`` seam.

The model is part of the benchmark's environment: every ``invoke_model``
waits a fixed simulated service time (sleeping, so the GIL is free, as
it is during a real network call) and answers with the Bedrock response
shape ``{"body": <bytes>}`` holding ``{"embedding": [1024 floats]}``.
The vector is a cheap deterministic function of the text: the 1024
bytes of SHAKE-128(text), each mapped to ``(b - 128) / 128``. Those
values are exact in float32, so a vector survives the pipeline's
float32 arrays bit for bit and the checker can compare it exactly, and
every dot product of two such vectors is exact in float64 in any
summation order.
"""

from __future__ import annotations

import hashlib
import json
import time

import numpy as np

DIM = 1024
SERVICE_S = 0.02  # simulated Titan round trip per text

_REPRS = [repr((b - 128) / 128) for b in range(256)]


def vector_bytes(text: str) -> bytes:
    """The raw 1024 bytes the vector of ``text`` is made from."""
    return hashlib.shake_128(text.encode("utf-8")).digest(DIM)


def vector(text: str) -> np.ndarray:
    """The fake model's embedding of ``text`` as float32."""
    raw = np.frombuffer(vector_bytes(text), dtype=np.uint8)
    return ((raw.astype(np.float32) - 128.0) / 128.0).astype(np.float32)


def vector_matches(text: str, values) -> bool:
    """True when ``values`` (a list of floats) is exactly the model's
    vector for ``text``."""
    if values is None or len(values) != DIM:
        return False
    got = np.asarray(values, dtype=np.float64) * 128.0 + 128.0
    return bytes(got.astype(np.uint8)) == vector_bytes(text) and bool(
        np.all(got == np.round(got))
    )


class FakeTitanClient:
    """``bedrock-runtime`` client stand-in."""

    def __init__(self, service_s: float = SERVICE_S):
        self.service_s = service_s

    def invoke_model(self, modelId, body, accept=None, contentType=None):
        if modelId != "amazon.titan-embed-text-v2:0":
            raise ValueError(f"unexpected model {modelId!r}")
        start = time.perf_counter()
        text = json.loads(body)["inputText"]
        payload = (
            '{"embedding":['
            + ",".join(map(_REPRS.__getitem__, vector_bytes(text)))
            + '],"inputTextTokenCount":'
            + str(len(text.split()))
            + "}"
        ).encode()
        # the remainder of the fixed service time is spent "on the wire"
        time.sleep(max(0.0, self.service_s - (time.perf_counter() - start)))
        return {"body": payload}


def titan_adapter(dim: int, client: FakeTitanClient):
    """The production Titan v2 adapter over a fake service client."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        BedrockTitanEmbedder,
    )

    if dim != DIM:
        raise ValueError(f"titan-v2 is {DIM}-d, asked for {dim}")
    return BedrockTitanEmbedder("titan-v2", client=client)


def titan_factory(dim: int):
    """``embedder_factory`` for the pipeline and ``embed()``."""
    return titan_adapter(dim, FakeTitanClient())
