"""Spans for the traced pass, recorded only at the program's public
seams and only from benchmark code:

- ``traced_embedder_factory``: the pipeline's ``embedder_factory`` and
  ``embed()``'s factory, wrapping the production Titan adapter and the
  fake model client (model calls, calls in flight);
- ``traced_sink_factory``: the sink's ``cfg.extra["client_factory"]``,
  wrapping ``http_bulk`` and the client's ``request``;
- ``TraceListener``: a ``StreamingQueryListener`` reading each
  trigger's ``durationMs`` and ``observedMetrics``.

Worker-side spans (embed, sink) are appended, one JSON line per span, to
a per-process file in the run's trace directory and merged when the run
ends; driver-side spans stay in memory. Span times are ``time.time()``
so spans from different processes share one clock.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time
from collections import Counter

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
    MetricsListener,
)

from .model import FakeTitanClient, titan_adapter


def _emit(trace_dir: str, span: dict) -> None:
    span["pid"] = os.getpid()
    with open(os.path.join(trace_dir, f"spans-{os.getpid()}.jsonl"), "a") as fh:
        fh.write(json.dumps(span) + "\n")


def load_spans(trace_dir: str) -> list[dict]:
    spans = []
    for path in sorted(glob.glob(os.path.join(trace_dir, "spans-*.jsonl"))):
        with open(path) as fh:
            spans.extend(json.loads(line) for line in fh if line.strip())
    return spans


class _ProbedClient(FakeTitanClient):
    """The fake model client, counting calls and calls in flight."""

    def __init__(self):
        super().__init__()
        self._lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.calls = 0
        self.inflight = 0
        self.inflight_hist: Counter = Counter()

    def invoke_model(self, **kwargs):
        with self._lock:
            self.calls += 1
            self.inflight += 1
            self.inflight_hist[self.inflight] += 1
        try:
            return super().invoke_model(**kwargs)
        finally:
            with self._lock:
                self.inflight -= 1


class _TracedEmbedder:
    def __init__(self, inner, client: _ProbedClient, trace_dir: str):
        self._inner = inner
        self._client = client
        self._trace_dir = trace_dir

    @property
    def row_errors(self):
        return self._inner.row_errors

    def embed_batch(self, texts):
        self._client.reset()
        t0 = time.time()
        out = self._inner.embed_batch(texts)
        t1 = time.time()
        _emit(
            self._trace_dir,
            {
                "name": "embed.batch",
                "start": t0,
                "end": t1,
                "texts": sum(t is not None for t in texts),
                "model_calls": self._client.calls,
                "inflight": dict(self._client.inflight_hist),
                "errors": sum(e is not None for e in self._inner.row_errors),
            },
        )
        return out


def traced_embedder_factory(trace_dir: str):
    def factory(dim: int):
        client = _ProbedClient()
        return _TracedEmbedder(titan_adapter(dim, client), client, trace_dir)

    return factory


def traced_sink_factory(hosts: list[str], trace_dir: str):
    """``client_factory`` for the OpenSearch sink: the production HTTP
    transport with ``http_bulk`` and ``request`` timed."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
        http_opensearch_factory,
    )

    inner = http_opensearch_factory(hosts)

    def make():
        client, bulk = inner()
        request = client.request

        def timed_bulk(c, actions):
            calls = {"n": 0, "bytes": 0, "request_s": 0.0}

            def timed_request(method, path, body=None, content_type="application/json"):
                r0 = time.time()
                try:
                    return request(method, path, body, content_type)
                finally:
                    calls["n"] += 1
                    calls["bytes"] += len(body or b"")
                    calls["request_s"] += time.time() - r0

            c.request = timed_request
            t0 = time.time()
            try:
                n = bulk(c, actions)
            finally:
                c.request = request
            _emit(
                trace_dir,
                {
                    "name": "sink.bulk",
                    "start": t0,
                    "end": time.time(),
                    "docs": n,
                    "requests": calls["n"],
                    "bytes": calls["bytes"],
                    "request_s": calls["request_s"],
                },
            )
            return n

        return client, timed_bulk

    return make


def _epoch(ts: str) -> float:
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class TraceListener(MetricsListener):
    """The program's ``MetricsListener`` plus one span per trigger."""

    def __init__(self) -> None:
        super().__init__()
        self.triggers: list[dict] = []

    def onQueryProgress(self, event) -> None:
        super().onQueryProgress(event)
        p = event.progress
        start = _epoch(p.timestamp)
        dur = dict(p.durationMs)
        self.triggers.append(
            {
                "name": "pipeline.trigger",
                "batch": p.batchId,
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000.0,
                "rows": p.numInputRows,
                "ms": dur,
            }
        )


def overhead_frac(n_spans: int, n_probes: int, busy_s: float) -> float:
    """Estimated share of the traced layers' busy time spent tracing:
    the measured cost of writing one span and of one model-call probe,
    times how many the run made."""
    import tempfile

    n = 200
    with tempfile.TemporaryDirectory() as tmp:
        t0 = time.perf_counter()
        for i in range(n):
            _emit(tmp, {"name": "calibrate", "start": 0.0, "end": 0.0, "i": i})
        per_span = (time.perf_counter() - t0) / n
    probe = _ProbedClient()
    probe.service_s = 0.0
    body = json.dumps({"inputText": "calibrate"})
    t0 = time.perf_counter()
    for _ in range(n):
        FakeTitanClient.invoke_model(probe, modelId="amazon.titan-embed-text-v2:0", body=body)
    bare = time.perf_counter() - t0
    t0 = time.perf_counter()
    for _ in range(n):
        probe.invoke_model(modelId="amazon.titan-embed-text-v2:0", body=body)
    per_probe = max(0.0, time.perf_counter() - t0 - bare) / n
    return (n_spans * per_span + n_probes * per_probe) / max(1e-9, busy_s)


def self_time(span: dict, children: list[dict]) -> float:
    """Seconds of ``span`` not covered by any child span."""
    lo, hi = span["start"], span["end"]
    cuts = sorted(
        (max(lo, c["start"]), min(hi, c["end"]))
        for c in children
        if c["end"] > lo and c["start"] < hi
    )
    covered, reach = 0.0, lo
    for a, b in cuts:
        if b <= reach:
            continue
        covered += b - max(a, reach)
        reach = b
    return (hi - lo) - covered
