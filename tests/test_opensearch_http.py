"""The OpenSearch sink's REST transport executed for real:
streaming/opensearch_http.py (stdlib HTTP, SigV4 through aws.sign) against the
in-process endpoint (streaming/opensearch_fake.py). The wire-level
companion of tests/test_opensearch_sink.py's fake-client checks —
this file is what makes K1's execution claim true. The end-to-end
pipeline run is st31's driver row."""

from __future__ import annotations

import datetime
import json
import time

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
    FakeOpenSearchServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
    HttpOpenSearchClient,
    ThrottledError,
    http_bulk,
    http_opensearch_factory,
    json_float_arrays,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
    ensure_knn_index,
)


@pytest.fixture()
def fake():
    srv = FakeOpenSearchServer()
    url = srv.start()
    yield srv, url
    srv.stop()


def test_index_bootstrap_and_bulk_roundtrip(fake):
    srv, url = fake
    client = HttpOpenSearchClient(url)
    assert not client.indices.exists("embeddings")
    created = ensure_knn_index(client, "embeddings", dimension=32)
    assert created
    # second bootstrap is a no-op (create-if-not-exists contract)
    assert ensure_knn_index(client, "embeddings", dimension=32) is False
    mapping = srv.indices["embeddings"]["mappings"]["properties"]
    assert mapping["passage_embedding"]["dimension"] == 32
    assert mapping["passage_embedding"]["method"]["name"] == "hnsw"

    n = http_bulk(
        client,
        (
            {"_index": "embeddings", "_source": {"text": f"t{i}",
                                                 "passage_embedding": [i, 1]}}
            for i in range(5)
        ),
    )
    assert n == 5
    _, out = client.request("GET", "/embeddings/_search")
    hits = [h["_source"] for h in out["hits"]["hits"]]
    assert sorted(h["text"] for h in hits) == [f"t{i}" for i in range(5)]
    assert http_bulk(client, iter(())) == 0  # empty partition: no POST


def test_bulk_errors_raise_not_pass_silently(fake):
    """A per-item failure must raise so the micro-batch fails and is
    replayed — the fake reports errors for unsupported ops."""
    srv, url = fake
    client = HttpOpenSearchClient(url)
    body = (
        json.dumps({"delete": {"_index": "x"}}) + "\n"
    ).encode()
    # drive the raw protocol: an unsupported op marks errors=true
    _, out = client.request(
        "POST", "/_bulk", body, content_type="application/x-ndjson"
    )
    assert out["errors"] is True

    class _Actions:
        def __iter__(self):
            yield {"_index": "x", "_source": {"a": 1}}

    # and http_bulk surfaces errors=true as an exception
    orig = FakeOpenSearchServer._handle

    def sabotage(self, method, path, b):
        status, o = orig(self, method, path, b)
        if path == "/_bulk":
            o = dict(o, errors=True, items=[{"index": {"error": {"t": "x"}}}])
        return status, o

    FakeOpenSearchServer._handle = sabotage
    try:
        with pytest.raises(RuntimeError, match="bulk indexing reported"):
            http_bulk(client, iter(_Actions()))
    finally:
        FakeOpenSearchServer._handle = orig


def test_bulk_resends_only_items_rejected_with_429(fake, monkeypatch):
    """A full bulk queue answers HTTP 200 with per-item 429s while the
    other items are applied: only the rejected items are sent again,
    so every document is indexed exactly once, even without ids. Items
    rejected on every attempt raise ThrottledError after
    aws.THROTTLE_RETRIES resends on the aws.backoff schedule."""
    srv, url = fake
    sent = []  # the actions each /_bulk request carried
    rejections = [3]  # the leading actions the next /_bulk rejects
    orig = FakeOpenSearchServer._handle

    def reject_leading_items(self, method, path, b):
        if path != "/_bulk":
            return orig(self, method, path, b)
        lines = b.splitlines()
        sent.append(len(lines) // 2)
        k = rejections.pop(0) if rejections else 0
        if not k:
            return orig(self, method, path, b)
        status, o = orig(self, method, path, b"\n".join(lines[2 * k:]) + b"\n")
        rejected = {"index": {"status": 429, "error": {
            "type": "es_rejected_execution_exception"}}}
        return status, {"errors": True, "items": [rejected] * k + o["items"]}

    client = HttpOpenSearchClient(url)
    FakeOpenSearchServer._handle = reject_leading_items
    try:
        n = http_bulk(
            client,
            [{"_index": "docs", "_source": {"text": f"t{i}"}} for i in range(10)],
        )
        assert n == 10
        assert sent == [10, 3]
        assert sorted(d["text"] for d in srv.docs["docs"]) == sorted(
            f"t{i}" for i in range(10)
        )

        naps: list[float] = []
        monkeypatch.setattr(time, "sleep", naps.append)
        sent.clear()
        rejections[:] = [1] * (aws.THROTTLE_RETRIES + 1)
        with pytest.raises(ThrottledError, match="1 items still rejected"):
            http_bulk(
                client,
                [{"_index": "docs", "_source": {"text": t}} for t in ("hot", "ok")],
            )
    finally:
        FakeOpenSearchServer._handle = orig
    assert sent == [2] + [1] * aws.THROTTLE_RETRIES
    assert naps == [aws.backoff(a) for a in range(aws.THROTTLE_RETRIES)]
    assert [d["text"] for d in srv.docs["docs"]].count("ok") == 1


def test_sink_writer_http_transport_end_to_end(spark, fake):
    """foreach_batch_writer(cfg) with no client_factory: the default
    path is the engine's REST transport — executor-side clients,
    driver-side one-shot bootstrap."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
        PipelineConfig,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        foreach_batch_writer,
        opensearch_index,
    )

    def embedder_factory(dim):
        class _Stub:
            def embed_batch(self, texts):
                return [[float(t.split()[1]), 0.0, 0.0, 1.0] for t in texts]

        return _Stub()

    srv, url = fake
    cfg = PipelineConfig(
        sink_format="opensearch",
        embedding_dim=4,
        extra={"hosts": [url], "index": "embeddings"},
    )
    write_batch = foreach_batch_writer(cfg)
    docs = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1), f"doc {i}") for i in range(8)],
        "created_at timestamp, text string",
    ).repartition(4)
    write_batch(opensearch_index(docs, cfg, embedder_factory), 0)
    client = HttpOpenSearchClient(url)
    _, out = client.request("GET", "/embeddings/_search")
    hits = [h["_source"] for h in out["hits"]["hits"]]
    assert len(hits) == 8
    assert sorted(h["text"] for h in hits) == [f"doc {i}" for i in range(8)]
    # the bootstrap ran before any bulk write (mapping present, hnsw)
    assert (
        srv.indices["embeddings"]["mappings"]["properties"]
        ["passage_embedding"]["method"]["name"]
        == "hnsw"
    )


def test_signed_requests_traverse_the_same_path(fake, empty_aws_chain, monkeypatch):
    srv, url = fake
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKIDEXAMPLE")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "sk")
    factory = http_opensearch_factory([url], region="us-east-1")
    client, bulk = factory()
    ensure_knn_index(client, "signed", dimension=8)
    assert bulk(client, iter([{"_index": "signed", "_source": {"a": 1}}])) == 1
    assert srv.docs["signed"] == [{"a": 1}]
    assert set(srv.access_keys) == {"AKIDEXAMPLE"}


def test_404_is_an_answer_only_for_head(fake):
    """ADVICE r11: a 404 used to map to a success-shaped (404, {}) for
    EVERY method, so a bulk POST against a wrong base path could report
    its full count as indexed. Now only HEAD (indices.exists) treats
    404 as an answer; any other method raises."""
    srv, url = fake
    client = HttpOpenSearchClient(url)
    assert client.indices.exists("nope") is False  # HEAD 404 -> answer
    with pytest.raises(RuntimeError, match="HTTP 404"):
        client.request("GET", "/nope/_search")

    class _One:
        def __iter__(self):
            yield {"_index": "missing_search", "_source": {"a": 1}}

    # http_bulk against an endpoint that 404s the bulk path must raise,
    # not return a count
    orig = FakeOpenSearchServer._handle

    def gone(self, method, path, b):
        if path == "/_bulk":
            return 404, {}
        return orig(self, method, path, b)

    FakeOpenSearchServer._handle = gone
    try:
        with pytest.raises(RuntimeError, match="404"):
            http_bulk(client, iter(_One()))
    finally:
        FakeOpenSearchServer._handle = orig


def test_bulk_backs_off_on_throttling_and_delivers(monkeypatch):
    """429/503 is backpressure, not failure: request() re-POSTs the same
    idempotent bulk body with backoff and only raises once
    aws.THROTTLE_RETRIES is exhausted — a throttled domain must not fail
    every micro-batch."""
    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 2)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    srv = FakeOpenSearchServer(throttle_every=2)  # every 2nd bulk 429s
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        client.indices.create("thr", {"settings": {}})
        for i in range(4):  # half of these hit an injected 429 first
            n = http_bulk(client, iter([{"_index": "thr", "_source": {"i": i}}]))
            assert n == 1
        assert len(srv.docs["thr"]) == 4, "every batch delivered once"

        # exhaustion path: a permanently-throttled endpoint raises
        always = FakeOpenSearchServer(throttle_every=1)
        url2 = always.start()
        try:
            from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
                ThrottledError,
            )

            with pytest.raises(ThrottledError):
                http_bulk(
                    HttpOpenSearchClient(url2),
                    iter([{"_index": "x", "_source": {"a": 1}}]),
                )
        finally:
            always.stop()
    finally:
        srv.stop()


def test_throttled_bulk_has_one_retry_loop(monkeypatch):
    """A permanently throttled _bulk is re-sent by aws.request's loop
    alone: exactly aws.THROTTLE_RETRIES + 1 requests reach the endpoint
    before ThrottledError, with no second loop multiplying them."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
        ThrottledError,
    )

    monkeypatch.setattr(aws, "BACKOFF_S", 0.001)
    srv = FakeOpenSearchServer(throttle_every=1)
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        with pytest.raises(ThrottledError):
            http_bulk(client, iter([{"_index": "x", "_source": {"a": 1}}]))
        assert srv._bulk_seen == aws.THROTTLE_RETRIES + 1
    finally:
        srv.stop()


def test_request_level_backoff_covers_ddl_and_search(monkeypatch):
    """429/503 must be survivable on EVERY call, not just _bulk: the
    sink bootstrap (HEAD existence probe, PUT index DDL) and search
    readers hit the same domain-level throttling. request() backs off
    in place for a bounded number of attempts, then surfaces the typed
    error."""
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    srv = FakeOpenSearchServer()
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        srv.throttle_next = 2  # burst: HEAD then PUT each eat a 429
        assert not client.indices.exists("burst")
        srv.throttle_next = 1
        client.indices.create("burst", {"settings": {}})
        assert client.indices.exists("burst")

        # exhaustion still raises the typed error for outer loops
        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
            ThrottledError,
        )

        srv.throttle_next = 10_000
        monkeypatch.setattr(aws, "THROTTLE_RETRIES", 2)
        fast = HttpOpenSearchClient(url)
        with pytest.raises(ThrottledError):
            fast.request("GET", "/burst/_search")
    finally:
        srv.stop()


def test_search_all_paginates_search_after_in_order():
    """The paginated read-back: search_all must return EVERY document
    in sort order across page boundaries via search_after resume
    tokens, issuing one bounded request per page — the read path that
    scales past a single response page."""
    srv = FakeOpenSearchServer()
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        client.indices.create("p", {"settings": {}})
        docs = [{"_index": "p", "_source": {"k": f"id{i:04d}", "v": i}}
                for i in range(25)]
        # index shuffled so pagination order is earned, not incidental
        import random

        rng = random.Random(7)
        shuffled = docs[:]
        rng.shuffle(shuffled)
        assert http_bulk(client, iter(shuffled)) == 25

        pages = []
        orig = HttpOpenSearchClient.request

        def counting(self, method, path, body=None, **kw):
            if path.endswith("/_search"):
                pages.append(path)
            return orig(self, method, path, body, **kw)

        HttpOpenSearchClient.request = counting
        try:
            got = list(client.search_all("p", "k", page_size=10))
        finally:
            HttpOpenSearchClient.request = orig
        assert [g["k"] for g in got] == [f"id{i:04d}" for i in range(25)]
        # 10 + 10 + 5 + terminating empty page
        assert len(pages) == 4, pages
    finally:
        srv.stop()


def test_torn_bulk_duplicates_without_ids_and_converges_with_them(monkeypatch):
    """The adversarial at-least-once shape: a _bulk that applies HALF
    its items and then fails looks exactly like a clean rejection from
    the client side, so the full-body retry re-indexes what already
    landed. Auto-id actions (the reference's deployed behavior — its
    .id() line is commented out, DataStreamJob.java:191) DUPLICATE;
    explicit-id actions are idempotent upserts and converge. Driver row
    st35 certifies the same property wire-to-wire."""
    # without ids: duplicates (pinned, not fixed — it documents why
    # index_by_id exists)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    srv = FakeOpenSearchServer(partial_every=2)
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        client.indices.create("noid", {"settings": {}})
        # prime the per-request counter: tearing hits every 2nd bulk, so
        # the next call's FIRST attempt tears and its retry lands clean
        http_bulk(client, iter([{"_index": "prime", "_source": {"x": 0}}]))
        n = http_bulk(
            client,
            iter([{"_index": "noid", "_source": {"i": i}} for i in range(10)]),
        )
        assert n == 10
        # bulk #2 applied 5 items then 429'd; the retry applied all 10
        assert len(srv.docs["noid"]) == 15, "torn write + replay duplicates"

        # with ids: the replay REPLACES the torn half — exactly once
        client.indices.create("byid", {"settings": {}})
        n = http_bulk(
            client,
            iter(
                [
                    {"_index": "byid", "_id": f"d{i}", "_source": {"i": i}}
                    for i in range(10)
                ]
            ),
        )
        assert n == 10
        assert len(srv.docs["byid"]) == 10, "idempotent upsert converges"
        assert sorted(d["i"] for d in srv.docs["byid"]) == list(range(10))
    finally:
        srv.stop()


def test_sort_on_text_field_rejected_keyword_subfield_works():
    """Mapping fidelity for the paginated reader: real OpenSearch
    disables fielddata on text fields, so sort/search_after on a
    text-mapped field fails — the reader must target the keyword
    subfield (text.raw) the sink's mapping exposes. The fake enforces
    this from the creation body, so a reader that only worked against
    a permissive fake cannot pass."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.sinks import (
        knn_index_body,
    )

    srv = FakeOpenSearchServer()
    url = srv.start()
    try:
        client = HttpOpenSearchClient(url)
        client.indices.create("emb", knn_index_body(4))
        rows = [
            {"_index": "emb", "_source": {"text": f"doc {i}", "date": i}}
            for i in range(7)
        ]
        assert http_bulk(client, iter(rows)) == 7

        # sorting on the bare text field is a mapping error on a real
        # domain — the fake answers 400 the same way
        with pytest.raises(RuntimeError, match="field data|keyword"):
            list(client.search_all("emb", "text", page_size=3))

        # the keyword subfield path works and pages in order
        got = list(client.search_all("emb", "text.raw", page_size=3))
        assert [g["text"] for g in got] == [f"doc {i}" for i in range(7)]
    finally:
        srv.stop()


def test_json_float_arrays_are_json_with_the_same_float32_bits():
    """Arrow-formatted vectors are strict JSON (no NaN/Infinity tokens)
    and read back to the identical float32 bits: tiny and huge
    magnitudes, negative zero (Arrow writes ``-0``, which a reader takes
    as the integer 0), subnormals, and off-grid values drawn from
    random bit patterns."""
    import numpy as np

    def strict(s):
        return json.loads(s, parse_constant=lambda c: pytest.fail(f"not JSON: {c}"))

    rng = np.random.default_rng(7)
    off_grid = rng.integers(0, 2**32, 4096, dtype=np.uint64).astype(np.uint32)
    off_grid = off_grid.view(np.float32)
    off_grid = off_grid[np.isfinite(off_grid)]
    special = np.array(
        [1e-7, -0.0, 0.0, 3.4e38, -3.4e38, np.finfo(np.float32).max,
         np.finfo(np.float32).tiny, 1e-45, -1e-45, 1.0, -1.5, 0.1, 1 / 3],
        np.float32,
    )
    vectors = [special.tolist(), None, [], *np.array_split(off_grid, 8)]
    vectors = [v.tolist() if isinstance(v, np.ndarray) else v for v in vectors]
    texts = json_float_arrays(vectors)
    assert len(texts) == len(vectors)
    for vec, text in zip(vectors, texts):
        parsed = strict(text)
        if vec is None:
            assert parsed is None
            continue
        want = np.asarray(vec, np.float32).view(np.uint32)
        got = np.asarray([float(x) for x in parsed], np.float32).view(np.uint32)
        assert np.array_equal(got, want)
    assert strict(texts[0])[1] == 0.0 and str(strict(texts[0])[1]) == "-0.0"
    # the shortest float32 decimal, not the widened double's repr
    assert json_float_arrays([[0.1]]) == [b"[0.1]"]


def test_http_bulk_sends_bytes_sources_verbatim(fake):
    srv, url = fake
    client = HttpOpenSearchClient(url)
    sent = []
    request = client.request

    def spy(method, path, body=None, content_type="application/json"):
        sent.append(body)
        return request(method, path, body, content_type)

    client.request = spy
    actions = [
        {"_index": "raw", "_source": b'{"v":[0.1,-0.0],"text":"a"}'},
        {"_index": "raw", "_id": "d2", "_source": {"v": [0.5], "text": "b"}},
    ]
    assert http_bulk(client, actions) == 2
    assert sent == [
        b'{"index":{"_index":"raw"}}\n{"v":[0.1,-0.0],"text":"a"}\n'
        b'{"index":{"_index":"raw","_id":"d2"}}\n{"v":[0.5],"text":"b"}\n'
    ]
    assert srv.docs["raw"] == [{"v": [0.1, -0.0], "text": "a"}, {"v": [0.5], "text": "b"}]
