"""The OpenSearch sink's transport: a stdlib HTTP client speaking the
PUBLIC OpenSearch/Elasticsearch REST protocol.

The reference's K1 stage bulk-indexes into OpenSearch through the Java
client (``KDS-P/.../msf/DataStreamJob.java:158-177``) after a bootstrap
Lambda creates the k-NN index
(``index-creation-function/lambda_function.py:66-97``). The engine's
sink (streaming/sinks.py) mirrors both over the three endpoints it
needs —

- ``HEAD /{index}``            index existence,
- ``PUT  /{index}``            index creation with the hnsw mapping,
- ``POST /_bulk``              NDJSON bulk indexing —

all public API, sent by the package's one AWS wire call
(``aws.request``). With a region set, every request is signed by the
package's one signer (``aws.sign``, botocore's SigV4, with the
process's credential chain) for service ``es`` (managed domains) or
``aoss`` (serverless) — the reference's signer split; so the identical
sink partition code runs
against the in-process fake endpoint (streaming/opensearch_fake.py), a
local OpenSearch, or a signed AWS domain. ``HttpOpenSearchClient``
exposes ``indices.exists`` / ``indices.create`` and one ``request``
method; ``http_bulk`` sends one chunk's actions as one request, and
``json_float_arrays`` formats their vectors in Arrow.
HTTP 429/503 is a throttle: ``aws.request`` sends the call again on its
one backoff schedule, for bulk, DDL and search calls alike, and a
throttle that outlasts it raises ``ThrottledError``. A bulk whose only
item errors are 429s resends just those items, on the same schedule.

At scale nothing changes: one client + one bulk stream per output
partition, executor-side, at most one bulk in flight; the driver only
runs the one-shot index bootstrap. Bulk errors raise and fail the
micro-batch, which is then replayed (Spark's task retry on a cluster,
or a restart from the checkpoint) — the same at-least-once contract as
the reference's bulk processor.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from .. import aws


class ThrottledError(RuntimeError):
    """HTTP 429/503, or bulk items rejected with 429, that outlasted the
    bounded backoff (``aws.backoff``, ``aws.THROTTLE_RETRIES``)."""


class HttpOpenSearchClient:
    """The index calls the sink makes, over stdlib HTTP:
    ``indices.exists`` / ``indices.create`` plus a raw ``request`` used
    by http_bulk (and by tests to search the fake)."""

    def __init__(
        self, base_url: str, region: str | None = None, service: str = "es"
    ):
        self.base = base_url.rstrip("/")
        self.region = region
        self.service = service
        self.indices = _Indices(self)

    def request(
        self,
        method: str,
        path: str,
        body: bytes | None = None,
        content_type: str = "application/json",
    ) -> tuple[int, dict]:
        headers = {"content-type": content_type}
        creds = None
        if self.region:
            creds = aws.credentials()
            if creds is None:
                raise RuntimeError(
                    f"cannot sign a {self.service} request: the AWS "
                    "credential chain found no credentials"
                )
            # aoss needs the payload hash among the signed headers
            headers["x-amz-content-sha256"] = hashlib.sha256(
                body or b""
            ).hexdigest()
        status, raw = aws.request(
            method, self.base + path, body, headers, creds, self.region,
            self.service, lambda status, _: status in (429, 503),
        )
        # 404 is an ANSWER only for HEAD (indices.exists asks "is it
        # there?"); for every other method it is a failure — mapping a
        # 404 on POST /_bulk (wrong base path, proxy) to success would
        # silently drop the batch
        if status == 404 and method == "HEAD":
            return 404, {}
        if status in (429, 503):
            raise ThrottledError(
                f"OpenSearch {method} {path} throttled: HTTP {status}"
            )
        if status >= 300:
            raise RuntimeError(
                f"OpenSearch {method} {path} failed: HTTP {status} "
                f"{raw.decode()!r}"
            )
        return status, (json.loads(raw) if raw else {})

    def search_all(self, index: str, sort_field: str, page_size: int = 1000):
        """Paginated read-back over ``search_after`` — yields every
        ``_source`` in ``sort_field`` order, one bounded page per
        request, so the read path scales past a single response page
        (a one-shot GET /_search caps out at the service's size limit;
        scroll/PIT is the stateful alternative, but search_after is
        stateless and enough for a monotone sort key). ``sort_field``
        must be unique per document (a duplicate value on a page
        boundary would be skipped by the strictly-after resume) and
        must be keyword-typed on the domain — real OpenSearch disables
        fielddata on text fields, so sorting a text-mapped field needs
        its keyword subfield (the sink's mapping exposes ``text.raw``
        for exactly this; sinks.knn_index_body)."""
        after = None
        while True:
            q: dict = {
                "size": page_size,
                "sort": [{sort_field: {"order": "asc"}}],
            }
            if after is not None:
                q["search_after"] = after
            _, out = self.request(
                "POST",
                f"/{index}/_search",
                json.dumps(q, separators=(",", ":")).encode(),
            )
            hits = out.get("hits", {}).get("hits", [])
            if not hits:
                return
            for h in hits:
                yield h["_source"]
            after = hits[-1]["sort"]


class _Indices:
    def __init__(self, client: HttpOpenSearchClient):
        self._c = client

    def exists(self, index: str) -> bool:
        status, _ = self._c.request("HEAD", f"/{index}")
        return status == 200

    def create(self, index: str, body: dict) -> dict:
        _, out = self._c.request(
            "PUT", f"/{index}", json.dumps(body).encode()
        )
        return out


def bulk_action_line(action: dict) -> bytes:
    """The NDJSON ``{"index": {...}}`` line of one bulk action. An
    explicit ``_id`` makes the index action an idempotent upsert, so
    retrying the same body after a partial application converges
    instead of duplicating."""
    meta = {"_index": action["_index"]}
    if action.get("_id") is not None:
        meta["_id"] = action["_id"]
    return json.dumps({"index": meta}, separators=(",", ":")).encode()


def json_float_arrays(vectors) -> list[bytes]:
    """Each vector as the text of a JSON array of its float32 values,
    formatted in Arrow: the shortest decimal that reads back to the same
    float32 (``0.1`` rather than the ``0.10000000149011612`` of
    ``json.dumps`` on the widened double), at a fraction of its cost.
    Arrow writes negative zero as ``-0``, which JSON readers take as the
    integer 0; it is written ``-0.0`` to keep its sign. The values must
    be finite: Arrow would write ``nan`` / ``inf``, which are not JSON
    (the sink's stage dead-letters such vectors first). A missing
    vector is ``null``. A vector that is already a float32 array is not
    converted again."""
    missing = np.fromiter((v is None for v in vectors), bool, len(vectors))
    offsets = np.zeros(len(vectors) + 1, np.int32)
    np.cumsum([0 if v is None else len(v) for v in vectors], out=offsets[1:])
    present = [np.asarray(v, np.float32) for v in vectors if v is not None]
    flat = np.concatenate(present) if present else np.empty(0, np.float32)
    text = pc.cast(pa.array(flat), pa.string())
    negative_zero = np.signbit(flat) & (flat == 0)
    if negative_zero.any():
        text = pc.if_else(pa.array(negative_zero), "-0.0", text)
    lists = pa.ListArray.from_arrays(
        pa.array(offsets), text, mask=pa.array(missing)
    )
    arrays = pc.binary_join_element_wise("[", pc.binary_join(lists, ","), "]", "")
    return pc.fill_null(arrays, "null").cast(pa.binary()).to_pylist()


def http_bulk(client: HttpOpenSearchClient, actions) -> int:
    """Bulk indexing over REST: NDJSON action lines + source lines, one
    POST /_bulk per call (a throttled request backs off inside
    ``aws.request``, which re-POSTs the same body). A ``_source``
    given as ``bytes`` is already JSON and goes out verbatim; a dict is
    serialised here.

    A full bulk queue answers HTTP 200 with per-item 429s
    (``es_rejected_execution_exception``) while the other items are
    applied. When every item error is a 429, only those actions are
    sent again after ``aws.backoff(attempt)``, at most
    ``aws.THROTTLE_RETRIES`` times — the failed-subset loop of
    PutRecords — so an item already indexed is not indexed twice; items
    still rejected after that raise ``ThrottledError``. Any other item
    error raises: the micro-batch fails and is replayed, so a partial
    failure can never pass silently. Returns the indexed count."""
    pending: list[tuple[bytes, bytes]] = []
    for action in actions:
        source = action["_source"]
        pending.append((
            bulk_action_line(action),
            source
            if isinstance(source, bytes)
            else json.dumps(source, separators=(",", ":")).encode(),
        ))
    if not pending:
        return 0
    indexed = len(pending)
    for attempt in range(aws.THROTTLE_RETRIES + 1):
        if attempt:
            time.sleep(aws.backoff(attempt - 1))
        body = b"\n".join(itertools.chain.from_iterable(pending)) + b"\n"
        status, out = client.request(
            "POST", "/_bulk", body, content_type="application/x-ndjson"
        )
        if status != 200:
            # belt-and-braces: request() raises on HTTP errors for POST, so
            # any non-200 reaching here is a transport-level surprise —
            # never report it as an indexed count
            raise RuntimeError(f"bulk indexing returned HTTP {status}: {out}")
        if not out.get("errors"):
            return indexed
        failed = [
            (sent, item)
            for sent, item in zip(pending, out.get("items", []))
            if next(iter(item.values())).get("error")
        ]
        bad = [item for _, item in failed]
        if not bad or any(next(iter(i.values())).get("status") != 429 for i in bad):
            raise RuntimeError(f"bulk indexing reported errors: {bad[:3]}")
        pending = [sent for sent, _ in failed]
    raise ThrottledError(
        f"OpenSearch POST /_bulk: {len(pending)} items still rejected with "
        f"HTTP 429 after {aws.THROTTLE_RETRIES} resends"
    )


def http_opensearch_factory(hosts, region: str | None = None, service: str = "es"):
    """The sink's client factory: built on the driver, CALLED on each
    executor partition, returns ``(client, bulk_fn)``. ``hosts`` is one
    endpoint URL or a one-element list of it. With a region every
    request is SigV4-signed, with the executor's own credential chain,
    for service 'es' (managed domain) or 'aoss' (serverless) — the
    signer split between the reference variants
    (KDS-P/.../msf/DataStreamJob.java:162 vs
    KDS-S/.../msf/DataStreamJob.java:185)."""
    base = hosts[0] if isinstance(hosts, (list, tuple)) else hosts

    def make():
        return HttpOpenSearchClient(base, region=region, service=service), http_bulk

    return make
