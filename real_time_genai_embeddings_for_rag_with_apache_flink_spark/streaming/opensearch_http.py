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

all public API, implemented over ``urllib`` with optional SigV4 signing
(service ``es`` for managed domains, ``aoss`` for serverless — the
reference's signer split), so the identical sink partition code runs
against the in-process fake endpoint (streaming/opensearch_fake.py), a
local OpenSearch, or a signed AWS domain. ``HttpOpenSearchClient``
exposes ``indices.exists`` / ``indices.create`` and one ``request``
method; ``http_bulk`` sends one chunk's actions as one request, and
``json_float_arrays`` formats their vectors in Arrow.
HTTP 429/503 backs off inside ``request`` — the one retry loop for
bulk, DDL and search calls alike.

At scale nothing changes: one client + one bulk stream per output
partition, executor-side, at most one bulk in flight; the driver only
runs the one-shot index bootstrap. Bulk errors raise and fail the
micro-batch, which is then replayed (Spark's task retry on a cluster,
or a restart from the checkpoint) — the same at-least-once contract as
the reference's bulk processor.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import time
import urllib.error
import urllib.parse
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..sources.kinesis_lite import sigv4_authorization


def sigv4_rest_headers(
    method: str,
    host: str,
    path: str,
    body: bytes,
    region: str,
    service: str,
    access_key: str,
    secret_key: str,
    session_token: str | None = None,
    now: datetime.datetime | None = None,
    content_type: str = "application/json",
) -> dict[str, str]:
    """SigV4 for an arbitrary REST call (method/path vary, no query
    string) — the ES-family header shape (x-amz-content-sha256
    required) over the vector-pinned sigv4_authorization core."""
    t = now or datetime.datetime.now(datetime.timezone.utc)
    amz_date = t.strftime("%Y%m%dT%H%M%SZ")
    headers = {
        "content-type": content_type,
        "host": host,
        "x-amz-content-sha256": hashlib.sha256(body).hexdigest(),
        "x-amz-date": amz_date,
    }
    if session_token:
        headers["x-amz-security-token"] = session_token
    headers["authorization"] = sigv4_authorization(
        method, urllib.parse.quote(path), headers, body, region, service,
        access_key, secret_key, amz_date,
    )
    return headers


class ThrottledError(RuntimeError):
    """HTTP 429/503 that outlasted ``request``'s bounded backoff."""


class HttpOpenSearchClient:
    """The index calls the sink makes, over stdlib HTTP:
    ``indices.exists`` / ``indices.create`` plus a raw ``request`` used
    by http_bulk (and by tests to search the fake)."""

    def __init__(
        self,
        base_url: str,
        region: str | None = None,
        service: str = "es",
        access_key: str | None = None,
        secret_key: str | None = None,
        session_token: str | None = None,
        timeout: float = 10.0,
        throttle_retries: int = 7,
        throttle_backoff_s: float = 0.05,
    ):
        self.base = base_url.rstrip("/")
        self.region = region
        self.service = service
        self.access_key = access_key
        self.secret_key = secret_key
        self.session_token = session_token
        self.timeout = timeout
        # 429/503 backoff applies to EVERY call — indices.exists /
        # indices.create during sink bootstrap, _bulk, and raw
        # GET /_search readers all survive a transient throttle; this is
        # the transport's only retry loop
        self.throttle_retries = throttle_retries
        self.throttle_backoff_s = throttle_backoff_s
        self.indices = _Indices(self)

    def request(
        self,
        method: str,
        path: str,
        body: bytes | None = None,
        content_type: str = "application/json",
    ) -> tuple[int, dict]:
        data = body or b""
        host = self.base.split("://", 1)[1].split("/", 1)[0]
        attempt = 0
        while True:
            if self.region and self.access_key and self.secret_key:
                # re-sign per attempt: x-amz-date must stay fresh
                headers = sigv4_rest_headers(
                    method,
                    host,
                    path,
                    data,
                    self.region,
                    self.service,
                    self.access_key,
                    self.secret_key,
                    self.session_token,
                    content_type=content_type,
                )
            else:
                headers = {"content-type": content_type}
            req = urllib.request.Request(
                self.base + path, data=data if body is not None else None,
                headers=headers, method=method,
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    raw = resp.read()
                    return resp.status, (json.loads(raw) if raw else {})
            except urllib.error.HTTPError as e:
                # 404 is an ANSWER only for HEAD (indices.exists asks "is
                # it there?"); for every other method it is a failure —
                # mapping a 404 on POST /_bulk (wrong base path, proxy)
                # to success would silently drop the batch
                if e.code == 404 and method == "HEAD":
                    return 404, {}
                if e.code in (429, 503):
                    # throttling/backpressure is RETRYABLE, not fatal:
                    # back off in place for a bounded number of attempts
                    # (every caller — bootstrap DDL, searches, bulk —
                    # survives a transient throttle), then surface the
                    # typed error, which fails the call
                    if attempt < self.throttle_retries:
                        time.sleep(
                            min(self.throttle_backoff_s * (2**attempt), 5.0)
                        )
                        attempt += 1
                        continue
                    raise ThrottledError(
                        f"OpenSearch {method} {path} throttled: HTTP {e.code}"
                    ) from e
                raise RuntimeError(
                    f"OpenSearch {method} {path} failed: HTTP {e.code} "
                    f"{e.read().decode()!r}"
                ) from e


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
    POST /_bulk per call (throttling backs off inside
    ``client.request``, which re-POSTs the same body). A ``_source``
    given as ``bytes`` is already JSON and goes out verbatim; a dict is
    serialised here. Raises on any per-item error: the micro-batch
    fails and is replayed, so a partial failure can never pass
    silently. Returns the indexed count."""
    lines: list[bytes] = []
    for action in actions:
        source = action["_source"]
        lines.append(bulk_action_line(action))
        lines.append(
            source
            if isinstance(source, bytes)
            else json.dumps(source, separators=(",", ":")).encode()
        )
    if not lines:
        return 0
    body = b"\n".join(lines) + b"\n"
    status, out = client.request(
        "POST", "/_bulk", body, content_type="application/x-ndjson"
    )
    if status != 200:
        # belt-and-braces: request() raises on HTTP errors for POST, so
        # any non-200 reaching here is a transport-level surprise —
        # never report it as an indexed count
        raise RuntimeError(f"bulk indexing returned HTTP {status}: {out}")
    if out.get("errors"):
        bad = [
            item for item in out.get("items", [])
            if next(iter(item.values())).get("error")
        ]
        raise RuntimeError(f"bulk indexing reported errors: {bad[:3]}")
    return len(lines) // 2


def http_opensearch_factory(
    hosts,
    region: str | None = None,
    service: str = "es",
    access_key: str | None = None,
    secret_key: str | None = None,
    session_token: str | None = None,
):
    """The sink's client factory: built on the driver, CALLED on each
    executor partition, returns ``(client, bulk_fn)``. ``hosts`` is one
    endpoint URL or a one-element list of it. With a region and
    credentials every request is SigV4-signed for service 'es'
    (managed domain) or 'aoss' (serverless) — the signer split between
    the reference variants (KDS-P/.../msf/DataStreamJob.java:162 vs
    KDS-S/.../msf/DataStreamJob.java:185)."""
    base = hosts[0] if isinstance(hosts, (list, tuple)) else hosts

    def make():
        return (
            HttpOpenSearchClient(
                base,
                region=region,
                service=service,
                access_key=access_key,
                secret_key=secret_key,
                session_token=session_token,
            ),
            http_bulk,
        )

    return make
