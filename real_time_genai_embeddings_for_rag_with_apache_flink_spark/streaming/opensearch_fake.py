"""In-process OpenSearch-compatible endpoint for local development and
tests: the REST subset the K1 sink drives — HEAD/PUT index, POST
/_bulk (NDJSON), plus GET /{index}/_search so tests can read back what
was indexed — over in-memory storage. The sibling of
sources/kinesis_fake.py: it lets the sink's real HTTP transport
(streaming/opensearch_http.py) EXECUTE without a cluster, against the
same wire format a real domain speaks."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..aws import access_key_id


class FakeOpenSearchServer:
    def __init__(
        self,
        throttle_every: int | None = None,
        partial_every: int | None = None,
    ):
        self._lock = threading.Lock()
        self.indices: dict[str, dict] = {}  # name -> creation body
        self.docs: dict[str, list[dict]] = {}  # name -> sources
        # name -> {_id: position in docs[name]} for explicit-id actions
        # (the real service's semantics: same id REPLACES the document)
        self._id_pos: dict[str, dict[str, int]] = {}
        # the adversarial at-least-once shape: every Nth /_bulk request
        # APPLIES THE FIRST HALF of its items, then answers 429 — the
        # client cannot tell a partial application from a clean
        # rejection, so its full-body retry duplicates every applied
        # item unless the actions carry explicit ids
        self._partial_every = partial_every
        # backpressure injection: every Nth /_bulk request answers
        # HTTP 429 without indexing (the real service's throttling
        # shape), so the transport's backoff-and-retry is testable
        self._throttle_every = throttle_every
        self._bulk_seen = 0
        # burst injection: throttle the next N requests of ANY kind
        # (bootstrap DDL and searches throttle on real domains too, not
        # just _bulk) — tests set this directly to simulate a burst
        self.throttle_next = 0
        # each request's SigV4 access key id, None when unsigned
        self.access_keys: list[str | None] = []
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- protocol ---------------------------------------------------------

    def _handle(self, method: str, path: str, body: bytes):
        parts = [p for p in path.split("/") if p]
        with self._lock:
            if self.throttle_next > 0:
                self.throttle_next -= 1
                return 429, {"error": {"type": "circuit_breaking"}}
            if method == "POST" and parts and parts[-1] == "_bulk":
                self._bulk_seen += 1
                if (
                    self._throttle_every
                    and self._bulk_seen % self._throttle_every == 0
                ):
                    return 429, {"error": {"type": "circuit_breaking"}}
            if method == "HEAD" and len(parts) == 1:
                return (200, {}) if parts[0] in self.indices else (404, {})
            if method == "PUT" and len(parts) == 1:
                name = parts[0]
                if name in self.indices:
                    return 400, {
                        "error": {"type": "resource_already_exists_exception"}
                    }
                self.indices[name] = json.loads(body or b"{}")
                self.docs[name] = []
                return 200, {"acknowledged": True, "index": name}
            if method == "POST" and parts == ["_bulk"]:
                lines = [ln for ln in body.split(b"\n") if ln.strip()]
                stop_after = None
                if self._partial_every and (
                    self._bulk_seen % self._partial_every == 0
                ):
                    # apply the first half of the ACTIONS, then fail the
                    # request — the torn-write retry trap
                    stop_after = (len(lines) // 2 // 2) * 2
                items = []
                errors = False
                i = 0
                while i < len(lines):
                    if stop_after is not None and i >= stop_after:
                        return 429, {"error": {"type": "circuit_breaking"}}
                    action = json.loads(lines[i])
                    op, meta = next(iter(action.items()))
                    if op != "index":
                        items.append(
                            {op: {"status": 400, "error": {"type": "bad_op"}}}
                        )
                        errors = True
                        i += 1
                        continue
                    source = json.loads(lines[i + 1])
                    index = meta["_index"]
                    # auto-create WITHOUT a mapping — exactly the
                    # wrong-storage trap ensure_knn_index exists to
                    # prevent; tests assert the bootstrap ran first
                    if index not in self.indices:
                        self.indices[index] = {}
                        self.docs[index] = []
                    doc_id = meta.get("_id")
                    if doc_id is not None:
                        known = self._id_pos.setdefault(index, {})
                        if doc_id in known:  # same id replaces
                            self.docs[index][known[doc_id]] = source
                        else:
                            known[doc_id] = len(self.docs[index])
                            self.docs[index].append(source)
                    else:
                        self.docs[index].append(source)
                    items.append({"index": {"_index": index, "status": 201}})
                    i += 2
                return 200, {"errors": errors, "items": items}
            if (
                method in ("GET", "POST")
                and len(parts) == 2
                and parts[1] == "_search"
            ):
                name = parts[0]
                if name not in self.indices:
                    return 404, {}
                hits = self.docs.get(name, [])
                total = len(hits)
                # the search_after subset the paginated reader drives:
                # body {"size": N, "sort": [{field: {"order": "asc"}}],
                # "search_after": [v]} — sort on one field, resume
                # strictly after the cursor value, return one page with
                # per-hit "sort" values (the real API's resume tokens)
                query = json.loads(body) if body else {}
                sort = query.get("sort")
                if sort:
                    field = next(iter(sort[0]))
                    # mapping fidelity: real OpenSearch disables
                    # fielddata on text fields, so sorting on one fails
                    # with search_phase_execution_exception unless the
                    # sort targets a keyword subfield (text.raw). The
                    # fake enforces the same rule from the creation
                    # body, so a reader that only works against a
                    # permissive fake cannot pass the tests.
                    base, _, sub = field.partition(".")
                    props = (
                        (self.indices.get(name) or {})
                        .get("mappings", {})
                        .get("properties", {})
                    )
                    fmap = props.get(base, {})
                    if fmap.get("type") == "text":
                        subtype = (
                            fmap.get("fields", {}).get(sub, {}).get("type")
                        )
                        if subtype != "keyword":
                            return 400, {
                                "error": {
                                    "type": (
                                        "search_phase_execution_exception"
                                    ),
                                    "reason": (
                                        "Text fields are not optimised "
                                        "for operations that require "
                                        "per-document field data like "
                                        f"sorting [{field}]: use a "
                                        "keyword subfield instead"
                                    ),
                                }
                            }

                    def sort_key(s, _f=field, _b=base):
                        # a keyword subfield shares the parent's value
                        return s.get(_f, s.get(_b))

                    hits = sorted(hits, key=sort_key)
                    after = query.get("search_after")
                    if after is not None:
                        hits = [s for s in hits if sort_key(s) > after[0]]
                    size = int(query.get("size", 10))
                    page = hits[:size]
                    return 200, {
                        "hits": {
                            "total": {"value": total},
                            "hits": [
                                {"_source": s, "sort": [sort_key(s)]}
                                for s in page
                            ],
                        }
                    }
                return 200, {
                    "hits": {
                        "total": {"value": total},
                        "hits": [{"_source": s} for s in hits],
                    }
                }
            return 400, {"error": {"type": "unsupported", "reason": path}}

    # -- HTTP -------------------------------------------------------------

    def start(self) -> str:
        fake = self

        class Handler(BaseHTTPRequestHandler):
            def _serve(self):
                length = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(length) if length else b""
                fake.access_keys.append(
                    access_key_id(self.headers.get("Authorization"))
                )
                status, out = fake._handle(self.command, self.path, body)
                payload = json.dumps(out).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                if self.command != "HEAD":
                    self.wfile.write(payload)

            do_GET = do_POST = do_PUT = do_HEAD = _serve

            def log_message(self, *a):
                pass

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return f"http://127.0.0.1:{self._httpd.server_address[1]}"

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
