"""In-process Kinesis-compatible endpoint for local development and
tests: an HTTP server implementing the subset of the PUBLIC Kinesis
Data Streams JSON protocol the kinesis-lite source consumes
(ListShards, GetShardIterator, GetRecords) over deterministic
in-memory shards — the kinesalite/LocalStack role without leaving the
process. This is what lets the S1 Kinesis read path EXECUTE in a
container with no network and no connector jar: the reader speaks the
same wire protocol to this endpoint that it would speak to
``https://kinesis.<region>.amazonaws.com``.

Determinism contract (what makes an oracle possible): sequence numbers
are per-shard arrival indices rendered as strings, and
ApproximateArrivalTimestamp is ``2024-01-01T00:00:00Z + seq`` seconds —
pure functions of the seeded record list, so a DuckDB oracle can
regenerate everything the reader will emit.
"""

from __future__ import annotations

import base64
import hashlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..aws import access_key_id

_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


class _Throttled(Exception):
    """Internal signal: answer this request with the throttling error."""


class FakeKinesisServer:
    """``shards`` maps shard_id -> list of (partition_key, data_bytes).
    ``add_shard`` may be called while serving (the resharding case:
    a split/merge surfacing new shards mid-stream)."""

    def __init__(
        self,
        stream_name: str,
        shards: dict[str, list[tuple[str, bytes]]],
        reveal_per_list: int | None = None,
        put_fail_every: int | None = None,
        get_throttle_every: int | None = None,
    ):
        self.stream_name = stream_name
        # Read-path rate-limit injection: every Nth GetRecords answers
        # the JSON protocol's throttling error (HTTP 400 +
        # __type ProvisionedThroughputExceededException — the real
        # 5-reads/sec/shard ceiling), so client backoff is testable.
        self._get_throttle_every = get_throttle_every
        self._gets_seen = 0
        # Write-path failure injection: every Nth record ACROSS
        # PutRecords calls fails with the throttling ErrorCode (the
        # real API's partial-failure shape — PutRecords is not atomic),
        # so client retry-the-failed-subset logic is testable.
        self._put_fail_every = put_fail_every
        self._put_seen = 0
        self._lock = threading.Lock()
        self._shards: dict[str, list[tuple[str, bytes]]] = {
            s: list(recs) for s, recs in shards.items()
        }
        # Arrival simulation: with reveal_per_list=k, every ListShards
        # call makes k more records per shard visible — a deterministic
        # stand-in for "the producer keeps writing", which is what lets
        # a consumer (kinesis_lite's stream reader calls ListShards
        # once per trigger) observe a GROWING stream and
        # exercise real multi-batch progression. None = everything
        # visible immediately.
        self._reveal = reveal_per_list
        self._visible: dict[str, int] = {
            s: (reveal_per_list if reveal_per_list is not None else -1)
            for s in self._shards
        }
        self._closed: set[str] = set()
        # each request's SigV4 access key id, None when unsigned
        self.access_keys: list[str | None] = []
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    # -- state ------------------------------------------------------------

    def add_shard(self, shard_id: str, records: list[tuple[str, bytes]]) -> None:
        with self._lock:
            if shard_id in self._shards:
                raise ValueError(f"shard {shard_id} exists")
            self._shards[shard_id] = list(records)
            self._visible[shard_id] = (
                self._reveal if self._reveal is not None else -1
            )

    def append(self, shard_id: str, records: list[tuple[str, bytes]]) -> None:
        with self._lock:
            if shard_id in self._closed:
                raise ValueError(f"shard {shard_id} is closed")
            self._shards[shard_id].extend(records)

    def split_shard(
        self,
        parent: str,
        children: dict[str, list[tuple[str, bytes]]],
    ) -> None:
        """Close `parent` (its record list freezes; GetRecords at its
        end stops returning a NextShardIterator — the real closed-shard
        signal) and surface the child shards. Models the
        SplitShard/MergeShards lifecycle a long-lived stream goes
        through; consumers must drain the parent remainder and pick the
        children up at TRIM_HORIZON."""
        with self._lock:
            if parent not in self._shards:
                raise ValueError(f"shard {parent} does not exist")
            self._closed.add(parent)
            self._visible[parent] = -1  # remainder fully readable
            for child, recs in children.items():
                if child in self._shards:
                    raise ValueError(f"shard {child} exists")
                self._shards[child] = list(recs)
                self._visible[child] = (
                    self._reveal if self._reveal is not None else -1
                )

    def merge_shards(
        self,
        parent_a: str,
        parent_b: str,
        child: str,
        records: list[tuple[str, bytes]],
    ) -> None:
        """Close BOTH parents and surface the single merged child — the
        MergeShards half of the reshard lifecycle (split_shard models
        the other half). Parent remainders freeze fully readable, same
        as split: consumers must drain them above their committed
        cursors and pick the child up at TRIM_HORIZON."""
        if parent_a == parent_b:
            raise ValueError("MergeShards needs two distinct parents")
        with self._lock:
            for parent in (parent_a, parent_b):
                if parent not in self._shards:
                    raise ValueError(f"shard {parent} does not exist")
            if child in self._shards:
                raise ValueError(f"shard {child} exists")
            for parent in (parent_a, parent_b):
                self._closed.add(parent)
                self._visible[parent] = -1  # remainder fully readable
            self._shards[child] = list(records)
            self._visible[child] = (
                self._reveal if self._reveal is not None else -1
            )

    # -- protocol ---------------------------------------------------------

    def _handle(self, action: str, payload: dict) -> dict:
        with self._lock:
            if action == "ListShards":
                if payload.get("StreamName", self.stream_name) != self.stream_name:
                    raise KeyError("stream")
                if self._reveal is not None:
                    for s in self._shards:
                        # -1 = fully visible (closed parents): sticky
                        if self._visible[s] >= 0:
                            self._visible[s] += self._reveal
                return {
                    "Shards": [
                        {"ShardId": s} for s in sorted(self._shards)
                    ]
                }
            if action == "GetShardIterator":
                shard = payload["ShardId"]
                if shard not in self._shards:
                    raise KeyError("shard")
                kind = payload["ShardIteratorType"]
                if kind == "TRIM_HORIZON":
                    idx = 0
                elif kind == "AFTER_SEQUENCE_NUMBER":
                    idx = int(payload["StartingSequenceNumber"]) + 1
                elif kind == "AT_SEQUENCE_NUMBER":
                    idx = int(payload["StartingSequenceNumber"])
                elif kind == "LATEST":
                    idx = len(self._shards[shard])
                else:
                    raise KeyError(kind)
                return {"ShardIterator": self._token(shard, idx)}
            if action == "GetRecords":
                self._gets_seen += 1
                if (
                    self._get_throttle_every
                    and self._gets_seen % self._get_throttle_every == 0
                ):
                    raise _Throttled()
                shard, idx = self._untoken(payload["ShardIterator"])
                limit = int(payload.get("Limit", 10_000))
                recs = self._shards.get(shard, [])
                vis = self._visible.get(shard, -1)
                if vis >= 0:
                    recs = recs[:vis]
                page = recs[idx : idx + limit]
                nxt = idx + len(page)
                out = {
                    "Records": [
                        {
                            "SequenceNumber": str(idx + i),
                            "PartitionKey": pk,
                            "Data": base64.b64encode(data).decode(),
                            "ApproximateArrivalTimestamp": _EPOCH_2024
                            + idx
                            + i,
                        }
                        for i, (pk, data) in enumerate(page)
                    ],
                    "MillisBehindLatest": (len(recs) - nxt) * 1000,
                }
                # a CLOSED shard's iterator ends (no NextShardIterator)
                # once the frozen record list is exhausted — the real
                # end-of-shard signal after SplitShard/MergeShards
                if not (shard in self._closed and nxt >= len(recs)):
                    out["NextShardIterator"] = self._token(shard, nxt)
                return out
            if action == "PutRecords":
                if payload.get("StreamName") != self.stream_name:
                    raise KeyError("stream")
                open_shards = sorted(
                    s for s in self._shards if s not in self._closed
                )
                if not open_shards:
                    raise KeyError("no open shards")
                results, failed = [], 0
                for rec in payload.get("Records", []):
                    self._put_seen += 1
                    if (
                        self._put_fail_every
                        and self._put_seen % self._put_fail_every == 0
                    ):
                        results.append(
                            {
                                "ErrorCode": (
                                    "ProvisionedThroughputExceededException"
                                ),
                                "ErrorMessage": "injected",
                            }
                        )
                        failed += 1
                        continue
                    pk = rec["PartitionKey"]
                    data = base64.b64decode(rec["Data"])
                    # the real routing rule: MD5(partition key) as a
                    # 128-bit int, mapped onto evenly-divided shard
                    # hash-key ranges (what CreateStream provisions)
                    hval = int(hashlib.md5(pk.encode()).hexdigest(), 16)
                    shard = open_shards[
                        hval * len(open_shards) >> 128
                    ]
                    self._shards[shard].append((pk, data))
                    results.append(
                        {
                            "SequenceNumber": str(
                                len(self._shards[shard]) - 1
                            ),
                            "ShardId": shard,
                        }
                    )
                return {"FailedRecordCount": failed, "Records": results}
            raise KeyError(action)

    @staticmethod
    def _token(shard: str, idx: int) -> str:
        return base64.b64encode(
            json.dumps({"s": shard, "i": idx}).encode()
        ).decode()

    @staticmethod
    def _untoken(token: str) -> tuple[str, int]:
        d = json.loads(base64.b64decode(token).decode())
        return d["s"], d["i"]

    # -- HTTP -------------------------------------------------------------

    def start(self) -> str:
        """Bind to an ephemeral localhost port; returns the endpoint
        URL. The handler thread pool lives until stop()."""
        fake = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802 (stdlib API name)
                length = int(self.headers.get("Content-Length", 0))
                payload = json.loads(self.rfile.read(length) or b"{}")
                target = self.headers.get("X-Amz-Target", "")
                action = target.split(".")[-1]
                fake.access_keys.append(
                    access_key_id(self.headers.get("Authorization"))
                )
                try:
                    out = fake._handle(action, payload)
                except _Throttled:
                    body = json.dumps(
                        {
                            "__type": (
                                "ProvisionedThroughputExceededException"
                            ),
                            "message": "Rate exceeded",
                        }
                    ).encode()
                    self.send_response(400)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                except KeyError as e:
                    body = json.dumps(
                        {"__type": "ResourceNotFoundException", "message": str(e)}
                    ).encode()
                    self.send_response(400)
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                body = json.dumps(out).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/x-amz-json-1.1")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-request stderr noise
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
