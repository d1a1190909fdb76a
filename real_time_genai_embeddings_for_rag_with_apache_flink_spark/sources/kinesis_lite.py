"""The package's Kinesis source: a Spark 4 Python data source speaking
the PUBLIC Kinesis Data Streams JSON protocol over HTTP.

The reference consumes its stream with one FlinkKinesisConsumer
(``KDS-P/.../msf/DataStreamJob.java:128-140``: stream name + region +
LATEST start position). ``format("kinesis-lite")`` is this package's
one reader for it: ``KinesisLiteStreamReader`` for streaming and
``KinesisLiteReader`` for one-shot batch reads. It needs no connector
jar; it implements the wire protocol directly from its public
specification, the same way operators/miniproto.py does for protobuf.

What is implemented (all public AWS API surface):

- ``ListShards`` / ``GetShardIterator`` / ``GetRecords`` over
  ``application/x-amz-json-1.1`` POSTs with the
  ``X-Amz-Target: Kinesis_20131202.<Action>`` header — the complete
  consumer protocol for a polling (non-EFO) reader — plus
  ``PutRecords`` (the producer side: put_records_writer delivers
  DataFrame partitions executor-side, 500-record chunks, failed-subset
  resubmission; driver row st32), and in-place exponential backoff on
  the protocol's throttling errors (ProvisionedThroughputExceeded /
  LimitExceeded) on every call;
- AWS Signature Version 4 request signing in pure stdlib (hmac +
  hashlib; the algorithm is published in full by AWS; the signing core
  is pinned against the AWS-published signature test-suite vectors),
  applied whenever credentials are supplied — so the same source points
  at real AWS, kinesalite, or LocalStack; unsigned requests serve
  anonymous local endpoints (the in-process fake in
  sources/kinesis_fake.py);
- shard-parallel reads: ``partitions()`` is one slice per shard, so the
  scan spreads across executors exactly like the real connector;
- per-shard SEQUENCE-NUMBER offsets: the stream reader checkpoints
  ``{shard_id: last_sequence_number}`` and replays any committed range
  via ``AFTER_SEQUENCE_NUMBER`` iterators — Kinesis retention makes a
  planned range exactly re-readable on task retry or checkpoint
  recovery, the same replayability contract Kafka offsets give;
- resharding: ``latestOffset`` re-lists shards every trigger; shards
  that appear mid-stream (splits/merges) join at TRIM_HORIZON, and a
  CLOSED parent (iterator ends after the frozen remainder) drains to
  its final tip and simply stops advancing — the full shard lifecycle
  is pinned in tests/test_kinesis_lite.py.

Execution model (micro-batch planning): ``latestOffset`` returns the
TRUE CURRENT TIP of every shard — the API's contract ("the most recent
offset available") and the only restart-safe value: a reader recreated
over an existing checkpoint has no memory of committed positions, and
any cursor-derived answer below them would be adopted by the engine as
progress and re-emit committed records (the duplicate bug pinned in
tests/test_kinesis_lite.py). The tip is discovered by a driver-side
GetRecords walk (resumed from the last position this instance saw —
an instance-local cache that only shortens the walk, never changes the
answer), run SHARD-CONCURRENTLY over a thread pool of
``min(shards, 8)`` so driver poll latency is the max over shards
rather than their sum; executors then re-read exactly the planned
(start, end] range via their own AFTER_SEQUENCE_NUMBER iterators, so
every record is fetched twice (enhanced fan-out is the production
answer if 2x GetRecords matters). The Python stream API exposes no
engine-side admission control, so pacing is the reader's job:
``max_records_per_trigger`` caps each shard's advance per trigger
whenever the cap is provably restart-safe — i.e. the walk start is an
instance-derived floor at or above the committed position. MEASURED
ENGINE BEHAVIOR (Spark 4.1, pinned in tests/test_kinesis_lite.py's
pipeline test): the engine's FIRST call on a new reader instance is
``latestOffset`` — BEFORE ``initialOffset`` even on a fresh query —
and at that moment the reader cannot distinguish fresh start from
checkpoint restart, so the first walk must reach the true tip (a
capped guess below a committed position would be adopted as progress
and re-emit committed records — the pinned duplicate bug; and no later
clamp can fully repair it, because a crash between the stale
offset-log write and the clamp leaves a fresh instance that replays
the stale range verbatim). Pacing therefore engages from the SECOND
trigger onward: the first trigger takes the whole backlog (executors
read it page-by-page, so memory stays one-page-bounded), every later
trigger advances at most ``max_records_per_trigger`` per shard.
"""

from __future__ import annotations

import base64
import concurrent.futures
import datetime
import hashlib
import hmac
import json
import urllib.error
import urllib.request

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

_API_VERSION = "Kinesis_20131202"
_MAX_EMPTY_POLLS = 8  # GetRecords may return empty pages mid-stream
# persist=True walks tolerate long empty runs (sparse/aged stream
# regions) because every page advances the iterator; this cap only
# trips a service that stops advancing entirely
_PERSIST_EMPTY_CAP = 100_000
_WALK_THREADS = 8  # cap on concurrent driver tip walks (one per shard)


# ---------------------------------------------------------------------------
# SigV4 (public algorithm; pure stdlib)
# ---------------------------------------------------------------------------


def _sha256_hex(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def _hmac(key: bytes, msg: str) -> bytes:
    return hmac.new(key, msg.encode(), hashlib.sha256).digest()


def sigv4_signing_key(
    secret_key: str, date_stamp: str, region: str, service: str
) -> bytes:
    """kSigning = HMAC(HMAC(HMAC(HMAC("AWS4"+secret, date), region),
    service), "aws4_request") — pinned against AWS's published test
    vector in tests/test_kinesis_lite.py."""
    k_date = _hmac(("AWS4" + secret_key).encode(), date_stamp)
    k_region = _hmac(k_date, region)
    k_service = _hmac(k_region, service)
    return _hmac(k_service, "aws4_request")


def sigv4_authorization(
    method: str,
    canonical_path: str,
    headers: dict[str, str],
    body: bytes,
    region: str,
    service: str,
    access_key: str,
    secret_key: str,
    amz_date: str,
    canonical_query: str = "",
) -> str:
    """Authorization header value for a request whose header set is
    already final (every entry is signed): canonical request ->
    string-to-sign -> signature, per the published SigV4 procedure.
    The signing core shared by sigv4_headers (Kinesis JSON POSTs) and
    opensearch_http.sigv4_rest_headers (REST), pinned against the
    AWS-published signature test-suite vectors in
    tests/test_kinesis_lite.py (get-vanilla / post-vanilla / query)."""
    date_stamp = amz_date[:8]
    payload_hash = _sha256_hex(body)
    signed_names = ";".join(sorted(headers))
    canonical = "\n".join(
        [
            method,
            canonical_path,
            canonical_query,
            "".join(f"{k}:{headers[k]}\n" for k in sorted(headers)),
            signed_names,
            payload_hash,
        ]
    )
    scope = f"{date_stamp}/{region}/{service}/aws4_request"
    string_to_sign = "\n".join(
        [
            "AWS4-HMAC-SHA256",
            amz_date,
            scope,
            _sha256_hex(canonical.encode()),
        ]
    )
    signature = hmac.new(
        sigv4_signing_key(secret_key, date_stamp, region, service),
        string_to_sign.encode(),
        hashlib.sha256,
    ).hexdigest()
    return (
        f"AWS4-HMAC-SHA256 Credential={access_key}/{scope}, "
        f"SignedHeaders={signed_names}, Signature={signature}"
    )


def sigv4_headers(
    host: str,
    target: str,
    body: bytes,
    region: str,
    access_key: str,
    secret_key: str,
    session_token: str | None = None,
    now: datetime.datetime | None = None,
    service: str = "kinesis",
) -> dict[str, str]:
    """Signed header set for one Kinesis POST (the JSON-1.1 header
    shape over the vector-pinned sigv4_authorization core)."""
    t = now or datetime.datetime.now(datetime.timezone.utc)
    amz_date = t.strftime("%Y%m%dT%H%M%SZ")
    headers = {
        "content-type": "application/x-amz-json-1.1",
        "host": host,
        "x-amz-date": amz_date,
        "x-amz-target": target,
    }
    if session_token:
        headers["x-amz-security-token"] = session_token
    headers["authorization"] = sigv4_authorization(
        "POST", "/", headers, body, region, service, access_key,
        secret_key, amz_date,
    )
    return headers


# ---------------------------------------------------------------------------
# Protocol client
# ---------------------------------------------------------------------------


# AWS JSON-protocol error types that signal rate limiting, not failure
# (returned as HTTP 400 with {"__type": "..."} — the polling consumer's
# documented 5-reads/sec/shard ceiling surfaces as the first one)
_THROTTLE_TYPES = (
    "ProvisionedThroughputExceededException",
    "LimitExceededException",
)


class KinesisClient:
    """Minimal Kinesis Data Streams JSON/HTTP client (ListShards,
    GetShardIterator, GetRecords, PutRecords). One instance per driver
    poll or per executor task — stateless besides config, safe to
    rebuild on retry. Rate-limit errors (the JSON protocol's
    ProvisionedThroughputExceeded/LimitExceeded, HTTP 400 + __type)
    retry in-place with exponential backoff (``max_throttle_retries``,
    default 8) — a polling reader at the 5-reads/sec/shard ceiling
    must slow down, not fail the task."""

    def __init__(self, options: dict):
        self.stream = options.get("stream_name") or options.get("streamname")
        if not self.stream:
            raise ValueError("kinesis-lite needs option stream_name")
        self.region = options.get("region", "us-east-1")
        self.endpoint = options.get(
            "endpoint_url",
            f"https://kinesis.{self.region}.amazonaws.com",
        ).rstrip("/")
        self.access_key = options.get("access_key")
        self.secret_key = options.get("secret_key")
        self.session_token = options.get("session_token")
        self.timeout = float(options.get("http_timeout_sec", 10))
        self.throttle_retries = int(options.get("max_throttle_retries", 8))
        self.backoff_s = float(options.get("throttle_backoff_sec", 0.05))

    def _call(self, action: str, payload: dict) -> dict:
        body = json.dumps(payload, separators=(",", ":")).encode()
        target = f"{_API_VERSION}.{action}"
        host = self.endpoint.split("://", 1)[1].split("/", 1)[0]
        attempt = 0
        while True:
            if self.access_key and self.secret_key:
                # re-sign per attempt: x-amz-date must stay fresh
                headers = sigv4_headers(
                    host,
                    target,
                    body,
                    self.region,
                    self.access_key,
                    self.secret_key,
                    self.session_token,
                )
            else:
                headers = {
                    "content-type": "application/x-amz-json-1.1",
                    "x-amz-target": target,
                }
            req = urllib.request.Request(
                self.endpoint + "/", data=body, headers=headers, method="POST"
            )
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return json.loads(resp.read().decode())
            except urllib.error.HTTPError as e:
                raw = e.read().decode()
                err_type = ""
                try:
                    err_type = json.loads(raw).get("__type", "")
                except ValueError:
                    pass
                if (
                    err_type.split("#")[-1] in _THROTTLE_TYPES
                    and attempt < self.throttle_retries
                ):
                    import time as _time

                    _time.sleep(min(self.backoff_s * (2**attempt), 5.0))
                    attempt += 1
                    continue
                # surface the AWS error body
                raise RuntimeError(
                    f"Kinesis {action} failed: HTTP {e.code} {raw!r}"
                ) from e

    def list_shards(self) -> list[str]:
        shards: list[str] = []
        token: str | None = None
        while True:
            payload = (
                {"NextToken": token}
                if token
                else {"StreamName": self.stream}
            )
            out = self._call("ListShards", payload)
            shards.extend(s["ShardId"] for s in out.get("Shards", []))
            token = out.get("NextToken")
            if not token:
                return sorted(shards)

    def shard_iterator(self, shard_id: str, position: str | None) -> str:
        """position None -> TRIM_HORIZON; else AFTER_SEQUENCE_NUMBER."""
        payload = {
            "StreamName": self.stream,
            "ShardId": shard_id,
            "ShardIteratorType": (
                "TRIM_HORIZON" if position is None else "AFTER_SEQUENCE_NUMBER"
            ),
        }
        if position is not None:
            payload["StartingSequenceNumber"] = position
        return self._call("GetShardIterator", payload)["ShardIterator"]

    def get_records(self, iterator: str, limit: int) -> dict:
        # the real service rejects Limit > 10,000 (ValidationException)
        return self._call(
            "GetRecords",
            {"ShardIterator": iterator, "Limit": min(limit, 10_000)},
        )

    def read_after(
        self,
        shard_id: str,
        position: str | None,
        limit: int,
        strict: bool = False,
        stop_after: int | None = None,
        persist: bool = False,
    ) -> list[dict]:
        """Up to `limit` records strictly after `position` (None =
        shard start). Stops at a caught-up shard (empty page with
        MillisBehindLatest 0) or a closed one (no NextShardIterator).
        A behind-tip shard may serve empty pages while the iterator
        seeks (a sparse or aged stream region serves MANY); the three
        empty-page policies, by call site:

        - default (lenient): return what we have after _MAX_EMPTY_POLLS
          empties — fine for PACED tip discovery, whose walk start is
          an instance-derived floor >= every committed position, so an
          early end can never plan a duplicate range;
        - ``strict=True``: RAISE — required for a planned EXECUTOR
          range, where returning early would silently drop committed
          records; the failed task retries (task retry is real there,
          unlike a driver-side source call, which would kill the query);
        - ``persist=True``: keep polling through empty pages until
          caught up — required for UNPACED driver walks (restart
          carry-over, LATEST resolution), which have no committed floor
          and whose early return would log a stale end below committed
          records (the next batch would then re-emit them). Each empty
          page still advances the shard iterator, so the walk
          provably progresses; _PERSIST_EMPTY_CAP bounds the
          pathological non-advancing endpoint."""
        return list(
            self.iter_after(
                shard_id,
                position,
                limit,
                strict=strict,
                stop_after=stop_after,
                persist=persist,
            )
        )

    def iter_after(
        self,
        shard_id: str,
        position: str | None,
        limit: int,
        strict: bool = False,
        stop_after: int | None = None,
        persist: bool = False,
    ):
        """Generator form of read_after — yields one GetRecords PAGE's
        records at a time, so an executor streaming a huge planned
        range (first TRIM_HORIZON batch, post-restart catch-up) holds
        at most one page in memory instead of the whole range."""
        it = self.shard_iterator(shard_id, position)
        n = 0
        empty = 0
        while it and n < limit:
            page = self.get_records(it, limit - n)
            recs = page.get("Records", [])
            n += len(recs)
            it = page.get("NextShardIterator")
            yield from recs
            if (
                stop_after is not None
                and recs
                and int(recs[-1]["SequenceNumber"]) >= stop_after
            ):
                break  # planned range fully covered — don't walk to tip
            if not recs:
                empty += 1
                if page.get("MillisBehindLatest", 0) == 0:
                    break
                if persist:
                    if empty >= _PERSIST_EMPTY_CAP:
                        raise RuntimeError(
                            f"shard {shard_id}: {empty} consecutive empty "
                            "GetRecords pages while still behind tip — "
                            "the iterator is not advancing (service "
                            "fault); refusing to return a below-tip end"
                        )
                    continue
                if empty >= _MAX_EMPTY_POLLS:
                    if strict:
                        raise RuntimeError(
                            f"shard {shard_id}: {empty} consecutive empty "
                            "GetRecords pages while still behind tip — "
                            "failing the task so it retries rather than "
                            "dropping planned records"
                        )
                    break
            else:
                empty = 0


_PUT_CHUNK = 500  # the PutRecords API cap (records per request)


def _client_put_records(
    client: "KinesisClient",
    records: list[tuple[str, bytes]],
    max_retries: int = 5,
) -> int:
    """PutRecords in API-cap chunks, retrying the FAILED SUBSET.
    PutRecords is documented as non-atomic: per-record failures come
    back with an ErrorCode and FailedRecordCount, and the client
    contract is to resubmit exactly those records (the reference's
    producer writes one record per Lambda invoke via put_record,
    ``kds-producer-lambda/lambda_function.py``; this is the batched
    form of the same write). Raises after ``max_retries`` resubmits of
    a still-failing subset — delivery must never be silently partial.
    Returns the number of records delivered."""
    delivered = 0
    for i in range(0, len(records), _PUT_CHUNK):
        pending = records[i : i + _PUT_CHUNK]
        for _attempt in range(max_retries + 1):
            out = client._call(
                "PutRecords",
                {
                    "StreamName": client.stream,
                    "Records": [
                        {
                            "PartitionKey": pk,
                            "Data": base64.b64encode(data).decode(),
                        }
                        for pk, data in pending
                    ],
                },
            )
            if not out.get("FailedRecordCount"):
                delivered += len(pending)
                pending = []
                break
            results = out["Records"]
            still = [
                pending[j]
                for j, r in enumerate(results)
                if r.get("ErrorCode")
            ]
            delivered += len(pending) - len(still)
            pending = still
            if pending and _attempt < max_retries:
                # Per-record throughput-exceeded failures are almost
                # always still throttled milliseconds later — back off
                # before resubmitting the failed subset (mirroring
                # _call's throttle backoff) instead of burning every
                # resubmit in ~ms and failing the task; the Spark task
                # retry would then re-PutRecords the whole partition,
                # duplicating records already delivered.
                import time as _time

                _time.sleep(min(client.backoff_s * (2**_attempt), 5.0))
        if pending:
            raise RuntimeError(
                f"PutRecords: {len(pending)} records still failing after "
                f"{max_retries} resubmits (first error subset retained "
                "for retry by the caller)"
            )
    return delivered


def put_records_writer(options: dict):
    """The engine's P1 WRITE path over the real wire protocol: returns
    a ``foreachPartition`` function that delivers each partition's
    (partition_key, data) rows via an EXECUTOR-SIDE KinesisClient —
    PutRecords chunks of 500, failed-subset retries, SigV4 when
    credentialed. data columns may be string or binary. Use with a
    batch DataFrame (``df.foreachPartition(put_records_writer(opts))``)
    or per micro-batch inside foreachBatch; either way the driver never
    touches a record."""
    opts = dict(options)

    def write(rows) -> None:
        client = KinesisClient(opts)
        buf: list[tuple[str, bytes]] = []
        for row in rows:
            data = row["data"]
            if isinstance(data, str):
                data = data.encode("utf-8")
            buf.append((str(row["partition_key"]), bytes(data)))
            if len(buf) >= _PUT_CHUNK:
                _client_put_records(client, buf)
                buf = []
        if buf:
            _client_put_records(client, buf)

    return write


def _decode(rec: dict, mode: str) -> str:
    raw = rec.get("Data", "")
    if mode == "base64":
        return raw
    return base64.b64decode(raw).decode("utf-8", errors="replace")


def _row(rec: dict, shard_id: str, mode: str):
    ts = rec.get("ApproximateArrivalTimestamp")
    arrival = (
        datetime.datetime.fromtimestamp(float(ts), datetime.timezone.utc)
        if ts is not None
        else None
    )
    return (
        shard_id,
        rec["SequenceNumber"],
        rec.get("PartitionKey"),
        _decode(rec, mode),
        arrival,
    )


# ---------------------------------------------------------------------------
# Batch reader: TRIM_HORIZON -> caught-up, one partition per shard
# ---------------------------------------------------------------------------


class KinesisLiteReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.mode = options.get("decode", "utf8")
        self.limit = int(options.get("max_records_per_shard", 10_000))
        self.truncate_ok = str(
            options.get("truncate_at_limit", "false")
        ).lower() in ("true", "1", "yes")

    def partitions(self):
        shards = KinesisClient(self.options).list_shards()
        return [InputPartition(s) for s in shards]

    def read(self, partition: InputPartition):
        shard_id = partition.value
        client = KinesisClient(self.options)
        # Read ONE record past the cap: a one-shot batch read that hits
        # max_records_per_shard with the shard still holding more data
        # would otherwise return PARTIAL data with no signal. Overflow
        # raises unless the caller opted into truncation explicitly
        # (truncate_at_limit=true).
        n = 0
        for rec in client.iter_after(shard_id, None, self.limit + 1):
            n += 1
            if n > self.limit:
                if self.truncate_ok:
                    return
                raise RuntimeError(
                    f"shard {shard_id} holds more than "
                    f"max_records_per_shard={self.limit} records; raise "
                    "the limit or set truncate_at_limit=true to accept "
                    "a truncated one-shot read (the streaming reader is "
                    "the unbounded path)"
                )
            yield _row(rec, shard_id, self.mode)


# ---------------------------------------------------------------------------
# Stream reader: per-shard sequence-number offsets
# ---------------------------------------------------------------------------


class KinesisLiteStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        self.options = dict(options)
        self.mode = options.get("decode", "utf8")
        self.start = options.get("starting_position", "TRIM_HORIZON").upper()
        if self.start not in ("TRIM_HORIZON", "LATEST"):
            raise ValueError(f"unknown starting_position {self.start!r}")
        self._client = KinesisClient(self.options)
        # per-shard per-trigger catch-up cap. 0/absent = unpaced (full tip).
        self.per_trigger = int(options.get("max_records_per_trigger", 0))
        # walk-start cache ONLY: latestOffset always walks to the true
        # tip (or a PACED prefix of it — see _paced below), so this
        # instance-local state never changes an answer — it just
        # shortens the walk (the engine may serve initialOffset and
        # latestOffset from different reader instances, so nothing
        # correctness-bearing may live here)
        self._positions: dict[str, str | None] = {}
        # Shards whose cached position is INSTANCE-DERIVED (established
        # by this instance's initialOffset or a prior full walk). Only
        # these may be paced: within one instance the engine's committed
        # start is always a previous latestOffset()/initialOffset()
        # return of this same instance, so a capped walk from the cached
        # position can never stop below it. A restarted instance has no
        # such floor — its FIRST walk per shard must reach the true tip
        # (one unpaced catch-up batch, the price of restart-exactness;
        # the duplicate bug a cursor-derived shortcut causes is pinned
        # in tests/test_kinesis_lite.py), after which pacing resumes.
        self._paced: set[str] = set()

    def _snapshot(self) -> dict:
        # offsets must be JSON round-trippable; None (shard start)
        # serializes as "" and deserializes back to None
        return {
            "shards": {
                s: ("" if p is None else p)
                for s, p in sorted(self._positions.items())
            }
        }

    @staticmethod
    def _load(offset: dict) -> dict[str, str | None]:
        return {
            s: (None if p == "" else p)
            for s, p in offset.get("shards", {}).items()
        }

    def _walk_to_tip(
        self, shard: str, start: str | None, cap: int | None = None
    ) -> str | None:
        """Last sequence number of a shard at most `cap` records past
        `start` (None cap = the true current tip; walk bounded by
        retention). Fresh client per call — walks run concurrently.

        UNPACED walks (cap None — restart carry-over, brand-new shard,
        LATEST resolution) run PERSISTENT: an early return after a few
        empty behind-tip pages could land BELOW a committed start the
        restarted instance cannot see, and once the engine logs that
        stale end the next batch (stale_end, new_tip] re-emits
        already-committed records. A sparse or aged stream region
        legitimately serves MANY empty pages while the iterator seeks
        (so raising here — a driver-side source call, where no task
        retry exists — would kill the query); persist keeps polling
        until caught up, guaranteed to progress because every page
        advances the iterator. PACED walks start from an
        instance-derived floor ≥ every committed position, so their
        early return is always ≥ committed and stays lenient."""
        client = KinesisClient(self.options)
        last = start
        remaining = cap
        while remaining is None or remaining > 0:
            page = min(10_000, remaining) if remaining is not None else 10_000
            recs = client.read_after(shard, last, page, persist=cap is None)
            if not recs:
                return last
            last = recs[-1]["SequenceNumber"]
            if remaining is not None:
                remaining -= len(recs)
        return last

    def _walk_all(self, targets: dict[str, tuple[str | None, int | None]]):
        """Concurrent tip walks: {shard: (start, cap)} -> {shard: tip}.
        One thread per shard, at most _WALK_THREADS — driver poll latency
        is max over shards, not the serial sum. Completed walks are CACHED
        into self._positions before any failure propagates: on a
        many-shard stream where one shard's walk dies (throttle-retry
        exhaustion, the persist cap), the other shards' possibly
        retention-length walks must not be thrown away — the retry then
        RESUMES from their tips instead of re-walking every shard."""
        if not targets:
            return {}
        workers = min(len(targets), _WALK_THREADS)
        with concurrent.futures.ThreadPoolExecutor(workers) as pool:
            futs = {
                s: pool.submit(self._walk_to_tip, s, p, c)
                for s, (p, c) in targets.items()
            }
            done: dict[str, str | None] = {}
            first_exc: BaseException | None = None
            for s, f in futs.items():
                try:
                    done[s] = f.result()
                except BaseException as e:  # noqa: BLE001 - re-raised below
                    if first_exc is None:
                        first_exc = e
            self._positions.update(done)
            if first_exc is not None:
                raise first_exc
            return done

    def initialOffset(self) -> dict:
        listed = self._client.list_shards()
        if self.start == "LATEST":
            # resolve "now" to concrete sequence numbers by draining
            # what already exists (bounded by retention) — LATEST means
            # "only records produced after the query started", and a
            # concrete per-shard cursor is what makes that exact.
            # Resume each walk from the instance cache (forward-only).
            self._positions.update(
                self._walk_all(
                    {s: (self._positions.get(s), None) for s in listed}
                )
            )
            self._paced |= set(listed)
            return self._snapshot()
        # TRIM_HORIZON: the ANSWER is the shard start for every shard,
        # but the instance walk cache must NOT be reset to it — the
        # engine calls latestOffset BEFORE initialOffset on a fresh
        # query (measured; see the module docstring), so the cache may
        # already hold tips this instance returned as a batch end.
        # Clobbering it to None would let the next CAPPED walk stop
        # below that logged end, the offset log would step backwards,
        # and the batch after the stale-clamp would re-read committed
        # records (the duplicate bug pinned in
        # test_engine_pacing_engages_from_second_trigger).
        for shard in listed:
            self._positions.setdefault(shard, None)
            self._paced.add(shard)
        return {"shards": {s: "" for s in sorted(listed)}}

    def latestOffset(self) -> dict:
        # resharding: shards that appeared since the last trigger join
        # at TRIM_HORIZON; shards the service no longer lists (closed
        # parents aged out of retention) are PRUNED — keeping them
        # would poll a deleted shard every trigger and eventually crash
        # on its ResourceNotFoundException
        listed = self._client.list_shards()
        self._positions = {
            shard: self._positions.get(shard) for shard in listed
        }
        self._paced &= set(listed)
        cap = self.per_trigger if self.per_trigger > 0 else None
        self._positions.update(
            self._walk_all(
                {
                    # pacing applies only to instance-derived cursors
                    # (see _paced); a shard first seen by this instance
                    # mid-stream is either brand-new (no committed
                    # position exists, so any end is safe) or a restart
                    # carry-over (committed position unknown, so the
                    # walk MUST reach the true tip) — the uncapped walk
                    # is correct for both
                    shard: (pos, cap if shard in self._paced else None)
                    for shard, pos in self._positions.items()
                }
            )
        )
        self._paced |= set(listed)
        return self._snapshot()

    def partitions(self, start: dict, end: dict):
        lo, hi = self._load(start), self._load(end)
        parts = []
        for shard, end_seq in hi.items():
            start_seq = lo.get(shard)
            # STALE-END RECONCILIATION. A walked end can lag the
            # COMMITTED `start` only via retention expiry: a restart
            # after the stream's retention window lapsed, where the
            # horizon walk ends below the offset log's position because
            # every committed sequence number has aged out. (The other
            # conceivable path — a transiently slow shard making an
            # early empty-poll return below live committed records — is
            # closed at the source: unpaced walks run read_after
            # persist=True and keep polling to the true tip instead of
            # returning a stale end; see _walk_to_tip.) The engine has
            # already
            # logged the stale end by the time we run, so the next
            # batch will be planned as (stale_end, new_tip] — but that
            # range cannot re-emit the committed records: every
            # sequence number <= the committed start is gone from the
            # stream (that is what made the walk stop early), and
            # Kinesis sequence numbers are strictly increasing, so new
            # arrivals all sort after it. Clamp this batch to empty and
            # fast-forward the driver cursor to the committed position;
            # the duplicate bug a LIVE-record lag would cause is pinned
            # in tests/test_kinesis_lite.py.
            stale = (
                end_seq is None
                or (start_seq is not None and int(end_seq) < int(start_seq))
            )
            if stale:
                cur = self._positions.get(shard)
                if start_seq is not None and (
                    cur is None or int(cur) < int(start_seq)
                ):
                    self._positions[shard] = start_seq
                continue
            if end_seq != start_seq:
                parts.append(InputPartition((shard, start_seq, end_seq)))
        # Spark requires >= 1 partition per batch
        return parts or [InputPartition((None, None, None))]

    def read(self, partition: InputPartition):
        shard_id, start_seq, end_seq = partition.value
        if shard_id is None:
            return
        client = KinesisClient(self.options)
        end_i = int(end_seq)
        # the planned range is bounded, but GetRecords pages freely —
        # stream page by page (one page in memory, not the whole range)
        # and cut at the committed end sequence; strict=True: a planned
        # range must never be silently truncated
        for rec in client.iter_after(
            shard_id, start_seq, 1_000_000_000, strict=True, stop_after=end_i
        ):
            if int(rec["SequenceNumber"]) > end_i:
                break
            yield _row(rec, shard_id, self.mode)

    def commit(self, end: dict) -> None:
        pass


class KinesisLiteDataSource(DataSource):
    """``format("kinesis-lite")``. Options: stream_name (required),
    endpoint_url, region, access_key/secret_key/session_token (enables
    SigV4), starting_position (TRIM_HORIZON | LATEST, streaming),
    max_records_per_shard (batch; a one-shot read that would exceed it
    RAISES unless truncate_at_limit=true), truncate_at_limit (batch),
    max_records_per_trigger (streaming; per-shard per-trigger pacing,
    0 = unpaced), decode (utf8 | base64)."""

    @classmethod
    def name(cls) -> str:
        return "kinesis-lite"

    def schema(self) -> str:
        return (
            "shard_id string, sequence_number string, partition_key string, "
            "data string, arrival_ts timestamp"
        )

    def reader(self, schema) -> KinesisLiteReader:
        return KinesisLiteReader(self.options)

    def streamReader(self, schema) -> KinesisLiteStreamReader:
        return KinesisLiteStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of ``format("kinesis-lite")``."""
    spark.dataSource.register(KinesisLiteDataSource)
