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
- SigV4 signing through the package's one signer (``aws.sign``,
  botocore's), whenever the process's AWS credential chain yields
  credentials — so the same source points at real AWS, kinesalite, or
  LocalStack; with no credentials the requests go out unsigned, for
  anonymous local endpoints (the in-process fake in
  sources/kinesis_fake.py). A plain-http endpoint is never AWS, so for
  it the chain skips the instance metadata service;
- per-shard SEQUENCE-NUMBER offsets: the stream reader checkpoints
  ``{shard_id: last_sequence_number}`` and replays any logged range
  via ``AFTER_SEQUENCE_NUMBER`` iterators — Kinesis retention makes a
  range exactly re-readable on checkpoint recovery, the same
  replayability contract Kafka offsets give;
- resharding: ``read`` re-lists shards every trigger; shards that
  appear mid-stream (splits/merges) join at TRIM_HORIZON, a CLOSED
  parent (iterator ends after the frozen remainder) drains and stops
  advancing, and a shard no longer listed drops out — the full shard
  lifecycle is pinned in tests/test_kinesis_lite.py.

Execution model: ``KinesisLiteStreamReader`` is a
``SimpleDataSourceStreamReader``, so each record is fetched once, on
the driver. Every trigger reads at most ``max_records_per_trigger``
records per shard (10,000 when 0 or unset), all shards concurrently,
past the committed offset the engine passes in; the offset it returns
is the last record read. Pacing is therefore restart-safe from the
first trigger. Per trigger the driver holds cap × shards records, and
Spark's wrapper keeps the last committed batch's rows until the next
commit. Spark plans the batch as one partition;
``streaming/pipeline.build_source`` fans it out with one round-robin
``repartition``. Batch reads (``KinesisLiteReader``) stay one partition
per shard, read on the executors.

A streaming query over this source needs a processing-time trigger.
Under Spark's default trigger an idle query calls ``read`` every
``spark.sql.streaming.pollingDelay`` (10 ms), and each call is one
ListShards plus one GetShardIterator and one GetRecords per shard, past
Kinesis's 5 calls per second per shard. ``run_pipeline`` always sets a
trigger: ``trigger_interval``, or availableNow when it is None. Under
availableNow the engine takes one ``read``, so a run reads at most
``max_records_per_trigger`` records per shard and stops, however large
the backlog; the next run over the same checkpoint reads the next slice.
"""

from __future__ import annotations

import base64
import concurrent.futures
import datetime
import json
import time
import urllib.error
import urllib.request

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .. import aws

_API_VERSION = "Kinesis_20131202"
_MAX_EMPTY_POLLS = 8  # GetRecords may return empty pages mid-stream
# persist=True walks tolerate long empty runs (sparse/aged stream
# regions) because every page advances the iterator; this cap only
# trips a service that stops advancing entirely
_PERSIST_EMPTY_CAP = 100_000


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
    GetShardIterator, GetRecords, PutRecords). Stateless besides
    config: safe to share across threads and to rebuild on retry.
    Rate-limit errors (the JSON protocol's
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
        # the instance metadata service only for an AWS (https) endpoint
        self._instance_role = self.endpoint.startswith("https://")
        self.timeout = float(options.get("http_timeout_sec", 10))
        self.throttle_retries = int(options.get("max_throttle_retries", 8))
        self.backoff_s = float(options.get("throttle_backoff_sec", 0.05))

    def _call(self, action: str, payload: dict) -> dict:
        body = json.dumps(payload, separators=(",", ":")).encode()
        url = self.endpoint + "/"
        creds = aws.credentials(self._instance_role)
        attempt = 0
        while True:
            headers = {
                "content-type": "application/x-amz-json-1.1",
                "x-amz-target": f"{_API_VERSION}.{action}",
            }
            if creds is not None:
                # re-signed per attempt: x-amz-date stays fresh
                headers = aws.sign(
                    creds, "POST", url, headers, body, self.region, "kinesis"
                )
            req = urllib.request.Request(url, data=body, headers=headers, method="POST")
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
                    time.sleep(min(self.backoff_s * (2**attempt), 5.0))
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

    def read_after(self, shard_id: str, position: str | None, limit: int) -> list[dict]:
        """``iter_after``'s records as a list, lenient."""
        return list(self.iter_after(shard_id, position, limit))

    def iter_after(
        self,
        shard_id: str,
        position: str | None,
        limit: int,
        strict: bool = False,
        stop_after: int | None = None,
        persist: bool = False,
    ):
        """Up to `limit` records strictly after `position` (None =
        shard start), one GetRecords page in memory at a time. Stops at
        a caught-up shard (a page with MillisBehindLatest 0) or a closed
        one (no NextShardIterator). A behind-tip shard may serve empty
        pages while the iterator seeks (a sparse or aged stream region
        serves MANY); the three empty-page policies, by call site:

        - default (lenient): stop after _MAX_EMPTY_POLLS empties — the
          stream reader's ``read``, whose end offset is the last record
          returned, so an early stop only defers records to the next
          trigger;
        - ``strict=True``: RAISE — a replay of a logged range, where
          returning early would silently drop records;
        - ``persist=True``: keep polling through empty pages until
          caught up — LATEST's tip resolution, whose early return would
          start the query below records that already existed. Each
          empty page still advances the shard iterator, so the walk
          provably progresses; _PERSIST_EMPTY_CAP bounds the
          pathological non-advancing endpoint."""
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
            if recs and page.get("MillisBehindLatest") == 0:
                break  # caught up: a further page would come back empty
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
                time.sleep(min(client.backoff_s * (2**_attempt), 5.0))
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
    PutRecords chunks of 500, failed-subset retries, signed when the
    executor's credential chain yields credentials. data columns may be
    string or binary. Use with a batch DataFrame
    (``df.foreachPartition(put_records_writer(opts))``)
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
# Stream reader: per-shard sequence-number offsets, read on the driver
# ---------------------------------------------------------------------------

# records per shard per trigger when max_records_per_trigger is 0 or
# absent: one GetRecords page, never the whole retention window
_TRIGGER_CAP = 10_000
_UNBOUNDED = 1 << 62  # no record limit: the tip or stop_after ends the read


def _per_shard(fn, shards: list[str]) -> dict:
    """``{shard: fn(shard)}``, the shards read concurrently on up to 8
    threads, so a poll takes the slowest shard's time, not the sum."""
    if not shards:
        return {}
    with concurrent.futures.ThreadPoolExecutor(min(len(shards), 8)) as pool:
        return dict(zip(shards, pool.map(fn, shards)))


class KinesisLiteStreamReader(SimpleDataSourceStreamReader):
    """Offsets are ``{"shards": {shard_id: last sequence number read}}``,
    ``""`` for a shard read from its start. ``read(start)`` fetches at
    most ``max_records_per_trigger`` records per shard past ``start``;
    ``readBetweenOffsets`` replays a logged batch after a restart. The
    engine passes the committed offset into every call, so the reader
    keeps no position of its own."""

    def __init__(self, options: dict):
        self.options = dict(options)
        self.mode = options.get("decode", "utf8")
        self.start = options.get("starting_position", "TRIM_HORIZON").upper()
        if self.start not in ("TRIM_HORIZON", "LATEST"):
            raise ValueError(f"unknown starting_position {self.start!r}")
        self._client = KinesisClient(self.options)
        cap = int(options.get("max_records_per_trigger", 0))
        self.cap = cap if cap > 0 else _TRIGGER_CAP

    def initialOffset(self) -> dict:
        shards = self._client.list_shards()
        if self.start == "TRIM_HORIZON":
            return {"shards": {s: "" for s in shards}}

        # LATEST: each shard's current tip, walked once through what
        # already exists. persist: an early stop would start the query
        # below records that existed before it.
        def tip(shard: str) -> str:
            last = ""
            for rec in self._client.iter_after(shard, None, _UNBOUNDED, persist=True):
                last = rec["SequenceNumber"]
            return last

        return {"shards": _per_shard(tip, shards)}

    def read(self, start: dict):
        committed = start["shards"]
        # re-listed per trigger: a shard new since `start` (a split or
        # merge child) joins at TRIM_HORIZON, an unlisted one drops out
        shards = self._client.list_shards()
        got = _per_shard(
            lambda s: self._client.read_after(s, committed.get(s) or None, self.cap),
            shards,
        )
        # lenient read_after: `end` is the last record read, so a read
        # that stops early still never falls below `start`
        end = {
            "shards": {
                s: got[s][-1]["SequenceNumber"] if got[s] else committed.get(s, "")
                for s in shards
            }
        }
        if end == start:
            # the same JSON as `start`, so the engine plans no batch
            return iter(()), start
        # a list iterator: Spark's wrapper copies it to serve the batch
        return iter([_row(r, s, self.mode) for s in shards for r in got[s]]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """``(start, end]`` page by page. strict: a replay that stopped
        short would silently drop records the offset log holds. Records
        aged out of retention are not served, so they are not replayed."""
        committed = start["shards"]
        for shard, last in end["shards"].items():
            first = committed.get(shard, "")
            if last in ("", first):
                continue
            stop = int(last)
            for rec in self._client.iter_after(
                shard, first or None, _UNBOUNDED, strict=True, stop_after=stop
            ):
                if int(rec["SequenceNumber"]) > stop:
                    break
                yield _row(rec, shard, self.mode)


class KinesisLiteDataSource(DataSource):
    """``format("kinesis-lite")``. Options: stream_name (required),
    endpoint_url, region, starting_position (TRIM_HORIZON | LATEST,
    streaming), max_records_per_shard (batch; a one-shot read that would
    exceed it RAISES unless truncate_at_limit=true), truncate_at_limit
    (batch), max_records_per_trigger (streaming; records per shard per
    trigger, 0 or unset = 10,000), decode (utf8 | base64)."""

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

    def simpleStreamReader(self, schema) -> KinesisLiteStreamReader:
        return KinesisLiteStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of ``format("kinesis-lite")``."""
    spark.dataSource.register(KinesisLiteDataSource)
