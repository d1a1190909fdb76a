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
  resubmission; driver row st32). Every call goes through the
  package's one AWS wire call (``aws.request``), which retries the
  protocol's throttling errors (ProvisionedThroughputExceeded /
  LimitExceeded) on its one backoff schedule; PutRecords' failed-subset
  resends pause on the same schedule;
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

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .. import aws

_API_VERSION = "Kinesis_20131202"
# a walk follows empty pages behind the tip, because every page advances
# the iterator; this many in a row means the iterator is not advancing
_EMPTY_PAGES_CAP = 100_000


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


def _throttled(status: int, body: bytes) -> bool:
    try:
        err_type = json.loads(body).get("__type", "")
    except ValueError:
        return False
    return err_type.split("#")[-1] in _THROTTLE_TYPES


class KinesisClient:
    """Minimal Kinesis Data Streams JSON/HTTP client (ListShards,
    GetShardIterator, GetRecords, PutRecords). Stateless besides
    config: safe to share across threads and to rebuild on retry.
    Rate-limit errors (the JSON protocol's
    ProvisionedThroughputExceeded/LimitExceeded, HTTP 400 + __type)
    back off inside ``aws.request`` — a polling reader at the
    5-reads/sec/shard ceiling must slow down, not fail the task."""

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

    def _call(self, action: str, payload: dict) -> dict:
        status, raw = aws.request(
            "POST",
            self.endpoint + "/",
            json.dumps(payload, separators=(",", ":")).encode(),
            {
                "content-type": "application/x-amz-json-1.1",
                "x-amz-target": f"{_API_VERSION}.{action}",
            },
            aws.credentials(self._instance_role),
            self.region,
            "kinesis",
            _throttled,
        )
        if status >= 300:
            # surface the AWS error body
            raise RuntimeError(
                f"Kinesis {action} failed: HTTP {status} {raw.decode()!r}"
            )
        return json.loads(raw)

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

    def iter_after(
        self,
        shard_id: str,
        position: str | None,
        limit: int,
        stop_after: int | None = None,
    ):
        """Up to `limit` records strictly after `position` (None =
        shard start), one GetRecords page in memory at a time. Stops at
        `limit`, at a record at or past `stop_after`, at the tip (a page
        with MillisBehindLatest 0) or at a closed shard (no
        NextShardIterator). Empty pages behind the tip are followed:
        GetRecords serves them while the iterator passes a part of the
        shard with no records (an aged-out region under TRIM_HORIZON),
        and every page advances the iterator. Stopping there instead
        would hand every later walk from the same position the same
        empty pages. _EMPTY_PAGES_CAP empty pages in a row raise: the
        endpoint is not advancing."""
        it = self.shard_iterator(shard_id, position)
        n = 0
        empty = 0
        while it and n < limit:
            page = self.get_records(it, limit - n)
            recs = page.get("Records", [])
            n += len(recs)
            it = page.get("NextShardIterator")
            yield from recs
            if page.get("MillisBehindLatest", 0) == 0:
                break  # at the tip: a further page would come back empty
            if not recs:
                empty += 1
                if empty >= _EMPTY_PAGES_CAP:
                    raise RuntimeError(
                        f"shard {shard_id}: {empty} consecutive empty "
                        "GetRecords pages while still behind tip — the "
                        "iterator is not advancing (service fault)"
                    )
                continue
            empty = 0
            if stop_after is not None and int(recs[-1]["SequenceNumber"]) >= stop_after:
                break  # planned range fully covered — don't walk to tip


_PUT_CHUNK = 500  # the PutRecords API cap (records per request)


def _client_put_records(
    client: "KinesisClient", records: list[tuple[str, bytes]]
) -> int:
    """PutRecords in API-cap chunks, retrying the FAILED SUBSET.
    PutRecords is documented as non-atomic: per-record failures come
    back with an ErrorCode and FailedRecordCount, and the client
    contract is to resubmit exactly those records (the reference's
    producer writes one record per Lambda invoke via put_record,
    ``kds-producer-lambda/lambda_function.py``; this is the batched
    form of the same write). Per-record throughput failures are usually
    still throttled milliseconds later, so each resubmit waits
    ``aws.backoff(attempt)``; a subset still failing after
    ``aws.THROTTLE_RETRIES`` resubmits raises — delivery must never be
    silently partial (a Spark task retry would re-put the whole
    partition). Returns the number of records delivered."""
    delivered = 0
    for i in range(0, len(records), _PUT_CHUNK):
        pending = records[i : i + _PUT_CHUNK]
        for attempt in range(aws.THROTTLE_RETRIES + 1):
            if attempt:
                time.sleep(aws.backoff(attempt - 1))
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
            failed = []
            if out.get("FailedRecordCount"):
                failed = [
                    pending[j]
                    for j, r in enumerate(out["Records"])
                    if r.get("ErrorCode")
                ]
            delivered += len(pending) - len(failed)
            pending = failed
            if not pending:
                break
        if pending:
            raise RuntimeError(
                f"PutRecords: {len(pending)} records still failing after "
                f"{aws.THROTTLE_RETRIES} resubmits"
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


def _row(rec: dict, shard_id: str):
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
        base64.b64decode(rec.get("Data", "")).decode("utf-8", errors="replace"),
        arrival,
    )


# ---------------------------------------------------------------------------
# Batch reader: TRIM_HORIZON -> caught-up, one partition per shard
# ---------------------------------------------------------------------------


class KinesisLiteReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = dict(options)
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
            yield _row(rec, shard_id)


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
        # already exists
        def tip(shard: str) -> str:
            last = ""
            for rec in self._client.iter_after(shard, None, _UNBOUNDED):
                last = rec["SequenceNumber"]
            return last

        return {"shards": _per_shard(tip, shards)}

    def read(self, start: dict):
        committed = start["shards"]
        # re-listed per trigger: a shard new since `start` (a split or
        # merge child) joins at TRIM_HORIZON, an unlisted one drops out
        shards = self._client.list_shards()
        got = _per_shard(
            lambda s: list(
                self._client.iter_after(s, committed.get(s) or None, self.cap)
            ),
            shards,
        )
        # `end` is the last record read, never below `start`
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
        return iter([_row(r, s) for s in shards for r in got[s]]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        """``(start, end]`` page by page. Records aged out of retention
        are not served, so they are not replayed."""
        committed = start["shards"]
        for shard, last in end["shards"].items():
            first = committed.get(shard, "")
            if last in ("", first):
                continue
            stop = int(last)
            for rec in self._client.iter_after(
                shard, first or None, _UNBOUNDED, stop_after=stop
            ):
                if int(rec["SequenceNumber"]) > stop:
                    break
                yield _row(rec, shard)


class KinesisLiteDataSource(DataSource):
    """``format("kinesis-lite")``. Options: stream_name (required),
    endpoint_url, region, starting_position (TRIM_HORIZON | LATEST,
    streaming), max_records_per_shard (batch; a one-shot read that would
    exceed it RAISES unless truncate_at_limit=true), truncate_at_limit
    (batch), max_records_per_trigger (streaming; records per shard per
    trigger, 0 or unset = 10,000). Record data decodes as UTF-8, an
    invalid byte as U+FFFD."""

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
