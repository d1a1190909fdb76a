"""The Kinesis read path, executed: sources/kinesis_lite.py speaking
the public Kinesis JSON protocol (SigV4-signed when the credential
chain yields credentials) against the in-process fake endpoint
(sources/kinesis_fake.py).
Closes the r6-r10 standing gap where the S1 stage was only an
option-map (streaming/pipeline.py) because the connector jar is absent
— the protocol itself is public, so the engine now ships a reader that
exercises ListShards/GetShardIterator/GetRecords, shard-parallel
partitions, and per-shard sequence-number offsets for real."""

from __future__ import annotations

import datetime

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.docgen import (
    wire_record,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_fake import (
    FakeKinesisServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
    KinesisClient,
    KinesisLiteStreamReader,
    register,
)


def _seeded_shards(n_docs: int = 40, n_shards: int = 4):
    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(n_shards)
    }
    for doc_id in range(n_docs):
        _, wire = wire_record(42, doc_id)
        shards[f"shardId-{doc_id % n_shards:012d}"].append(
            (str(doc_id), wire.encode())
        )
    return shards


@pytest.fixture()
def fake():
    srv = FakeKinesisServer("docs", _seeded_shards())
    url = srv.start()
    yield srv, url
    srv.stop()


def test_client_protocol_roundtrip(fake, empty_aws_chain, monkeypatch):
    srv, url = fake
    c = KinesisClient(
        {"stream_name": "docs", "endpoint_url": url, "region": "us-east-1"}
    )
    shards = c.list_shards()
    assert shards == [f"shardId-{i:012d}" for i in range(4)]
    # TRIM_HORIZON reads everything, paginated
    recs = list(c.iter_after(shards[0], None, 3))
    assert [r["SequenceNumber"] for r in recs] == ["0", "1", "2"]
    # AFTER_SEQUENCE_NUMBER resumes exactly
    rest = list(c.iter_after(shards[0], "2", 1000))
    assert [r["SequenceNumber"] for r in rest] == [
        str(i) for i in range(3, 10)
    ]
    # signed requests traverse the same path (fake ignores auth)
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKIDEXAMPLE")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "secret")
    aws.credentials.cache_clear()
    assert c.list_shards() == shards
    assert srv.access_keys[0] is None and srv.access_keys[-1] == "AKIDEXAMPLE"


def test_stream_reader_offsets_ranges_and_resharding(fake):
    srv, url = fake
    opts = {"stream_name": "docs", "endpoint_url": url}
    r = KinesisLiteStreamReader(opts)
    o0 = r.initialOffset()
    assert set(o0["shards"]) == {f"shardId-{i:012d}" for i in range(4)}
    assert all(p == "" for p in o0["shards"].values())
    # one read per record: read(start) returns the rows and the offset
    # of the last record it read (10 per shard, under the default cap)
    rows, o1 = r.read(o0)
    got = sorted((row[0], row[1]) for row in rows)
    assert all(p == "9" for p in o1["shards"].values())
    assert len(got) == 40 and len(set(got)) == 40
    # a restart replays the logged batch exactly
    assert sorted((row[0], row[1]) for row in r.readBetweenOffsets(o0, o1)) == got
    # restart safety BY CONSTRUCTION: a fresh reader given the committed
    # offset has nothing left to read
    rows, o1b = KinesisLiteStreamReader(opts).read(o1)
    assert list(rows) == [] and o1b == o1
    # resharding: a shard appearing mid-stream joins at TRIM_HORIZON,
    # and appended records move the offset
    srv.add_shard("shardId-000000000009", [("x", b"{}"), ("y", b"{}")])
    srv.append("shardId-000000000000", [("z", b"{}")])
    rows, o2 = r.read(o1)
    assert o2["shards"]["shardId-000000000009"] == "1"
    assert o2["shards"]["shardId-000000000000"] == "10"
    new_rows = sorted((row[0], row[1]) for row in rows)
    assert new_rows == [
        ("shardId-000000000000", "10"),
        ("shardId-000000000009", "0"),
        ("shardId-000000000009", "1"),
    ]
    assert sorted((row[0], row[1]) for row in r.readBetweenOffsets(o1, o2)) == new_rows


def test_fresh_reader_reads_only_after_the_committed_offset(fake):
    """Restart-safe by construction: a new reader instance, given the
    offset the engine committed, returns only the records after it —
    paced from its first read, with nothing re-read."""
    srv, url = fake
    opts = {"stream_name": "docs", "endpoint_url": url, "max_records_per_trigger": "3"}
    first = KinesisLiteStreamReader(opts)
    rows, committed = first.read(first.initialOffset())
    assert len(list(rows)) == 12
    srv.append("shardId-000000000000", [("late", b"{}")])
    rows, end = KinesisLiteStreamReader(opts).read(committed)
    got = sorted((row[0], row[1]) for row in rows)
    assert got == sorted(
        (f"shardId-{i:012d}", str(n)) for i in range(4) for n in (3, 4, 5)
    )
    assert all(p == "5" for p in end["shards"].values())


def test_read_without_a_cap_is_bounded_to_one_page_per_shard():
    """No max_records_per_trigger never means the whole retention
    window through the driver: a shard holding 25,000 records yields
    at most 10,000 on the first read, and the rest on later reads."""
    srv = FakeKinesisServer(
        "docs", {"shardId-000000000000": [("k", b"x")] * 25_000}
    )
    url = srv.start()
    try:
        r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
        rows, end = r.read(r.initialOffset())
        assert len(list(rows)) == 10_000
        assert end["shards"]["shardId-000000000000"] == "9999"
        rows, end = r.read(end)
        assert len(list(rows)) == 10_000
        rows, end = r.read(end)
        assert len(list(rows)) == 5_000
        assert end["shards"]["shardId-000000000000"] == "24999"
    finally:
        srv.stop()


def test_a_caught_up_page_ends_the_shard_read(fake, monkeypatch):
    """A page that reports MillisBehindLatest 0 is the tip: the read
    stops there instead of asking for a page that would come back
    empty, so a trigger costs one GetRecords call per shard."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources import (
        kinesis_lite as kl,
    )

    srv, url = fake
    calls = []
    orig = kl.KinesisClient.get_records
    monkeypatch.setattr(
        kl.KinesisClient,
        "get_records",
        lambda self, it, limit: calls.append(it) or orig(self, it, limit),
    )
    r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
    rows, _ = r.read(r.initialOffset())
    assert len(list(rows)) == 40
    assert len(calls) == 4


def test_idle_read_returns_the_start_offset_unchanged(fake):
    """With nothing new, read(end) returns no rows and an offset whose
    JSON is exactly end's, so Spark plans no empty batch."""
    import json

    srv, url = fake
    r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
    _, end = r.read(r.initialOffset())
    # the engine hands offsets back through JSON
    start = json.loads(json.dumps(end))
    rows, again = r.read(start)
    assert list(rows) == []
    assert json.dumps(again) == json.dumps(start)
    assert json.dumps(again, sort_keys=True) == json.dumps(end, sort_keys=True)


def test_latest_starting_position_skips_preexisting(fake):
    srv, url = fake
    r = KinesisLiteStreamReader(
        {
            "stream_name": "docs",
            "endpoint_url": url,
            "starting_position": "LATEST",
        }
    )
    o0 = r.initialOffset()
    assert all(p == "9" for p in o0["shards"].values())
    # nothing new -> the offset does not move and no rows come back
    rows, o1 = r.read(o0)
    assert list(rows) == [] and o1 == o0
    # appended records after start ARE picked up
    srv.append("shardId-000000000000", [("z", b"{}")])
    rows, o2 = r.read(o1)
    assert o2["shards"]["shardId-000000000000"] == "10"
    assert [(row[0], row[1]) for row in rows] == [("shardId-000000000000", "10")]


def test_spark_batch_read_shard_parallel(spark, fake):
    srv, url = fake
    register(spark)
    rows = (
        spark.read.format("kinesis-lite")
        .option("stream_name", "docs")
        .option("endpoint_url", url)
        .load()
        .collect()
    )
    assert len(rows) == 40
    assert {r.shard_id for r in rows} == {f"shardId-{i:012d}" for i in range(4)}
    by_key = {int(r.partition_key): r for r in rows}
    _, wire7 = wire_record(42, 7)
    assert by_key[7].data == wire7
    assert by_key[7].arrival_ts is not None


def test_spark_streaming_exactly_once_multi_batch(spark):
    # arrival simulation: each trigger's ListShards reveals 2 more
    # records per shard, so the reader sees a GROWING stream
    # and needs several micro-batches to drain it
    srv = FakeKinesisServer("docs", _seeded_shards(), reveal_per_list=2)
    url = srv.start()
    try:
        register(spark)
        from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
            LAST_RUN_BATCHES,
            run_until_rows,
        )

        raw = (
            spark.readStream.format("kinesis-lite")
            .option("stream_name", "docs")
            .option("endpoint_url", url)
            .load()
        )
        out = run_until_rows(
            raw.select("shard_id", "sequence_number", "partition_key"),
            "kinesis_lite_t",
            "append",
            target_rows=40,
        )
        rows = out.collect()
        # every seeded record exactly once, across >= 2 micro-batches
        assert len(rows) == 40
        assert len({(r.shard_id, r.sequence_number) for r in rows}) == 40
        assert LAST_RUN_BATCHES["kinesis_lite_t"] >= 2
    finally:
        srv.stop()
    assert sorted(int(r.partition_key) for r in rows) == list(range(40))


def test_pipeline_source_format_kinesis_lite_end_to_end(spark, fake):
    """The S1 config path: PipelineConfig(source_format='kinesis-lite')
    through build_source yields the RAW(value) contract the downstream
    M1/F1/A1 stages consume — the reference's consumer config driving
    the engine's own protocol reader."""
    srv, url = fake
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
        PipelineConfig,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.plans.streaming_queries import (
        run_until_rows,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        build_source,
    )

    cfg = PipelineConfig(
        source_format="kinesis-lite",
        start_position="earliest",
        extra={
            "kinesis_stream": "docs",
            "kinesis_region": "us-east-1",
            "kinesis_endpoint": url,
            # reader options ride PipelineConfig.extra
            "kinesis_max_records_per_trigger": 4,
        },
    )
    raw = build_source(spark, cfg)
    assert raw.columns == ["value"]
    # each trigger is one driver-read partition, spread round-robin
    plan = raw._jdf.queryExecution().logical().toString()
    assert f"Repartition {spark.sparkContext.defaultParallelism}, true" in plan
    rows = run_until_rows(
        raw, "kinesis_lite_cfg", "append", target_rows=40
    ).collect()
    assert len(rows) == 40
    _, wire0 = wire_record(42, 0)
    assert wire0 in {r.value for r in rows}


def test_available_now_run_reads_one_capped_read_per_shard(spark, fake, tmp_path):
    """A kinesis-lite pipeline without ``trigger_interval`` (availableNow)
    plans one batch from one capped ``read``: over a backlog larger than
    cap x shards it reads at most ``max_records_per_trigger`` records per
    shard and stops. A second run over the same checkpoint reads the
    next capped slice."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
        PipelineConfig,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        observed_metrics,
        run_pipeline,
    )

    srv, url = fake  # 4 shards x 10 records
    cfg = PipelineConfig(
        source_format="kinesis-lite",
        start_position="earliest",
        sink_path=str(tmp_path / "vectors"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        embedding_dim=8,
        extra={
            "kinesis_stream": "docs",
            "kinesis_region": "us-east-1",
            "kinesis_endpoint": url,
            "kinesis_max_records_per_trigger": 3,
        },
    )
    for _ in range(2):
        q = run_pipeline(spark, cfg)
        assert q.awaitTermination(120)
        assert len(q.recentProgress) == 1
        assert observed_metrics(q)["graft_parse"]["rows_in"] == 12


def test_engine_pacing_from_first_trigger(spark, fake):
    """The ENGINE-LEVEL pacing contract: the engine passes the
    committed offset into read(), so max_records_per_trigger caps each
    shard's advance from the first trigger on — the 40-record backlog
    drains at 4 per shard per trigger over 4 shards."""
    import os
    import tempfile
    import time

    srv, url = fake
    register(spark)
    raw = (
        spark.readStream.format("kinesis-lite")
        .option("stream_name", "docs")
        .option("endpoint_url", url)
        .option("max_records_per_trigger", "4")
        .load()
    )
    ckpt = os.path.join(tempfile.mkdtemp(prefix="kl_pace_"), "ckpt")
    q = (
        raw.writeStream.format("memory")
        .queryName("kl_pace_t")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        def wait_rows(n: int) -> None:
            deadline = time.monotonic() + 60
            while (
                time.monotonic() < deadline
                and spark.table("kl_pace_t").count() < n
            ):
                time.sleep(0.2)
            assert spark.table("kl_pace_t").count() >= n

        # the 40-record backlog: >= 3 paced triggers
        wait_rows(40)
        # later arrivals pace the same way: 24 new records at 4/shard
        # per trigger over 4 shards = >= 2 more non-empty triggers
        for i in range(24):
            _, wire = wire_record(42, 500 + i)
            srv.append(f"shardId-{i % 4:012d}", [(str(500 + i), wire.encode())])
        wait_rows(64)
    finally:
        q.stop()
        q.awaitTermination()
    sizes = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
    assert sizes[0] == 16, sizes
    assert len(sizes) >= 5 and all(s <= 16 for s in sizes), sizes
    rows = spark.table("kl_pace_t").collect()
    assert len({(r.shard_id, r.sequence_number) for r in rows}) == 64


def test_spark_streaming_checkpoint_recovery_resumes_after_committed(spark, fake):
    """Stop/restart against the SAME checkpoint: the restarted query
    resumes from the committed per-shard sequence numbers — records
    drained before the stop are NOT re-emitted, records appended while
    the query was down are picked up exactly once. The operational
    contract that makes the source production-shaped."""
    import os
    import tempfile
    import time

    srv, url = fake
    register(spark)
    base = tempfile.mkdtemp(prefix="kinesis_ckpt_")
    ckpt = os.path.join(base, "ckpt")
    out_dir = os.path.join(base, "out")

    def committed_count() -> int:
        try:
            return spark.read.parquet(out_dir).count()
        except Exception:  # first poll may precede any committed batch
            return 0

    def run_drain(target: int):
        raw = (
            spark.readStream.format("kinesis-lite")
            .option("stream_name", "docs")
            .option("endpoint_url", url)
            .load()
        )
        # parquet FileStreamSink, not memory: the memory sink refuses
        # checkpoint recovery; the file sink's _spark_metadata manifest
        # is what makes restart exactly-once
        q = (
            raw.select("shard_id", "sequence_number", "partition_key")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        )
        # processAllAvailable() can't drain a per-trigger cursor source
        # (it snapshots "available" once) — poll the committed output
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline and committed_count() < target:
            time.sleep(0.25)
        q.stop()
        q.awaitTermination()
        return spark.read.parquet(out_dir).collect()

    first = run_drain(40)
    assert len(first) == 40
    assert len({(r.shard_id, r.sequence_number) for r in first}) == 40

    # while the query is down, 12 more records arrive
    for i in range(12):
        _, wire = wire_record(42, 100 + i)
        srv.append(f"shardId-{i % 4:012d}", [(str(100 + i), wire.encode())])

    second = run_drain(52)
    assert len(second) == 52, "restart must not duplicate committed batches"
    assert len({(r.shard_id, r.sequence_number) for r in second}) == 52
    new_keys = sorted(
        int(r.partition_key) for r in second if int(r.partition_key) >= 100
    )
    assert new_keys == list(range(100, 112)), (
        "restart must emit exactly the post-stop records, once each"
    )


def test_shard_split_lifecycle_closed_parent_and_children(fake):
    """SplitShard lifecycle: the parent closes (its iterator ENDS — no
    NextShardIterator after the frozen remainder), children surface on
    the next shard listing and are read from TRIM_HORIZON; the closed
    parent's offset stops moving and nothing is lost or duplicated."""
    srv, url = fake
    r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
    rows, o1 = r.read(r.initialOffset())
    assert len(list(rows)) == 40

    srv.split_shard(
        "shardId-000000000000",
        {
            "shardId-000000000010": [("c1", b"{}"), ("c2", b"{}")],
            "shardId-000000000011": [("c3", b"{}")],
        },
    )
    # closed parent: iterator exhausts without a continuation token
    c = KinesisClient({"stream_name": "docs", "endpoint_url": url})
    page = c.get_records(c.shard_iterator("shardId-000000000000", "9"), 100)
    assert page["Records"] == [] and "NextShardIterator" not in page
    # appends to a closed shard are refused (the real service contract)
    with pytest.raises(ValueError):
        srv.append("shardId-000000000000", [("x", b"{}")])

    rows, o2 = r.read(o1)
    assert o2["shards"]["shardId-000000000000"] == "9"  # frozen
    assert o2["shards"]["shardId-000000000010"] == "1"
    assert o2["shards"]["shardId-000000000011"] == "0"
    new_rows = sorted((row[0], row[1]) for row in rows)
    assert new_rows == [
        ("shardId-000000000010", "0"),
        ("shardId-000000000010", "1"),
        ("shardId-000000000011", "0"),
    ]
    # a further trigger with no new data reads nothing
    rows, o3 = r.read(o2)
    assert list(rows) == [] and o3 == o2


def test_deleted_shards_are_pruned_from_offsets(fake):
    """A closed shard aged out of retention disappears from ListShards;
    the reader must stop polling it (a deleted shard's GetShardIterator
    is a ResourceNotFoundException that would fail every trigger)."""
    srv, url = fake
    r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
    _, o1 = r.read(r.initialOffset())
    assert "shardId-000000000003" in o1["shards"]
    # simulate the service deleting the shard entirely
    with srv._lock:
        del srv._shards["shardId-000000000003"]
        del srv._visible["shardId-000000000003"]
    _, o2 = r.read(o1)
    assert "shardId-000000000003" not in o2["shards"]


def test_reveal_does_not_rehide_closed_shard_remainder():
    """split_shard marks the parent fully visible (-1); the per-list
    reveal increment must not clobber that sentinel and re-hide
    already-readable records (simulated data loss)."""
    srv = FakeKinesisServer(
        "docs", {"s0": [("k", b"{}")] * 6}, reveal_per_list=1
    )
    url = srv.start()
    try:
        c = KinesisClient({"stream_name": "docs", "endpoint_url": url})
        srv.split_shard("s0", {"s1": [("c", b"{}")]})
        c.list_shards()  # reveal tick — must not touch the closed parent
        recs = list(c.iter_after("s0", None, 100))
        assert len(recs) == 6, "closed parent remainder must stay readable"
    finally:
        srv.stop()


def test_shards_are_read_concurrently(monkeypatch):
    """read() polls shards on a bounded thread pool, so a trigger takes
    the slowest shard's time rather than the sum: with 16 shards and a
    pool of 8, GetRecords calls from distinct shards overlap."""
    import threading
    import time

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources import (
        kinesis_lite as kl,
    )

    shards = {
        f"shardId-{i:012d}": [(str(j), b"{}") for j in range(3)]
        for i in range(16)
    }
    srv = FakeKinesisServer("docs", shards)
    url = srv.start()
    try:
        lock = threading.Lock()
        state = {"cur": 0, "max": 0}
        orig = kl.KinesisClient.get_records

        def tracked(self, iterator, limit):
            with lock:
                state["cur"] += 1
                state["max"] = max(state["max"], state["cur"])
            time.sleep(0.05)  # widen the overlap window
            try:
                return orig(self, iterator, limit)
            finally:
                with lock:
                    state["cur"] -= 1

        monkeypatch.setattr(kl.KinesisClient, "get_records", tracked)
        r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
        rows, o1 = r.read(r.initialOffset())
        assert len(list(rows)) == 48
        assert all(p == "2" for p in o1["shards"].values())
        assert state["max"] >= 4, (
            f"shard reads did not overlap (max concurrency {state['max']})"
        )
    finally:
        srv.stop()


def test_paced_catchup_first_batch_bounded_and_exactly_once(fake):
    """max_records_per_trigger caps each shard's advance per read: a
    40-record backlog drains in >= 4 capped batches instead of one
    unbounded one, every record exactly once — and a restarted reader
    paces from its first read too."""
    srv, url = fake
    opts = {
        "stream_name": "docs",
        "endpoint_url": url,
        "max_records_per_trigger": "3",
    }
    r = KinesisLiteStreamReader(opts)
    prev = r.initialOffset()
    seen: list[tuple[str, str]] = []
    batches = 0
    while True:
        rows, cur = r.read(prev)
        rows = list(rows)
        if not rows and cur == prev:
            break
        batches += 1
        assert len(rows) <= 3 * 4, "a paced trigger exceeded cap*shards"
        seen.extend((row[0], row[1]) for row in rows)
        prev = cur
        assert batches < 30
    assert len(seen) == 40 and len(set(seen)) == 40
    assert batches >= 4, f"pacing should take >=4 batches, took {batches}"

    # RESTART mid-stream: a fresh instance given the committed offset
    # reads only what came after it, at most the cap per shard
    srv.append("shardId-000000000000", [(str(100 + i), b"{}") for i in range(9)])
    r2 = KinesisLiteStreamReader(opts)
    rows, o_restart = r2.read(prev)
    assert o_restart["shards"]["shardId-000000000000"] == "12"
    assert sorted(row[1] for row in rows) == ["10", "11", "12"]
    rows, o_next = r2.read(o_restart)
    assert o_next["shards"]["shardId-000000000000"] == "15"
    assert sorted(row[1] for row in rows) == ["13", "14", "15"]


def test_batch_read_raises_on_silent_truncation(spark, fake):
    """A one-shot batch read that would exceed max_records_per_shard
    RAISES (partial data must never pass silently); truncate_at_limit
    opts into the bounded prefix explicitly."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
        KinesisLiteReader,
    )

    srv, url = fake
    opts = {
        "stream_name": "docs",
        "endpoint_url": url,
        "max_records_per_shard": "5",
    }
    reader = KinesisLiteReader(opts)
    [part] = [p for p in reader.partitions() if p.value.endswith("0")][:1]
    with pytest.raises(RuntimeError, match="max_records_per_shard"):
        list(reader.read(part))

    truncating = KinesisLiteReader(dict(opts, truncate_at_limit="true"))
    rows = list(truncating.read(part))
    assert [row[1] for row in rows] == [str(i) for i in range(5)]

    # exact-fit reads (limit == shard size) stay non-raising
    exact = KinesisLiteReader(dict(opts, max_records_per_shard="10"))
    assert len(list(exact.read(part))) == 10


def test_sigv4_full_request_signatures_match_aws_test_suite(monkeypatch):
    """The AWS-published SigV4 signature test suite (aws-sig-v4-test-
    suite; credential AKIDEXAMPLE / 20150830 / us-east-1 / service):
    get-vanilla, post-vanilla and get-vanilla-query-order-key-case, each
    pinning the full canonical-request -> string-to-sign -> signature
    path of ``aws.sign``, the one signer of the Kinesis client and the
    OpenSearch transport (the in-process fakes do not check signatures)."""
    import botocore.auth
    from botocore.credentials import Credentials

    monkeypatch.setattr(
        botocore.auth,
        "get_current_datetime",
        lambda: datetime.datetime(2015, 8, 30, 12, 36, 0),
    )
    creds = Credentials("AKIDEXAMPLE", "wJalrXUtnFEMI/K7MDENG+bPxRfiCYEXAMPLEKEY")

    def sig(method: str, query: str = "") -> str:
        headers = aws.sign(
            creds, method, "https://example.amazonaws.com/" + query, {}, b"",
            "us-east-1", "service",
        )
        assert headers["X-Amz-Date"] == "20150830T123600Z"
        auth = headers["Authorization"]
        assert auth.startswith(
            "AWS4-HMAC-SHA256 Credential=AKIDEXAMPLE/20150830/us-east-1/"
            "service/aws4_request, SignedHeaders=host;x-amz-date, "
        )
        return auth.rsplit("Signature=", 1)[1]

    # get-vanilla/get-vanilla.authz
    assert sig("GET") == (
        "5fa00fa31553b73ebf1942676e86291e8372ff2a2260956d9b8aae1d763fbf31"
    )
    # post-vanilla/post-vanilla.authz
    assert sig("POST") == (
        "5da7c1a2acd57cee7505fc6676e4e544621c30862966e37dddb68e92efbe5d6b"
    )
    # get-vanilla-query-order-key-case
    assert sig("GET", "?Param2=value2&Param1=value1") == (
        "b97d918cfa904a5beff61c982a1b6f458b799221646efd99d3219ec94cdf2500"
    )


def test_put_records_chunks_routes_and_retries():
    """The write path: PutRecords delivers >500 records in API-cap
    chunks, routes each PartitionKey by the MD5 hash-range rule, and
    resubmits exactly the failed subset when the service reports
    partial failure (PutRecords is documented non-atomic)."""
    import hashlib

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
        _client_put_records,
    )

    n_shards = 4
    srv = FakeKinesisServer(
        "w", {f"shardId-{i:012d}": [] for i in range(n_shards)},
        put_fail_every=7,  # every 7th record across calls throttles
    )
    url = srv.start()
    try:
        client = KinesisClient({"stream_name": "w", "endpoint_url": url})
        records = [(str(i), f"payload-{i}".encode()) for i in range(1203)]
        assert _client_put_records(client, records) == 1203

        # every record landed exactly once, in its hash-range shard
        landed: dict[str, tuple[str, bytes]] = {}
        shards = client.list_shards()
        assert len(shards) == n_shards
        for shard in shards:
            for rec in client.iter_after(shard, None, 10_000):
                pk = rec["PartitionKey"]
                assert pk not in landed, f"duplicate delivery of {pk}"
                expect = shards[
                    int(hashlib.md5(pk.encode()).hexdigest(), 16)
                    * n_shards
                    >> 128
                ]
                assert shard == expect, (pk, shard, expect)
                landed[pk] = rec
        assert len(landed) == 1203
    finally:
        srv.stop()


def test_put_records_raises_when_subset_never_succeeds(monkeypatch):
    """A subset that keeps failing past aws.THROTTLE_RETRIES resubmits
    must raise, never report partial delivery as success."""
    import pytest as _pytest

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
        _client_put_records,
    )

    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 2)
    monkeypatch.setattr(aws, "BACKOFF_S", 0.001)
    srv = FakeKinesisServer(
        "w2", {"shardId-000000000000": []}, put_fail_every=1  # all fail
    )
    url = srv.start()
    try:
        client = KinesisClient({"stream_name": "w2", "endpoint_url": url})
        with _pytest.raises(RuntimeError, match="still failing"):
            _client_put_records(client, [("k", b"v")])
    finally:
        srv.stop()


def test_resharding_while_paced_adopts_then_paces(fake):
    """Pacing x resharding: a shard appearing mid-stream (split/merge)
    while max_records_per_trigger is active joins at TRIM_HORIZON and
    paces like the rest. Nothing lost, nothing duplicated."""
    srv, url = fake
    r = KinesisLiteStreamReader(
        {
            "stream_name": "docs",
            "endpoint_url": url,
            "max_records_per_trigger": "3",
        }
    )
    seen: list[tuple[str, str]] = []

    def drain_once(prev):
        rows, cur = r.read(prev)
        rows = list(rows)
        seen.extend((row[0], row[1]) for row in rows)
        return cur, rows

    prev, _ = drain_once(r.initialOffset())  # paced batch 1 of the seed
    # a new shard with 7 records surfaces mid-stream
    srv.add_shard(
        "shardId-000000000009", [(str(900 + i), b"{}") for i in range(7)]
    )
    prev, rows = drain_once(prev)
    assert prev["shards"]["shardId-000000000009"] == "2", (
        "a new shard joins at TRIM_HORIZON and paces at the cap"
    )
    assert [row[1] for row in rows if row[0] == "shardId-000000000009"] == [
        "0", "1", "2",
    ]
    srv.append("shardId-000000000009", [(str(950 + i), b"{}") for i in range(5)])
    prev, _ = drain_once(prev)
    assert prev["shards"]["shardId-000000000009"] == "5"
    # drain the rest; exactly-once across the whole lifecycle
    for _ in range(30):
        cur, rows = drain_once(prev)
        if not rows and cur == prev:
            break
        prev = cur
    assert len(seen) == 40 + 12 and len(set(seen)) == 52


def test_get_records_backs_off_on_throughput_exceeded(monkeypatch):
    """The polling consumer's documented ceiling (5 reads/sec/shard)
    surfaces as ProvisionedThroughputExceededException; the client must
    back off and retry in place — not fail the executor task — and a
    PERSISTENT throttle must still raise after aws.THROTTLE_RETRIES."""
    monkeypatch.setattr(aws, "BACKOFF_S", 0.01)
    srv = FakeKinesisServer("docs", _seeded_shards(), get_throttle_every=3)
    url = srv.start()
    try:
        c = KinesisClient({"stream_name": "docs", "endpoint_url": url})
        # every 3rd GetRecords throttles; the full drain still succeeds
        rows = [
            rec
            for shard in c.list_shards()
            for rec in c.iter_after(shard, None, 10_000)
        ]
        assert len(rows) == 40
    finally:
        srv.stop()

    monkeypatch.setattr(aws, "THROTTLE_RETRIES", 2)
    hard = FakeKinesisServer("docs", _seeded_shards(), get_throttle_every=1)
    url2 = hard.start()
    try:
        c2 = KinesisClient({"stream_name": "docs", "endpoint_url": url2})
        with pytest.raises(RuntimeError, match="ProvisionedThroughput"):
            list(c2.iter_after("shardId-000000000000", None, 10))
    finally:
        hard.stop()


def test_latest_initial_offset_persists_through_empty_pages_behind_tip(monkeypatch):
    """A shard serving empty GetRecords pages while still BEHIND TIP
    (sparse/aged stream regions do this for many consecutive pages)
    must not make LATEST's tip walk stop early: the query would start
    below records that existed before it. The walk follows every empty
    page behind the tip until the true tip, and an endpoint whose
    iterator never advances still raises rather than return a below-tip
    start."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources import (
        kinesis_lite as kl,
    )

    reader = KinesisLiteStreamReader(
        {
            "stream_name": "docs",
            "endpoint_url": "http://127.0.0.1:1",
            "starting_position": "LATEST",
        }
    )
    served = {"pages": 0}

    def fake_get_records(self, it, limit):
        served["pages"] += 1
        if served["pages"] <= 50:  # 50 empty pages, still behind tip
            return {
                "Records": [],
                "MillisBehindLatest": 5000,
                "NextShardIterator": "tok",
            }
        if served["pages"] == 51:  # the tip record finally arrives
            return {
                "Records": [
                    {"SequenceNumber": "99", "PartitionKey": "k", "Data": ""}
                ],
                "MillisBehindLatest": 0,
                "NextShardIterator": "tok2",
            }
        return {  # caught up: empty at tip
            "Records": [],
            "MillisBehindLatest": 0,
            "NextShardIterator": "tok2",
        }

    monkeypatch.setattr(
        KinesisClient, "list_shards", lambda self: ["shardId-000000000000"]
    )
    monkeypatch.setattr(
        KinesisClient, "shard_iterator", lambda self, s, p: "tok"
    )
    monkeypatch.setattr(KinesisClient, "get_records", fake_get_records)
    assert reader.initialOffset() == {"shards": {"shardId-000000000000": "99"}}
    assert served["pages"] >= 51

    # pathological endpoint (iterator never advances): the empty-page
    # cap still refuses to return a below-tip start
    monkeypatch.setattr(
        KinesisClient,
        "get_records",
        lambda self, it, limit: {
            "Records": [],
            "MillisBehindLatest": 5000,
            "NextShardIterator": "tok",
        },
    )
    monkeypatch.setattr(kl, "_EMPTY_PAGES_CAP", 20)
    with pytest.raises(RuntimeError, match="not advancing"):
        reader.initialOffset()


def test_lenient_read_that_stops_early_never_ends_below_start(monkeypatch):
    """read()'s end offset is the last record it actually read, so it
    never falls below start: here a record, empty pages behind the tip,
    then the tip. An endpoint whose iterator never advances serves only
    empty behind-tip pages; read() raises at the empty-page cap rather
    than return, so the offset stays put."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources import (
        kinesis_lite as kl,
    )

    empty = {"Records": [], "MillisBehindLatest": 5000, "NextShardIterator": "tok"}
    pages = iter(
        [
            {
                "Records": [
                    {"SequenceNumber": "8", "PartitionKey": "k", "Data": ""}
                ],
                "MillisBehindLatest": 5000,
                "NextShardIterator": "tok",
            },
            empty,
            empty,
            {"Records": [], "MillisBehindLatest": 0, "NextShardIterator": "tok"},
        ]
    )
    monkeypatch.setattr(
        KinesisClient, "list_shards", lambda self: ["shardId-000000000000"]
    )
    monkeypatch.setattr(
        KinesisClient, "shard_iterator", lambda self, s, p: "tok"
    )
    monkeypatch.setattr(
        KinesisClient, "get_records", lambda self, it, limit: next(pages, empty)
    )
    reader = KinesisLiteStreamReader(
        {"stream_name": "docs", "endpoint_url": "http://127.0.0.1:1"}
    )
    start = {"shards": {"shardId-000000000000": "7"}}
    rows, end = reader.read(start)
    assert [row[1] for row in rows] == ["8"]
    assert end == {"shards": {"shardId-000000000000": "8"}}
    # only empty pages behind tip: the iterator is not advancing
    monkeypatch.setattr(kl, "_EMPTY_PAGES_CAP", 20)
    with pytest.raises(RuntimeError, match="not advancing"):
        reader.read(end)


def test_read_walks_past_more_than_eight_empty_pages_behind_tip(monkeypatch):
    """GetRecords serves empty pages while the iterator passes a part of
    the shard with no records (an aged-out region under TRIM_HORIZON).
    Each page advances the iterator, so read() follows them: with 20
    empty pages before 2 records, the first read returns both. A walk
    that stopped early would end at start, and the next trigger's fresh
    iterator would walk the same empty pages again, for ever."""

    def get_records(self, it, limit):
        i = int(it)
        if i < 20:
            return {
                "Records": [],
                "MillisBehindLatest": 5000,
                "NextShardIterator": str(i + 1),
            }
        return {
            "Records": [
                {"SequenceNumber": str(seq), "PartitionKey": "k", "Data": ""}
                for seq in (20, 21)
            ],
            "MillisBehindLatest": 0,
            "NextShardIterator": "22",
        }

    monkeypatch.setattr(
        KinesisClient, "list_shards", lambda self: ["shardId-000000000000"]
    )
    monkeypatch.setattr(KinesisClient, "shard_iterator", lambda self, s, p: "0")
    monkeypatch.setattr(KinesisClient, "get_records", get_records)
    reader = KinesisLiteStreamReader(
        {"stream_name": "docs", "endpoint_url": "http://127.0.0.1:1"}
    )
    rows, end = reader.read(reader.initialOffset())
    assert [row[1] for row in rows] == ["20", "21"]
    assert end == {"shards": {"shardId-000000000000": "21"}}


def test_put_records_resubmits_back_off_between_attempts(monkeypatch):
    """Per-record throughput-exceeded failures are usually still
    throttled milliseconds later: the failed-subset resubmit loop must
    sleep (aws.backoff, the schedule of every throttled call) between
    attempts rather than burning every resubmit in ~ms."""
    import time as _time

    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
        _client_put_records,
    )

    monkeypatch.setattr(aws, "BACKOFF_S", 0.02)
    naps: list[float] = []
    real_sleep = _time.sleep
    monkeypatch.setattr(
        _time, "sleep", lambda s: (naps.append(s), real_sleep(0))[1]
    )

    srv = FakeKinesisServer(
        "docs",
        {f"shardId-{i:012d}": [] for i in range(2)},
        put_fail_every=3,  # every 3rd record across calls fails once
    )
    url = srv.start()
    try:
        client = KinesisClient({"stream_name": "docs", "endpoint_url": url})
        records = [(str(i), f"r{i}".encode()) for i in range(30)]
        assert _client_put_records(client, records) == 30
    finally:
        srv.stop()
    # 30 records / fail_every=3 -> ~10 first-round failures -> at least
    # one resubmit round, each preceded by a backoff nap at the
    # configured schedule
    assert naps and all(n >= 0.02 for n in naps), naps
    delivered = sum(len(v) for v in srv._shards.values())
    assert delivered == 30, "each record delivered exactly once"


def test_merge_shards_lifecycle_both_parents_closed(fake):
    """MergeShards lifecycle (the half split_shard doesn't model): BOTH
    parents close with frozen remainders, the single merged child reads
    from TRIM_HORIZON, and a consumer resuming from pre-merge offsets
    drains exactly the parents' unread remainders plus the child —
    nothing lost, nothing double-read into the child."""
    srv, url = fake
    r = KinesisLiteStreamReader({"stream_name": "docs", "endpoint_url": url})
    rows, o1 = r.read(r.initialOffset())
    assert len(list(rows)) == 40

    # remainder lands on parent A after the consumer's commit, before
    # the merge closes it
    srv.append("shardId-000000000000", [("rem", b"{}")])
    srv.merge_shards(
        "shardId-000000000000",
        "shardId-000000000001",
        "shardId-000000000012",
        [("m1", b"{}"), ("m2", b"{}")],
    )
    for parent in ("shardId-000000000000", "shardId-000000000001"):
        c = KinesisClient({"stream_name": "docs", "endpoint_url": url})
        tip = "10" if parent.endswith("0") else "9"
        page = c.get_records(c.shard_iterator(parent, tip), 100)
        assert page["Records"] == [] and "NextShardIterator" not in page
        with pytest.raises(ValueError):
            srv.append(parent, [("x", b"{}")])
    # the merged child must not be re-creatable
    with pytest.raises(ValueError):
        srv.merge_shards(
            "shardId-000000000002",
            "shardId-000000000003",
            "shardId-000000000012",
            [],
        )

    rows, o2 = r.read(o1)
    assert o2["shards"]["shardId-000000000000"] == "10"  # remainder seen
    assert o2["shards"]["shardId-000000000012"] == "1"  # last seq of 2
    new_rows = sorted((row[0], row[1]) for row in rows)
    assert new_rows == [
        ("shardId-000000000000", "10"),
        ("shardId-000000000012", "0"),
        ("shardId-000000000012", "1"),
    ]
    rows, o3 = r.read(o2)
    assert list(rows) == [] and o3 == o2  # quiescent after the drain
