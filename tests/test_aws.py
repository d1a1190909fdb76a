"""The process's one AWS credential chain and signer (``aws.py``), as
the Kinesis client and the OpenSearch transport use it against the
in-process fakes, which record the access key id of every request."""

from __future__ import annotations

import datetime
import os
import subprocess
import sys
import time

import pytest

from real_time_genai_embeddings_for_rag_with_apache_flink_spark import aws
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_fake import (
    FakeKinesisServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite import (
    KinesisClient,
    _client_put_records,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
    FakeOpenSearchServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http import (
    HttpOpenSearchClient,
    ThrottledError,
    http_bulk,
)

_SHARDS = {f"shardId-{i:012d}": [(str(i), b"{}")] for i in range(2)}


@pytest.fixture()
def fakes():
    kinesis, opensearch = FakeKinesisServer("docs", _SHARDS), FakeOpenSearchServer()
    urls = kinesis.start(), opensearch.start()
    yield (kinesis, opensearch), urls
    kinesis.stop()
    opensearch.stop()


def _use_both(urls, service: str = "es"):
    """One Kinesis and two OpenSearch requests, the second a bulk."""
    kinesis = KinesisClient({"stream_name": "docs", "endpoint_url": urls[0]})
    assert kinesis.list_shards() == sorted(_SHARDS)
    client = HttpOpenSearchClient(urls[1], region="us-east-1", service=service)
    client.indices.exists("docs")
    assert http_bulk(client, [{"_index": "docs", "_source": {"a": 1}}]) == 1


def test_environment_credentials_sign_kinesis_and_opensearch(
    empty_aws_chain, monkeypatch, fakes
):
    """Keys only in the environment: every Kinesis and OpenSearch
    request reaches its endpoint signed with them, for es and aoss. The
    OpenSearch signatures cover the payload hash, which aoss requires."""
    monkeypatch.setenv("AWS_ACCESS_KEY_ID", "AKIDENV")
    monkeypatch.setenv("AWS_SECRET_ACCESS_KEY", "secret")
    signed, sign = [], aws.sign

    def recording_sign(*args):
        headers = sign(*args)
        signed.append((args[-1], headers))  # (service, headers)
        return headers

    monkeypatch.setattr(aws, "sign", recording_sign)
    (kinesis, opensearch), urls = fakes
    _use_both(urls)
    _use_both(urls, service="aoss")
    assert kinesis.access_keys == ["AKIDENV"] * 2
    assert opensearch.access_keys == ["AKIDENV"] * 4
    assert [service for service, _ in signed] == ["kinesis", "es", "es", "kinesis", "aoss", "aoss"]
    for service, headers in signed:
        names = headers["Authorization"].split("SignedHeaders=")[1].split(",")[0]
        assert ("x-amz-target" if service == "kinesis" else "x-amz-content-sha256") in names


def test_rotated_credentials_sign_the_next_request(monkeypatch, fakes):
    """A refreshable credential that rotates mid-run signs the next
    request with the new key, through the same clients."""
    from botocore.credentials import RefreshableCredentials

    current = {"key": "AKIDONE"}

    def refresh():
        soon = datetime.datetime.now(datetime.timezone.utc) + datetime.timedelta(minutes=1)
        return {
            "access_key": current["key"],
            "secret_key": "secret",
            "token": "token",
            "expiry_time": soon.isoformat(),
        }

    rotating = RefreshableCredentials.create_from_metadata(refresh(), refresh, "test")
    monkeypatch.setattr(aws, "credentials", lambda instance_role=True: rotating)
    (kinesis, opensearch), urls = fakes
    kinesis_client = KinesisClient({"stream_name": "docs", "endpoint_url": urls[0]})
    opensearch_client = HttpOpenSearchClient(urls[1], region="us-east-1")
    kinesis_client.list_shards()
    opensearch_client.indices.exists("docs")
    current["key"] = "AKIDTWO"
    kinesis_client.list_shards()
    opensearch_client.indices.exists("docs")
    assert kinesis.access_keys == ["AKIDONE", "AKIDTWO"]
    assert opensearch.access_keys == ["AKIDONE", "AKIDTWO"]


def test_plain_http_kinesis_endpoint_skips_the_instance_metadata_service(
    empty_aws_chain, monkeypatch, fakes
):
    """With no credentials anywhere, a Kinesis client on a plain-http
    endpoint goes out unsigned without asking the instance metadata
    service; the full chain (an https endpoint) does ask it."""
    from botocore.credentials import InstanceMetadataProvider

    asked = []
    monkeypatch.setattr(InstanceMetadataProvider, "load", lambda self: asked.append(1))
    (kinesis, _), urls = fakes
    KinesisClient({"stream_name": "docs", "endpoint_url": urls[0]}).list_shards()
    assert kinesis.access_keys == [None] and asked == []
    assert aws.credentials() is None and asked == [1]


def test_opensearch_without_credentials_fails_instead_of_going_unsigned(
    empty_aws_chain, fakes
):
    (_, opensearch), urls = fakes
    with pytest.raises(RuntimeError, match="no credentials"):
        HttpOpenSearchClient(urls[1], region="us-east-1").indices.exists("docs")
    assert opensearch.access_keys == []


def test_unsigned_paths_never_import_botocore(fakes):
    """Importing the Kinesis reader, an unsigned bulk and a Bedrock
    embedder whose calls all succeed leave botocore unloaded: an
    executor on a local endpoint does not pay its import."""
    _, urls = fakes
    code = (
        "import sys\n"
        "import real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_lite\n"
        "from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_http "
        "import HttpOpenSearchClient, http_bulk\n"
        "from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed "
        "import BedrockTitanEmbedder\n"
        f"client = HttpOpenSearchClient({urls[1]!r})\n"
        "assert http_bulk(client, [{'_index': 'docs', '_source': {'a': 1}}]) == 1\n"
        "class Titan:\n"
        "    def invoke_model(self, **kwargs):\n"
        "        return {'body': b'{\"embedding\": [0.5, 0.25]}'}\n"
        "emb = BedrockTitanEmbedder(client=Titan())\n"
        "assert emb.embed_batch(['a', None, 'b']) == [[0.5, 0.25], None, [0.5, 0.25]]\n"
        "assert 'botocore' not in sys.modules, 'botocore imported'\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, timeout=120
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_kinesis_opensearch_and_put_records_share_one_backoff_schedule(monkeypatch):
    """A permanently throttled GetRecords, _bulk and PutRecords subset
    each reach their endpoint exactly aws.THROTTLE_RETRIES + 1 times
    and sleep the same sequence, aws.backoff(0), aws.backoff(1), ...
    in between."""
    naps: list[float] = []
    monkeypatch.setattr(time, "sleep", naps.append)
    schedule = [aws.backoff(n) for n in range(aws.THROTTLE_RETRIES)]
    kinesis = FakeKinesisServer("docs", _SHARDS, get_throttle_every=1, put_fail_every=1)
    opensearch = FakeOpenSearchServer(throttle_every=1)
    urls = kinesis.start(), opensearch.start()
    try:
        client = KinesisClient({"stream_name": "docs", "endpoint_url": urls[0]})
        iterator = client.shard_iterator(sorted(_SHARDS)[0], None)
        with pytest.raises(RuntimeError, match="ProvisionedThroughput"):
            client.get_records(iterator, 10)
        assert kinesis._gets_seen == aws.THROTTLE_RETRIES + 1
        assert naps == schedule
        naps.clear()
        with pytest.raises(ThrottledError):
            http_bulk(
                HttpOpenSearchClient(urls[1]),
                [{"_index": "docs", "_source": {"a": 1}}],
            )
        assert opensearch._bulk_seen == aws.THROTTLE_RETRIES + 1
        assert naps == schedule
        naps.clear()
        with pytest.raises(RuntimeError, match="still failing"):
            _client_put_records(client, [("k", b"v")])
        assert kinesis._put_seen == aws.THROTTLE_RETRIES + 1
        assert naps == schedule
    finally:
        kinesis.stop()
        opensearch.stop()
