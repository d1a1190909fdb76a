"""Stage A1 — the embedding operator, as one Arrow-batched ``mapInArrow`` stage.

Reference: ``RichAsyncFunction`` doing one Bedrock ``invokeModel`` HTTP
call per record, up to 1000 unordered in-flight
(``KDS-P/.../operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:26-119``;
wrapper ``DataStreamJob.java:148-154``).

Spark-first design: the record-at-a-time async pattern becomes *client-side
batching inside one mapInArrow stage* — each Arrow batch crosses to the
Python worker once, the embedder sees a whole batch, and micro-batch
parallelism across partitions replaces the async in-flight pool. The
embedder is pluggable (deterministic local for tests/bench; HTTP-backed
for production) and constructed once per partition from a picklable factory —
the analogue of RichAsyncFunction.open (:47-51).

Error policy: the reference logs and emits null on failure (:109-112),
which would NPE its own sink emitter; here failures become a dead-letter
``error`` column (or are dropped/raised per PipelineConfig.on_error).
``embed_chunk`` is that policy and ``embed_chunks`` the chunk loop
around it; ``embed()`` and the OpenSearch sink's fused embed-and-index
stage (streaming/sinks.py) both run that loop.
"""

from __future__ import annotations

import functools
import hashlib
import json
import re
import time
import zlib
from collections.abc import Iterable, Iterator, Sequence
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from heapq import heappop, heappush

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType

from .. import aws
from ..config import TITAN_MODELS


class DeterministicEmbedder:
    """Seedless, dependency-free text embedder: hashed bag-of-tokens.

    Each token is crc32-hashed into one of ``dim`` buckets with a
    deterministic weight; the vector is L2-normalized. Stands in for the
    Titan models (``config.TITAN_MODELS``) so bench numbers measure
    engine overhead, not a model API.
    """

    def __init__(self, dim: int = 64):
        self.dim = dim

    def embed_batch(self, texts: Sequence[str | None]) -> list[list[float] | None]:
        out: list[list[float] | None] = []
        cache: dict[str, tuple[int, float]] = {}
        for t in texts:
            if t is None:
                out.append(None)
                continue
            vec = np.zeros(self.dim, dtype=np.float64)
            for tok in t.lower().split():
                hit = cache.get(tok)
                if hit is None:
                    h = zlib.crc32(tok.encode("utf-8"))
                    hit = (h % self.dim, 1.0 + (h >> 16) % 7)
                    cache[tok] = hit
                vec[hit[0]] += hit[1]
            n = float(np.linalg.norm(vec))
            if n > 0.0:
                vec /= n
            out.append(vec.astype(np.float32).tolist())
        return out


class Md5BowEmbedder:
    """Engine-PORTABLE hashed bag-of-tokens: like DeterministicEmbedder
    but every arithmetic step has an exact ANSI-SQL twin, so a pipeline
    built on it can be value-certified against a second engine (the m06
    oracle does exactly that). Differences that buy the portability:

    - bucket hash is md5 (``int(md5('m06:' || token)[:8], 16)``) — the
      d13/d31 first-8-hex-chars convention — not crc32 (no SQL twin);
    - tokenization is an EXPLICIT ASCII-whitespace class
      ``[ \\t\\n\\f\\r]+`` on both sides (``\\s`` means different char
      sets in Python re, Java regex, and RE2 — pinning the class keeps
      the three engines token-identical on any input);
    - no lowercasing (Python str.lower vs SQL lower can disagree on
      locale-sensitive codepoints; raw-byte md5 cannot);
    - the vector is UNnormalized integer bucket weights (weight = 1 +
      (h >> 8) % 7): every coordinate is a small exact integer, so
      downstream dot/norm folds are exact in ANY summation order and
      cosine is bit-identical across engines — the t24/s25 exact-
      arithmetic discipline applied to an embedding space.
    """

    _WS = re.compile(r"[ \t\n\f\r]+")

    def __init__(self, dim: int = 32):
        self.dim = dim

    def embed_batch(self, texts: Sequence[str | None]) -> list[list[float] | None]:
        out: list[list[float] | None] = []
        cache: dict[str, tuple[int, int]] = {}
        for t in texts:
            if t is None:
                out.append(None)
                continue
            stripped = t.strip(" \t\n\f\r")
            toks = self._WS.split(stripped) if stripped else []
            if not toks:
                out.append(None)
                continue
            vec = np.zeros(self.dim, dtype=np.int64)
            for tok in toks:
                hit = cache.get(tok)
                if hit is None:
                    h = int(
                        hashlib.md5(f"m06:{tok}".encode()).hexdigest()[:8], 16
                    )
                    hit = (h % self.dim, 1 + (h >> 8) % 7)
                    cache[tok] = hit
                vec[hit[0]] += hit[1]
            out.append(vec.astype(np.float32).tolist())
        return out


MAX_IN_FLIGHT = 32  # an embedder's Bedrock calls in flight, and its client's pool


@functools.lru_cache(maxsize=None)
def bedrock_client(region: str | None, endpoint_url: str | None):
    """The process's bedrock-runtime client for ``region`` and
    ``endpoint_url`` (None: the service's own). botocore clients are
    thread-safe and take a tenth of a second or more to build, so every
    embedder with these settings shares one. It is built from the
    process's botocore session (``aws.session``), so it signs with the
    same credential chain as the Kinesis reader and the OpenSearch sink,
    and each attempt has the package's one timeout (``aws.TIMEOUT_S``)
    to connect and to read. botocore's own retries are off: its loop
    would sleep on a pool thread, under the embedder's delay heap. Its
    pool holds ``MAX_IN_FLIGHT`` connections, an embedder's in-flight
    calls: with botocore's default of 10, each call beyond that opened a
    connection (a TLS handshake against Bedrock) and threw it away."""
    from botocore.config import Config

    return aws.session().create_client(
        "bedrock-runtime",
        region_name=region,
        endpoint_url=endpoint_url,
        config=Config(
            connect_timeout=aws.TIMEOUT_S,
            read_timeout=aws.TIMEOUT_S,
            retries={"total_max_attempts": 1},
            max_pool_connections=MAX_IN_FLIGHT,
        ),
    )


def _can_succeed_later(e: Exception) -> bool:
    """Whether a failed ``invoke_model`` may succeed if sent again:
    Bedrock answered 408, 429 or 5xx (ModelTimeout, Throttling,
    ModelNotReady, InternalServer, ServiceUnavailable), or it did not
    answer at all (a refused connect, a read timeout, a dropped
    connection). Anything else fails the same way every time: a 400
    ValidationException, a 403 or 404, a body with no ``embedding``, an
    error that is not botocore's.

    ``aws.request`` does not retry "no answer": a Kinesis or OpenSearch
    call that raises fails the task, and Spark replays the batch. Giving
    up on a Bedrock call is final, because its row becomes a dead letter,
    so here a missing answer is retried like a throttle."""
    # imported on failure only: a worker whose calls all succeed never
    # loads botocore
    from botocore import exceptions as botocore_errors

    if isinstance(e, botocore_errors.ClientError):
        status = e.response.get("ResponseMetadata", {}).get("HTTPStatusCode", 0)
        return status in (408, 429) or status >= 500
    return isinstance(
        e, (botocore_errors.ConnectionError, botocore_errors.HTTPClientError)
    )


class BedrockTitanEmbedder:
    """Amazon Titan embeddings over Bedrock: the reference's model map
    (``config.TITAN_MODELS``), request body ``{"inputText": text}`` and
    response ``embedding`` array
    (BedRockEmbeddingModelAsyncCustomMessage.java:80-104).

    One ``invoke_model`` per text (the API is single-input), at most
    ``MAX_IN_FLIGHT`` in flight per batch — the per-worker analogue of
    the reference's 1000-deep unordered async pool
    (``DataStreamJob.java:148-154``). Results stay in input order.

    A failed call that can succeed later (``_can_succeed_later``) is
    sent again after ``aws.backoff(attempt)``, at most
    ``aws.THROTTLE_RETRIES`` times: the schedule and bound of every
    other AWS call of the package. A text that still fails, or fails in
    a way no retry mends, is a per-row dead letter in ``row_errors``
    (read by ``embed_chunk``), where the reference would emit a
    sink-crashing null (:109-112). Backoff never parks a pool thread: a
    failed attempt waits on a delay heap and then goes to the back of the
    pool's queue, so healthy rows keep flowing through a throttling
    episode (tests/test_embed.py pins that order).

    Without an injected ``client`` the calls go through
    ``bedrock_client(region, endpoint_url)``.
    """

    def __init__(
        self,
        model_key: str = "titan-v2",
        region: str | None = None,
        client=None,
        endpoint_url: str | None = None,
    ):
        self.model_id, self.dim = TITAN_MODELS[model_key]
        if client is None:
            client = bedrock_client(region, endpoint_url)
        self._client = client
        self.row_errors: list[str | None] = []

    def _invoke_once(self, text: str) -> list[float]:
        resp = self._client.invoke_model(
            modelId=self.model_id,
            body=json.dumps({"inputText": text}),
            accept="application/json",
            contentType="application/json",
        )
        body = resp["body"]
        payload = json.loads(body.read() if hasattr(body, "read") else body)
        return [float(x) for x in payload["embedding"]]

    def embed_batch(self, texts: Sequence[str | None]) -> list[list[float] | None]:
        """Every pending attempt is a pool task; a failed attempt worth
        retrying goes onto a (ready_time, seq, row) heap, and this loop
        resubmits it when its backoff elapses, waking from ``wait`` at
        the next ready time. Results land by row index."""
        out: list[list[float] | None] = [None] * len(texts)
        errs: list[str | None] = [None] * len(texts)
        work = [(i, t) for i, t in enumerate(texts) if t is not None]
        if not work:
            self.row_errors = errs
            return out
        with ThreadPoolExecutor(min(MAX_IN_FLIGHT, len(work))) as pool:
            in_flight = {pool.submit(self._invoke_once, t): (i, t, 0) for i, t in work}
            retry_heap: list[tuple[float, int, int, str, int]] = []
            seq = 0  # heap tiebreaker; keeps retries FIFO on equal ready times
            while in_flight or retry_heap:
                while retry_heap and retry_heap[0][0] <= time.monotonic():
                    _, _, i, t, a = heappop(retry_heap)
                    in_flight[pool.submit(self._invoke_once, t)] = (i, t, a)
                if not in_flight:
                    time.sleep(max(0.0, retry_heap[0][0] - time.monotonic()))
                    continue
                timeout = (
                    max(0.0, retry_heap[0][0] - time.monotonic()) if retry_heap else None
                )
                done, _ = wait(in_flight, timeout=timeout, return_when=FIRST_COMPLETED)
                for fut in done:
                    i, t, a = in_flight.pop(fut)
                    try:
                        out[i] = fut.result()
                    except Exception as e:  # noqa: BLE001 - retried or dead-lettered
                        if a < aws.THROTTLE_RETRIES and _can_succeed_later(e):
                            seq += 1
                            ready = time.monotonic() + aws.backoff(a)
                            heappush(retry_heap, (ready, seq, i, t, a + 1))
                        else:
                            errs[i] = f"{type(e).__name__}: {e}"
        self.row_errors = errs
        return out


def check_on_error(on_error: str) -> None:
    if on_error not in ("dead-letter", "drop", "fail"):
        raise ValueError(f"unknown on_error policy {on_error!r}")


def embed_chunk(
    emb, texts: list[str | None], on_error: str, dim: int
) -> tuple[list, list[str | None]]:
    """One ``embed_batch`` call under the ``on_error`` policy. Returns
    (vectors, per-row errors).

    An exception from the embedder dead-letters the whole chunk;
    adapters with per-row failure reporting (BedrockTitanEmbedder after
    its retries) expose ``row_errors`` and dead-letter just those rows.
    A vector that is not ``dim`` finite float32 values is a per-row error
    too: an index rejects it, and the bulk carrying
    it would fail again on every replay; the vectors that pass come back
    as the float32 arrays that check made, so the sink that formats them
    converts each vector once. Under 'fail' any row error raises;
    'dead-letter' and 'drop' differ only in what the caller keeps."""
    try:
        vecs = emb.embed_batch(texts)
        errs = getattr(emb, "row_errors", None)
        errs = list(errs) if errs and len(errs) == len(texts) else [None] * len(texts)
    except Exception as e:  # noqa: BLE001 - dead-letter policy
        if on_error == "fail":
            raise
        return [None] * len(texts), [f"{type(e).__name__}: {e}"] * len(texts)
    vecs = list(vecs)
    with np.errstate(over="ignore"):
        for i, v in enumerate(vecs):
            if v is None or errs[i] is not None:
                continue
            if len(v) != dim:
                errs[i] = f"unindexable vector: {len(v)} values, index has {dim}"
                continue
            try:
                v32 = np.asarray(v, np.float32)
                finite = bool(np.isfinite(v32).all())
            except (TypeError, ValueError):
                finite = False
            if not finite:
                errs[i] = "unindexable vector: a value is not a finite float32"
            else:
                vecs[i] = v32
    if on_error == "fail" and any(errs):
        first = next(e for e in errs if e)
        raise RuntimeError(f"embedding failed: {first}")
    return vecs, errs


def embed_chunks(
    batches: Iterable[pa.RecordBatch],
    embedder_factory,
    dim: int,
    batch_size: int,
    on_error: str,
    text_col: str = "text",
) -> Iterator[tuple[pa.RecordBatch, list, list[str | None]]]:
    """The chunk loop of every Arrow embed stage (``embed()`` and the
    OpenSearch sink's fused stage): each ``batch_size`` slice of each
    batch, with its vectors and row errors from ``embed_chunk``. The
    embedder is built once, at the first row."""
    emb = None
    for batch in batches:
        for lo in range(0, batch.num_rows, batch_size):
            chunk = batch.slice(lo, batch_size)
            if emb is None:
                emb = embedder_factory(dim)
            texts = chunk.column(text_col).to_pylist()
            vecs, errs = embed_chunk(emb, texts, on_error, dim)
            yield chunk, vecs, errs


def embed_distinct(
    df: DataFrame,
    text_col: str = "text",
    **embed_kwargs,
) -> DataFrame:
    """embed(), but each distinct text is embedded exactly once and the
    vectors joined back to the full row set.

    At 100 TB the embedding call (network or GPU) dominates cost and web
    corpora are 20-50% duplicates — deduplicating by content fingerprint
    before the embed stage cuts the expensive path proportionally. The
    join back is on the 16-byte md5 fingerprint, not the text, so the
    shuffle carries hashes + vectors, never the documents twice."""
    from ..functions.text import doc_fingerprint

    fp = doc_fingerprint(F.col(text_col)).alias("_fp")
    with_fp = df.withColumn("_fp", fp)
    uniq = with_fp.select("_fp", text_col).dropDuplicates(["_fp"])
    embedded = embed(uniq, text_col=text_col, **embed_kwargs).drop(text_col)
    out = with_fp.join(embedded, "_fp", "left").drop("_fp")
    if embed_kwargs.get("on_error") == "drop":
        # embed() dropped failed rows on the distinct side; drop their
        # replicas here too so the policy means the same thing.
        out = out.filter(F.col("embedding").isNotNull())
    return out


def embed(
    df: DataFrame,
    text_col: str = "text",
    embedder_factory=DeterministicEmbedder,
    dim: int = 64,
    batch_size: int = 256,
    on_error: str = "dead-letter",
) -> DataFrame:
    """Every column of ``df``, in order, plus ``embedding``
    (array<float>) and, under 'dead-letter', ``error``. Every column
    crosses into Python and back, so select what the caller needs first.

    One ``mapInArrow`` stage over ``embed_chunks``, the chunk loop the
    OpenSearch sink's fused stage runs too: the embedder is built once
    per partition (not per record — the reference re-allocates its
    ObjectMapper per record, a perf bug SURVEY.md 2A/M1 flags) and fed
    ``batch_size`` slices of each Arrow batch. A vector that is not
    ``dim`` finite float32 values is a row error under ``on_error``, as
    on the OpenSearch stage: 'dead-letter' keeps the row with its
    ``error``, 'drop' leaves it out, and 'fail' raises on the worker,
    so the job errors instead of silently dead-lettering (never emits
    null like the reference,
    BedRockEmbeddingModelAsyncCustomMessage.java:109-112).
    """
    check_on_error(on_error)
    fields = [StructField("embedding", ArrayType(FloatType()))]
    if on_error == "dead-letter":
        fields.append(StructField("error", StringType()))
    schema = StructType(df.schema.fields + fields)

    def embed_partition(batches):
        for chunk, vecs, errs in embed_chunks(
            batches, embedder_factory, dim, batch_size, on_error, text_col
        ):
            # from_pandas: a NaN in a dead-lettered vector is a NULL element
            vectors = pa.array(vecs, pa.list_(pa.float32()), from_pandas=True)
            cols = chunk.columns + [vectors]
            if on_error == "dead-letter":
                cols.append(pa.array(errs, pa.string()))
            out = pa.RecordBatch.from_arrays(cols, names=schema.names)
            if on_error == "drop" and any(errs):
                out = out.filter(pa.array([e is None for e in errs]))
            yield out

    return df.mapInArrow(embed_partition, schema)
