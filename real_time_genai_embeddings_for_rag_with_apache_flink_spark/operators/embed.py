"""Stage A1 — the embedding operator, as an Arrow-batched pandas UDF.

Reference: ``RichAsyncFunction`` doing one Bedrock ``invokeModel`` HTTP
call per record, up to 1000 unordered in-flight
(``KDS-P/.../operators/asyncIO/BedRockEmbeddingModelAsyncCustomMessage.java:26-119``;
wrapper ``DataStreamJob.java:148-154``).

Spark-first design: the record-at-a-time async pattern becomes *client-side
batching inside an iterator pandas UDF* — each Arrow batch crosses to the
Python worker once, the embedder sees a whole batch, and micro-batch
parallelism across partitions replaces the async in-flight pool. The
embedder is pluggable (deterministic local for tests/bench; HTTP-backed
for production) and constructed once per worker from a picklable factory —
the analogue of RichAsyncFunction.open (:47-51).

Error policy: the reference logs and emits null on failure (:109-112),
which would NPE its own sink emitter; here failures become a dead-letter
``error`` column (or are dropped/raised per PipelineConfig.on_error).
``embed_chunk`` is that policy, shared with the OpenSearch sink's fused
embed-and-index stage (streaming/sinks.py).
"""

from __future__ import annotations

import hashlib
import re
import zlib
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StringType, StructField, StructType


class DeterministicEmbedder:
    """Seedless, dependency-free text embedder: hashed bag-of-tokens.

    Each token is crc32-hashed into one of ``dim`` buckets with a
    deterministic weight; the vector is L2-normalized. Stands in for the
    Titan models (1536-d v1 / 1024-d v2, reference model map
    BedRockEmbeddingModelAsyncCustomMessage.java:80-85) so bench numbers
    measure engine overhead, not a model API.
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


class BedrockTitanEmbedder:
    """Production adapter for Amazon Titan embeddings over HTTP.

    Maps model keys exactly as the reference does ('titan-v1' ->
    amazon.titan-embed-text-v1, 'titan-v2' -> amazon.titan-embed-text-v2:0;
    BedRockEmbeddingModelAsyncCustomMessage.java:80-85) and sends the
    reference's request body ``{"inputText": text}`` / reads the
    ``embedding`` array from the response (:88-96, :99-104). One
    ``invoke_model`` per text (the Titan embed API is single-input),
    fanned out over a bounded thread pool inside each Arrow chunk —
    the per-worker analogue of the reference's 1000-deep unordered
    async pool (``DataStreamJob.java:148-154``): with sequential
    invokes a Python worker's throughput is 1/latency regardless of
    batch size, while ``max_concurrency`` in-flight calls per worker ×
    partitions recovers the reference's envelope. Results stay in input
    order (the pool maps, it doesn't race).

    Error handling goes beyond the reference (which logs and emits a
    sink-crashing null, :109-112): transient failures retry with
    exponential backoff; a text that still fails after ``max_retries``
    becomes a per-row dead-letter via ``row_errors`` (picked up by
    ``embed()``), so one poisoned document never fails its whole batch.

    Backoff never parks a pool thread: a failed attempt goes onto a
    driver-side DELAY HEAP and is resubmitted to the back of the pool's
    work queue once its backoff elapses, so every worker keeps serving
    healthy rows while throttled rows wait — the same
    no-slot-held-during-wait property as the reference's async pool
    (DataStreamJob.java:148-154). Under sustained throttling the only
    capacity the retries consume is their actual re-invocations
    (tests/test_embed.py pins healthy-rows-before-second-attempt
    ordering).

    Requires boto3 at runtime unless a client is injected; this
    container has no AWS SDK, so construction is gated.
    """

    MODEL_IDS = {
        "titan-v1": "amazon.titan-embed-text-v1",
        "titan-v2": "amazon.titan-embed-text-v2:0",
    }

    def __init__(
        self,
        model_key: str = "titan-v2",
        region: str | None = None,
        client=None,
        max_retries: int = 3,
        retry_base_seconds: float = 0.5,
        max_concurrency: int = 32,
    ):
        if client is None:
            try:
                import boto3
            except ImportError as e:  # pragma: no cover - env-dependent
                raise NotImplementedError(
                    "BedrockTitanEmbedder requires boto3; use DeterministicEmbedder "
                    "for local runs"
                ) from e
            client = boto3.Session(region_name=region).client("bedrock-runtime")
        self._client = client
        self.model_id = self.MODEL_IDS[model_key]
        self.dim = {"titan-v1": 1536, "titan-v2": 1024}[model_key]
        self._region = region
        self._max_retries = max_retries
        self._retry_base = retry_base_seconds
        self._max_concurrency = max(1, int(max_concurrency))
        self.row_errors: list[str | None] = []

    def _invoke_once(self, text: str) -> list[float]:
        import json

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
        """Embed a batch with bounded concurrency and NON-BLOCKING
        retries. Scheduler shape: every pending attempt is a pool task;
        a failed attempt with retries left goes onto a (ready_time,
        row) delay heap instead of sleeping on its worker, and the
        driver loop resubmits it to the back of the pool's queue when
        its backoff elapses (waking early from ``wait`` exactly at the
        next retry's ready time). Results land by row index, so output
        and dead-letter alignment are order-independent."""
        import time
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
        from heapq import heappop, heappush

        out: list[list[float] | None] = [None] * len(texts)
        errs: list[str | None] = [None] * len(texts)
        work = [(i, t) for i, t in enumerate(texts) if t is not None]
        if not work:
            self.row_errors = errs
            return out
        with ThreadPoolExecutor(
            max_workers=min(self._max_concurrency, len(work))
        ) as pool:
            in_flight = {
                pool.submit(self._invoke_once, t): (i, t, 0) for i, t in work
            }
            retry_heap: list[tuple[float, int, int, str, int]] = []
            seq = 0  # heap tiebreaker; also preserves retry FIFO on equal ready times
            while in_flight or retry_heap:
                now = time.monotonic()
                while retry_heap and retry_heap[0][0] <= now:
                    _, _, i, t, a = heappop(retry_heap)
                    in_flight[pool.submit(self._invoke_once, t)] = (i, t, a)
                if not in_flight:
                    time.sleep(max(0.0, retry_heap[0][0] - time.monotonic()))
                    continue
                timeout = (
                    max(0.0, retry_heap[0][0] - time.monotonic())
                    if retry_heap
                    else None
                )
                done, _ = wait(
                    in_flight, timeout=timeout, return_when=FIRST_COMPLETED
                )
                for fut in done:
                    i, t, a = in_flight.pop(fut)
                    try:
                        out[i] = fut.result()
                        errs[i] = None
                    except Exception as e:  # noqa: BLE001 - retried then dead-lettered
                        if a < self._max_retries:
                            seq += 1
                            heappush(
                                retry_heap,
                                (
                                    time.monotonic()
                                    + self._retry_base * (2**a),
                                    seq,
                                    i,
                                    t,
                                    a + 1,
                                ),
                            )
                        else:
                            errs[i] = f"{type(e).__name__}: {e}"
        self.row_errors = errs
        return out


_EMBED_RESULT = StructType(
    [
        StructField("embedding", ArrayType(FloatType()), True),
        StructField("error", StringType(), True),
    ]
)


def check_on_error(on_error: str) -> None:
    if on_error not in ("dead-letter", "drop", "fail"):
        raise ValueError(f"unknown on_error policy {on_error!r}")


def embed_chunk(
    emb, texts: list[str | None], on_error: str, dim: int | None = None
) -> tuple[list, list[str | None]]:
    """One ``embed_batch`` call under the ``on_error`` policy: the
    policy loop shared by ``embed()`` and the OpenSearch sink's fused
    stage. Returns (vectors, per-row errors).

    An exception from the embedder dead-letters the whole chunk;
    adapters with per-row failure reporting (BedrockTitanEmbedder after
    its retries) expose ``row_errors`` and dead-letter just those rows.
    With ``dim`` set, a vector that is not ``dim`` finite float32 values
    is a per-row error too: an index rejects it, and the bulk carrying
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
    if dim is not None:
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
    """Append ``embedding`` (array<float>) and ``error`` columns.

    Iterator pandas UDF: the embedder is built once per Python worker
    (not per record — the reference re-allocates its ObjectMapper per
    record, a perf bug SURVEY.md 2A/M1 flags) and fed ``batch_size``
    slices of each Arrow batch.
    """

    @F.pandas_udf(_EMBED_RESULT)
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        emb = embedder_factory(dim)
        for series in it:
            embeddings: list[list[float] | None] = []
            errors: list[str | None] = []
            texts = series.tolist()
            for lo in range(0, len(texts), batch_size):
                vecs, errs = embed_chunk(emb, texts[lo : lo + batch_size], on_error)
                embeddings.extend(vecs)
                errors.extend(errs)
            yield pd.DataFrame({"embedding": embeddings, "error": errors})

    check_on_error(on_error)
    out = df.withColumn("_emb", _embed(F.col(text_col))).select(
        "*", F.col("_emb.embedding").alias("embedding"), F.col("_emb.error").alias("error")
    ).drop("_emb")
    if on_error == "drop":
        out = out.filter(F.col("error").isNull()).drop("error")
    elif on_error == "fail":
        # fail-fast: the UDF re-raises on the worker, so the job errors
        # instead of silently dead-lettering (never emits null like the
        # reference, BedRockEmbeddingModelAsyncCustomMessage.java:109-112).
        out = out.drop("error")
    return out
