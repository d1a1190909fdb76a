"""The two workloads, each driving the program through its public
entry points: ``streaming.pipeline.run_pipeline`` (kinesis-lite source,
Titan adapter, OpenSearch sink over HTTP) for ingest, and
``operators.embed.embed`` -> ``operators.similarity.knn_join`` for
RAG queries.

Each returns ``Outcome``: the end-to-end figures, the per-layer
figures when traced, and the correctness tally.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

from . import check, gen, model, trace
from .env import SHARDS, STREAM, Env

TRIGGER_S = 2.5  # processing-time trigger, longer than a trickle trigger takes
PER_SHARD_CAP = 500  # kinesis_max_records_per_trigger
WARMUP_DOCS = 40
BACKLOG_ROUNDS = 2
BACKLOG_PROFILE = {
    "long_tail": True,
    "dup_frac": 0.30,
    "empty_frac": 0.02,
    "corrupt_frac": 0.01,
}
TRICKLE_RATE = 100.0  # docs/s, open loop
MIN_TRICKLE_S = 10.0  # 1000 documents: enough for a p99 with 10 beyond it
CORPUS_DOCS = 2000
QUERIES_PER_REQUEST = 4
WARMUP_REQUESTS = 2  # the first request of a session runs up to twice as slow
TOP_K = 10
DEADLINE_S = 150.0  # every run ends well inside 180 s


@dataclass
class Outcome:
    throughput_per_s: float
    latency_ms: list[float]
    setup_s: float
    peak_rss_mb: float
    attempted: int
    failed: int
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


def build_spark(work: str, cores: int):
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.session import (
        build_session,
    )

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(60)
        except Exception:  # noqa: BLE001 - last resort: never leave it running
            proc.kill()
            proc.wait(10)


def _next_trigger(margin: float = 0.4) -> float:
    """The first processing-time trigger at least ``margin`` seconds
    away. Idle triggers fire on multiples of the interval since the
    epoch; starting a phase on one keeps the trigger clock's phase out
    of its figures."""
    return math.ceil((time.time() + margin) / TRIGGER_S) * TRIGGER_S


def _drain(env: Env, seed: int, stream: str, n: int, deadline: float) -> float:
    """Land ``n`` records just before a trigger and wait until every
    document is indexed; returns documents per second from the landing
    to the last one indexed."""
    base = env.call("doc_count")
    landed = env.call("put", seed, stream, n, BACKLOG_PROFILE, _next_trigger() - 0.1)
    want = env.call("doc_count")
    env.call("wait_docs", want, max(1.0, deadline - time.time()))
    return (want - base) / (env.call("last_receipt") - landed)


def _wait_listener(listener, query_id, rows_in: int, timeout: float) -> dict:
    """Observed-metric totals once the listener has seen every record
    (progress events arrive asynchronously)."""
    deadline = time.time() + timeout
    while True:
        totals = listener.totals(query_id)
        seen = totals.get("graft_parse", {}).get("rows_in", 0)
        if seen >= rows_in or time.time() >= deadline:
            return totals
        time.sleep(0.05)


def _ingest_layers(spans, triggers, window, totals, rep, tail_values) -> dict:
    lo, hi = window
    in_window = [t for t in triggers if lo <= t["start"] < hi]
    embeds = [s for s in spans if s["name"] == "embed.batch"]
    bulks = [s for s in spans if s["name"] == "sink.bulk"]
    osr = rep["opensearch"]
    bulk_docs = sum(s["docs"] for s in bulks)
    parse = totals.get("graft_parse", {})
    out = {
        "pipeline.triggers": len(in_window),
        "pipeline.busy_frac": sum(t["end"] - t["start"] for t in in_window)
        / max(1e-9, hi - lo),
        "pipeline.backlog_end_docs": rep["backlog_end_docs"],
        "pipeline.rows_per_trigger_p50": check.median(t["rows"] for t in in_window),
        "normalize.rows_in": parse.get("rows_in", 0),
        "normalize.rows_corrupt": parse.get("rows_corrupt", 0),
        "normalize.rows_nonempty": totals.get("graft_docs", {}).get("rows_nonempty", 0),
        "embed.dead_lettered": totals.get("graft_embed", {}).get("rows_dead_lettered", 0),
        "sink.bulk_calls": len(bulks),
        "sink.docs_per_bulk_p50": check.median(s["docs"] for s in bulks),
        "sink.bytes_per_doc": sum(s["bytes"] for s in bulks) / max(1, bulk_docs),
        "sink.bulk_ms_p50": check.median((s["end"] - s["start"]) * 1000 for s in bulks),
        "sink.busy_ms": sum(s["end"] - s["start"] for s in bulks) * 1000,
        "sink.server_ms": osr.get("server_s", 0.0) * 1000,
        "sink.retries": osr.get("bulk_requests", 0) - len(bulks),
        "sink.duplicate_docs": rep["check"]["extra"],
    }
    for key, ms in (
        ("trigger_ms_p50", "triggerExecution"),
        ("latest_offset_ms_p50", "latestOffset"),
        ("planning_ms_p50", "queryPlanning"),
        ("add_batch_ms_p50", "addBatch"),
        ("wal_commit_ms_p50", "walCommit"),
        ("commit_offsets_ms_p50", "commitOffsets"),
    ):
        out[f"pipeline.{key}"] = check.median(t["ms"].get(ms, 0) for t in in_window)
    if rep["late_s"]:
        out["loadgen.late_ms_p99"] = check.percentile(rep["late_s"], 99) * 1000
    out.update(_embed_layers(embeds))
    out.update(_latency(tail_values))
    out["trace.overhead_frac"] = trace.overhead_frac(
        len(spans),
        out["embed.model_calls"],
        (out["embed.busy_ms"] + out["sink.busy_ms"]) / 1000,
    )
    return out


def _embed_layers(embeds: list[dict]) -> dict:
    texts = sum(s["texts"] for s in embeds)
    model_calls = sum(s["model_calls"] for s in embeds)
    busy = sum(s["end"] - s["start"] for s in embeds)
    inflight = [int(k) for s in embeds for k, n in s["inflight"].items() for _ in range(n)]
    return {
        "embed.batch_calls": len(embeds),
        "embed.texts_per_call_p50": check.median(s["texts"] for s in embeds),
        "embed.busy_ms": busy * 1000,
        "embed.us_per_text": busy * 1e6 / max(1, texts),
        "embed.model_calls": model_calls,
        "embed.model_inflight_p50": check.median(inflight),
        "embed.retries": model_calls - texts,
    }


def _source_layers(before, after, records: int) -> dict:
    """Kinesis figures over the backlog rounds: ``records`` landed
    between the two endpoint snapshots."""
    delta = {k: after.get(k, 0) - before.get(k, 0) for k in after}
    return {
        "sources.getrecords_calls": delta.get("getrecords_calls", 0),
        "sources.records_served_per_doc": delta.get("records_served", 0) / records,
        "sources.serve_ms": delta.get("serve_s", 0.0) * 1000,
    }


def _latency(latency_ms: list[float]) -> dict:
    """The traced pass's latency figures: median, and the tail with its
    level and sample count."""
    level, value = check.tail(latency_ms)
    return {
        "e2e.latency_p50_ms": check.median(latency_ms),
        "e2e.latency_tail_ms": value,
        "e2e.latency_tail_pct": level,
        "e2e.latency_samples": len(latency_ms),
    }


def _phases(t0: float, marks: dict) -> dict:
    """Seconds spent in each phase, from the ordered end-of-phase times
    in ``marks`` (the first phase starts at ``t0``)."""
    out, prev = {}, t0
    for name, t in marks.items():
        out[name] = round(t - prev, 2)
        prev = t
    return out


def run_ingest(seed: int, seconds: int, cores: int, traced: bool, work: str) -> Outcome:
    """Warm up on a small prefix and one untimed backlog, then two
    phases on one running query: ``BACKLOG_ROUNDS`` backlogs, each
    landing at once just before a trigger and drained before the next
    lands (drain rate), then an open-loop trickle for half of
    ``seconds``, at least ``MIN_TRICKLE_S`` (freshness), which so runs
    on a warm pipeline."""
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.config import (
        PipelineConfig,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.pipeline import (
        MetricsListener,
        run_pipeline,
    )

    deadline = time.time() + DEADLINE_S
    trace_dir = os.path.join(work, "trace")
    env = Env(timed=traced)
    spark = query = None
    try:
        env.call("ping")
        t0 = time.time()
        spark = build_spark(work, cores)
        endpoints = env.call("start")
        env.call("put", seed, "warmup", WARMUP_DOCS, {"long_tail": False})
        listener = trace.TraceListener() if traced else MetricsListener()
        spark.streams.addListener(listener)
        extra = {
            "kinesis_stream": STREAM,
            "kinesis_region": "us-east-1",
            "kinesis_endpoint": endpoints["kinesis"],
            "kinesis_max_records_per_trigger": PER_SHARD_CAP,
            "kinesis_tip_walk_threads": min(len(SHARDS), cores),
            "transport": "http",
            "hosts": [endpoints["opensearch"]],
            "index": "rag-embeddings",
        }
        if traced:
            extra["client_factory"] = trace.traced_sink_factory(
                [endpoints["opensearch"]], trace_dir
            )
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            start_position="earliest",
            embedding_model="titan-v2",
            sink_format="opensearch",
            checkpoint_dir=os.path.join(work, "checkpoint"),
            trigger_interval=f"{TRIGGER_S:g} seconds",
            extra=extra,
        )
        factory = trace.traced_embedder_factory(trace_dir) if traced else model.titan_factory
        query = run_pipeline(spark, cfg, embedder_factory=factory)
        env.call("wait_docs", 1, deadline - time.time())
        setup_s = env.call("first_receipt") - t0
        env.call("wait_docs", WARMUP_DOCS, deadline - time.time())
        marks = {"warmup": time.time()}

        # One capped trigger's worth of records per backlog; the first
        # only warms the per-record path. The drain rate is the median
        # over the timed rounds.
        n = PER_SHARD_CAP * len(SHARDS)
        _drain(env, seed, "warm-backlog", n, deadline)
        warm = env.call("doc_count")
        marks["warm_backlog"] = time.time()
        served0 = env.call("kinesis_stats")
        rates = [
            _drain(env, seed, f"backlog{r}", n, deadline) for r in range(BACKLOG_ROUNDS)
        ]
        served1 = env.call("kinesis_stats")
        drained = env.call("doc_count")
        marks["backlogs"] = time.time()

        trickle_s = max(MIN_TRICKLE_S, seconds / 2)
        start = _next_trigger()
        env.call("trickle", seed, TRICKLE_RATE, trickle_s, start)
        time.sleep(max(0.0, start + trickle_s - time.time()))
        env.call("wait_generator", 10.0)
        expected = env.call("doc_count")
        env.call("wait_docs", expected, max(1.0, deadline - time.time()))
        trickle_end = marks["trickle"] = time.time()
        # stop only once the last trigger has committed and reported
        records_put = env.call("counts")["records_put"]
        totals = _wait_listener(
            listener, query.id, records_put, max(1.0, deadline - time.time())
        )
        query.stop()
        query = None
    finally:
        if query is not None:
            query.stop()
        if spark is not None:
            stop_spark(spark)
        rep = env.call("report") if env.alive() else None
        env.close()
    marks["teardown"] = time.time()

    # phases run one after another, so receipt order separates them
    receipts = sorted(rep["receipts"], key=lambda r: r[1])
    trickle = receipts[drained:]
    freshness = [(t - ms / 1000) * 1000 for ms, t in trickle]

    verdict = rep["check"]
    kinds = rep["kinds"]
    parse = totals.get("graft_parse", {})
    count_errors = (
        abs(parse.get("rows_in", 0) - rep["records_put"])
        + abs(parse.get("rows_corrupt", 0) - kinds.get(gen.CORRUPT, 0))
        + abs(totals.get("graft_docs", {}).get("rows_nonempty", 0) - kinds.get(gen.DOC, 0))
    )
    outcome = Outcome(
        throughput_per_s=check.median(rates),
        latency_ms=freshness,
        setup_s=setup_s,
        peak_rss_mb=rep["peak_rss"] / 2**20,
        attempted=verdict["expected"],
        failed=verdict["failed"] + count_errors,
        notes={
            "check": verdict,
            "kinds": kinds,
            "count_errors": count_errors,
            "trickle_docs": len(trickle),
            "backlog_docs": drained - warm,
            "drain_docs_per_s_rounds": rates,
            "phase_s": _phases(t0, marks),
        },
    )
    if traced:
        outcome.layers = _ingest_layers(
            trace.load_spans(trace_dir),
            listener.triggers,
            (start, trickle_end),
            totals,
            rep,
            freshness,
        )
        outcome.layers.update(_source_layers(served0, served1, n * BACKLOG_ROUNDS))
        outcome.layers["e2e.throughput_per_s"] = outcome.throughput_per_s
    return outcome


def _request(spark, corpus, seed: int, request: int, factory):
    from pyspark.sql import functions as F
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.similarity import (
        knn_join,
    )

    texts = gen.query_texts(seed, request, QUERIES_PER_REQUEST)
    qdf = spark.createDataFrame(list(enumerate(texts)), "q_id long, text string")
    qvec = embed(
        qdf, "text", embedder_factory=factory, dim=model.DIM, on_error="fail"
    ).select("q_id", F.col("embedding").alias("q_vec"))
    rows = knn_join(qvec, corpus, k=TOP_K).collect()
    ranked: dict[int, list] = {i: [] for i in range(len(texts))}
    for r in sorted(rows, key=lambda r: (r["q_id"], r["rank"])):
        ranked[r["q_id"]].append((r["vec_id"], r["sim"]))
    return texts, ranked


def run_rag(seed: int, seconds: int, cores: int, traced: bool, work: str) -> Outcome:
    import numpy as np
    from real_time_genai_embeddings_for_rag_with_apache_flink_spark.operators.embed import (
        embed,
    )

    trace_dir = os.path.join(work, "trace")
    factory = trace.traced_embedder_factory(trace_dir) if traced else model.titan_factory
    env = Env(timed=traced)
    spark = None
    results, requests = [], []
    try:
        env.call("ping")
        t0 = time.time()
        spark = build_spark(work, cores)
        corpus_texts = gen.corpus_texts(seed, CORPUS_DOCS)
        cdf = spark.createDataFrame(list(enumerate(corpus_texts)), "vec_id long, text string")
        corpus = (
            embed(cdf, "text", embedder_factory=factory, dim=model.DIM, on_error="fail")
            .select("vec_id", "embedding")
            .cache()
        )
        corpus.count()
        setup_s = time.time() - t0
        marks = {"setup": t0 + setup_s}
        for w in range(WARMUP_REQUESTS):  # JIT warm-up, not timed
            _request(spark, corpus, seed, -1 - w, factory)
        marks["warmup"] = time.time()
        t_end = time.time() + seconds
        i = 0
        while time.time() < t_end:
            r0 = time.time()
            texts, ranked = _request(spark, corpus, seed, i, factory)
            r1 = time.time()
            requests.append({"name": "rag.request", "id": i, "start": r0, "end": r1})
            results.append((texts, ranked))
            i += 1
        wall = time.time() - (t_end - seconds)
        marks["requests"] = time.time()
    finally:
        if spark is not None:
            stop_spark(spark)
        rep = env.call("report") if env.alive() else None
        env.close()
    marks["teardown"] = time.time()

    cmat = np.stack([model.vector(t) for t in corpus_texts])
    ids = list(range(CORPUS_DOCS))
    failed = 0
    for texts, ranked in results:
        qmat = np.stack([model.vector(t) for t in texts])
        want = check.reference_topk(ids, cmat, qmat, TOP_K)
        failed += sum(
            not check.check_topk(ranked[q], want[q]) for q in range(len(texts))
        )
    latency = [(r["end"] - r["start"]) * 1000 for r in requests]
    outcome = Outcome(
        throughput_per_s=len(requests) * QUERIES_PER_REQUEST / wall,
        latency_ms=latency,
        setup_s=setup_s,
        peak_rss_mb=rep["peak_rss"] / 2**20,
        attempted=len(results) * QUERIES_PER_REQUEST,
        failed=failed,
        notes={"requests": len(requests), "phase_s": _phases(t0, marks)},
    )
    if traced:
        spans = trace.load_spans(trace_dir)
        lo, hi = requests[0]["start"], requests[-1]["end"]
        embeds = [
            s for s in spans if s["name"] == "embed.batch" and lo <= s["start"] < hi
        ]
        pairs = QUERIES_PER_REQUEST * CORPUS_DOCS
        outcome.layers = _embed_layers(embeds)
        outcome.layers.update({
            "similarity.self_ms_p50": check.median(
                trace.self_time(r, embeds) * 1000 for r in requests
            ),
            "similarity.pairs_per_request": pairs,
            # dot product plus both norms: three multiply-adds per dim
            "similarity.flops_per_request": pairs * model.DIM * 6,
            "similarity.bytes_scanned_per_request": CORPUS_DOCS * model.DIM * 4,
            "trace.overhead_frac": trace.overhead_frac(
                len(spans),
                outcome.layers["embed.model_calls"],
                sum(r["end"] - r["start"] for r in requests),
            ),
        })
        outcome.layers.update(_latency(latency))
        outcome.layers["e2e.throughput_per_s"] = outcome.throughput_per_s
    return outcome
