"""The reference dataflow as a Structured Streaming job.

Reference job (all three variants): stream source -> JSON parse -> project
+ uuid -> empty-text filter -> async Bedrock embed -> OpenSearch bulk sink
(``KDS-P/.../msf/DataStreamJob.java:133-177``). Here the same stages are
one declarative streaming plan:

- source: Kinesis (``format("kinesis-lite")``, the KDS variants'
  FlinkKinesisConsumer, ``KDS-P/.../DataStreamJob.java:128-140``), Kafka
  (``format("kafka")``, the MSK variant's KafkaSource,
  ``MSK-S/.../DataStreamJob.java:127-135``), a JSON-lines file stream (the
  test/default source), or the rate source for load generation. Start
  position (reference divergence: Kinesis LATEST at ``KDS-P/...:130`` vs
  Kafka earliest at ``MSK-S/...:132``) is ``PipelineConfig.start_position``.
- parse/normalize/filter: ``from_json`` + select + filter — fused by
  whole-stage codegen into one stage per micro-batch (the analogue of
  Flink operator chaining, ``KDS-P/lib/....ts:230-235``).
- embed + sink, OpenSearch: one ``mapInArrow`` stage per partition
  (streaming/sinks.py ``opensearch_index``) embeds each chunk and hands
  its ``_bulk`` to a sender thread, so the bulk overlaps the next
  chunk's model calls — the reference's async operator and bulk
  processor side by side in each subtask. It yields one status row per
  document; ``foreachBatch`` runs the one action that drives it.
- embed + sink, parquet/delta: ``embed()``'s ``mapInArrow`` stage
  (operators/embed.py), then ``foreachBatch`` writing the vector table
  and dead-letter rows separately.
- Either way micro-batch parallelism across partitions replaces the
  reference's 1000-deep async pool, and delivery is at-least-once, the
  reference's bulk-sink guarantee, with checkpoint-based recovery (MSF
  snapshots, ``KDS-P/lib/....ts:213-215``).

At scale: source partitions (Kafka partitions / file chunks) set the
parallelism, and a Kinesis trigger's rows are spread round-robin over
the default parallelism; the only stateful pieces are the source
offsets in the checkpoint — the pipeline itself is embarrassingly
parallel, so it scales linearly with executors as long as the embedding
backend keeps up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..config import LOCAL_MODEL, PipelineConfig
from ..operators.embed import BedrockTitanEmbedder, DeterministicEmbedder, embed
from ..operators.normalize import filter_nonempty_text, normalize, parse_raw
from .sinks import foreach_batch_writer, opensearch_index


def model_embedder_factory(cfg: PipelineConfig):
    """The ``embedder_factory`` ``cfg.embedding_model`` names (the
    reference's ``embedding.model`` switch): ``DeterministicEmbedder``,
    or ``BedrockTitanEmbedder`` in ``extra["bedrock_region"]`` at
    ``extra["bedrock_endpoint"]`` (None: the service's own). An unknown
    key raises ValueError."""
    cfg.resolved_dim()
    if cfg.embedding_model == LOCAL_MODEL:
        return DeterministicEmbedder
    key, extra = cfg.embedding_model, cfg.extra
    region, endpoint = extra.get("bedrock_region"), extra.get("bedrock_endpoint")
    return lambda dim: BedrockTitanEmbedder(key, region=region, endpoint_url=endpoint)


def kinesis_reader_options(cfg: PipelineConfig) -> dict[str, str]:
    """``format("kinesis-lite")`` options mirroring the reference's
    consumer config: stream name + region
    (KDS-P/.../msf/DataStreamJob.java:128-130, CDK-injected), start
    position LATEST (:130; 'earliest' maps to TRIM_HORIZON — the same
    semantic pair as the Kafka variant's earliest, MSK-S/...:132)."""
    stream = cfg.extra.get("kinesis_stream")
    region = cfg.extra.get("kinesis_region")
    if not (stream and region):
        raise ValueError(
            "kinesis source needs extra.kinesis_stream and extra.kinesis_region"
        )
    positions = {"latest": "LATEST", "earliest": "TRIM_HORIZON"}
    if cfg.start_position not in positions:
        raise ValueError(f"unknown start_position {cfg.start_position!r}")
    return {
        "stream_name": str(stream),
        "region": str(region),
        "endpoint_url": str(
            cfg.extra.get(
                "kinesis_endpoint", f"https://kinesis.{region}.amazonaws.com"
            )
        ),
        "starting_position": positions[cfg.start_position],
    }


# The four consumer properties the reference's MSK variant FORCE-SETS
# before building its KafkaSource (MSK-S/.../msf/DataStreamJob.java:
# getKafkaProperties, :117-121) — IAM-authenticated SASL over TLS.
# Spark's Kafka connector takes the same Kafka client properties under a
# "kafka." option prefix; the jaas/callback classes ship in the public
# aws-msk-iam-auth jar, which must be on the cluster classpath exactly
# as it must be on the reference's Flink classpath.
MSK_IAM_KAFKA_OPTIONS: dict[str, str] = {
    "kafka.security.protocol": "SASL_SSL",
    "kafka.sasl.mechanism": "AWS_MSK_IAM",
    "kafka.sasl.jaas.config": (
        "software.amazon.msk.auth.iam.IAMLoginModule required;"
    ),
    "kafka.sasl.client.callback.handler.class": (
        "software.amazon.msk.auth.iam.IAMClientCallbackHandler"
    ),
}


def kafka_reader_options(cfg: PipelineConfig) -> dict[str, str]:
    """Option map for Spark's Kafka connector, mirroring the reference's
    KafkaSource (MSK-S/.../msf/DataStreamJob.java:127-135): bootstrap
    servers + topic + earliest start, plus the consumer-property
    passthrough its ``getKafkaProperties`` implements (:108-125) —
    every ``extra`` key starting with ``kafka.`` is forwarded verbatim
    (Spark's documented prefix for Kafka client properties), and
    ``extra.msk_iam=True`` force-sets the exact four MSK IAM/SASL
    properties the reference hardcodes, in the same
    passthrough-then-force order (an explicit kafka.* credential option
    cannot silently override the IAM mode, matching the reference)."""
    if not (cfg.kafka_bootstrap and cfg.kafka_topic):
        raise ValueError("kafka source needs kafka_bootstrap and kafka_topic")
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": str(cfg.kafka_bootstrap),
        "subscribe": str(cfg.kafka_topic),
        "startingOffsets": cfg.start_position,
    }
    for key, val in cfg.extra.items():
        if key.startswith("kafka."):
            opts[key] = str(val)
    if cfg.extra.get("msk_iam"):
        opts.update(MSK_IAM_KAFKA_OPTIONS)
    return opts


def build_source(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Streaming source -> RAW(value: string) per schemas.RAW_SCHEMA."""
    if cfg.source_format == "kafka":
        reader = spark.readStream.format("kafka")
        for key, val in kafka_reader_options(cfg).items():
            reader = reader.option(key, val)
        return reader.load().select(
            F.col("value").cast("string").alias("value")
        )
    if cfg.source_format == "kinesis-lite":
        # The reference's consumer config driven through the package's
        # own Kinesis protocol reader (sources/kinesis_lite.py); it points
        # at real AWS/kinesalite/LocalStack via extra.kinesis_endpoint,
        # signed with the reader process's AWS credential chain.
        from ..sources.kinesis_lite import register as _register_kinesis

        _register_kinesis(spark)
        reader = spark.readStream.format("kinesis-lite")
        for key, val in kinesis_reader_options(cfg).items():
            reader = reader.option(key, val)
        # records per shard per trigger (0 or unset: 10,000)
        if cfg.extra.get("kinesis_max_records_per_trigger"):
            reader = reader.option(
                "max_records_per_trigger",
                str(cfg.extra["kinesis_max_records_per_trigger"]),
            )
        # the reader hands each trigger over as one driver-read
        # partition; spread it round-robin so embed and _bulk run on
        # every core
        return (
            reader.load()
            .select(F.col("data").alias("value"))
            .repartition(spark.sparkContext.defaultParallelism)
        )
    if cfg.source_format == "rate":
        # Load generator: fabricate wire-format JSON records at a fixed
        # rows/sec (stands in for the producer Lambda,
        # kds-producer-lambda/lambda_function.py:10-33).
        rate = spark.readStream.format("rate").option(
            "rowsPerSecond", str(cfg.extra.get("rows_per_second", 100))
        ).load()
        return rate.select(
            F.to_json(
                F.struct(
                    F.concat(F.lit("synthetic text "), F.col("value")).alias("text"),
                    F.date_format(
                        F.col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
                    ).alias("created_at"),
                )
            ).alias("value")
        )
    if cfg.source_format == "json":
        if not cfg.source_path:
            raise ValueError("json source needs source_path")
        return (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", str(cfg.extra.get("max_files", 10)))
            .load(cfg.source_path)
        )
    raise ValueError(f"unknown source_format {cfg.source_format!r}")


def build_pipeline(
    spark: SparkSession, cfg: PipelineConfig, embedder_factory=None
) -> DataFrame:
    """source -> RAW -> MSG -> DOC -> EMB as one streaming plan; for the
    OpenSearch sink DOC -> status rows of the fused embed-and-index
    stage instead, observed as ``graft_embed`` under every ``on_error``
    policy and ``graft_sink`` (rows_indexed, bulk_bytes). On that sink
    under 'drop', ``rows_dead_lettered`` counts the dropped rows; other
    sinks observe ``graft_embed`` only under 'dead-letter'.

    ``embedder_factory`` defaults to the one ``cfg.embedding_model``
    names (``model_embedder_factory``); an injected factory (tests, the
    benchmark's fake Titan service) replaces it."""
    embedder_factory = embedder_factory or model_embedder_factory(cfg)
    raw = build_source(spark, cfg)
    msg = parse_raw(raw, "value")
    # Observed metrics (Spark Observation API): per-trigger operational
    # counters that ride the existing pass — zero extra shuffle, zero
    # extra scan — and surface in StreamingQueryProgress.observedMetrics.
    # The reference only LOGS its failures
    # (BedRockEmbeddingModelAsyncCustomMessage.java:109-112); here
    # ingest/drop/dead-letter rates are first-class queryable metrics.
    msg = msg.observe(
        "graft_parse",
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(F.col("_corrupt").cast("long")).alias("rows_corrupt"),
    )
    msg = msg.filter(~F.col("_corrupt")).drop("_corrupt")
    doc = normalize(msg, id_strategy=cfg.extra.get("id_strategy", "uuid"))
    doc = filter_nonempty_text(doc)
    doc = doc.observe(
        "graft_docs", F.count(F.lit(1)).alias("rows_nonempty")
    )
    if cfg.sink_format == "opensearch":
        # the status rows carry every row's error under every policy, so
        # under 'drop' rows_dead_lettered counts the rows dropped
        status = _observe_embed(opensearch_index(doc, cfg, embedder_factory))
        return status.observe(
            "graft_sink",
            F.sum(F.col("error").isNull().cast("long")).alias("rows_indexed"),
            F.sum("bulk_bytes").alias("bulk_bytes"),
        )
    emb = embed(
        doc,
        text_col="text",
        embedder_factory=embedder_factory,
        dim=cfg.resolved_dim(),
        batch_size=cfg.embed_batch_size,
        on_error=cfg.on_error,
    )
    if "error" in emb.columns:
        emb = _observe_embed(emb)
    return emb


def _observe_embed(df: DataFrame) -> DataFrame:
    return df.observe(
        "graft_embed",
        # embedded = rows that actually got a vector; failures are
        # counted separately, never inside the success metric
        F.sum(F.col("error").isNull().cast("long")).alias("rows_embedded"),
        F.sum(F.col("error").isNotNull().cast("long")).alias("rows_dead_lettered"),
    )


def _merge_observed(totals: dict[str, dict[str, int]], progress) -> None:
    # recentProgress yields dict-like objects; listener events yield
    # StreamingQueryProgress instances with an attribute instead
    if hasattr(progress, "get"):
        observed = progress.get("observedMetrics") or {}
    else:
        observed = progress.observedMetrics or {}
    for name, row in observed.items():
        bucket = totals.setdefault(name, {})
        vals = row.asDict() if hasattr(row, "asDict") else dict(row)
        for k, v in vals.items():
            if v is not None:
                bucket[k] = bucket.get(k, 0) + int(v)


def observed_metrics(query: StreamingQuery) -> dict[str, dict[str, int]]:
    """Totals of the pipeline's observed metrics over the query's RECENT
    triggers: {observation_name: {metric: total}}.

    Scope caveat: recentProgress retains only the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100)
    progress objects, so for a drained availableNow run (the test /
    batch-replay mode) this is the exact total, but a long-lived
    continuous query loses triggers older than the buffer. For lifetime
    totals on a continuous pipeline attach a MetricsListener BEFORE
    start() — it accumulates every onQueryProgress event."""
    totals: dict[str, dict[str, int]] = {}
    for p in query.recentProgress:
        _merge_observed(totals, p)
    return totals


class MetricsListener(StreamingQueryListener):
    """StreamingQueryListener that accumulates observed-metrics totals
    for EVERY trigger over a query's whole lifetime — the continuous-
    mode counterpart of observed_metrics(), immune to the
    recentProgress ring buffer (default 100 entries). Register before
    starting the query:

        listener = MetricsListener()
        spark.streams.addListener(listener)
        q = run_pipeline(spark, cfg)
        ...
        listener.totals(q.id)   # lifetime {observation: {metric: n}}
    """

    def __init__(self) -> None:
        self._totals: dict[str, dict[str, dict[str, int]]] = {}

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        per_query = self._totals.setdefault(str(p.id), {})
        _merge_observed(per_query, p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def totals(self, query_id) -> dict[str, dict[str, int]]:
        return self._totals.get(str(query_id), {})


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, embedder_factory=None
) -> StreamingQuery:
    """Start the streaming job; returns the StreamingQuery handle.

    With ``trigger_interval=None`` the job runs availableNow and stops —
    the test/batch-replay mode: a file source drains what is available,
    while a kinesis-lite source reads one capped slice (at most
    ``kinesis_max_records_per_trigger`` records per shard). With an
    interval it runs continuously like the reference job.

    ``extra.bootstrap_topic=True`` (kafka source only) creates the
    source topic first via streaming/kafka_admin.ensure_topic — the
    deploy step the reference runs as a custom-resource Lambda before
    the Flink job starts (MSK-S/topicCreation/index.py), in the same
    driver-side create-if-missing position as the OpenSearch sink's
    ensure_knn_index. Knobs: extra.topic_partitions,
    extra.topic_replication_factor, extra.msk_region (IAM auth),
    extra.kafka_admin_factory (test injection)."""
    embedder_factory = embedder_factory or model_embedder_factory(cfg)
    if cfg.source_format == "kafka" and cfg.extra.get("bootstrap_topic"):
        from .kafka_admin import ensure_topic

        # same validation the reader path applies — a misconfigured
        # source should fail with the clear ValueError, not a confusing
        # admin-client connection error against bootstrap=None
        kafka_reader_options(cfg)
        ensure_topic(
            cfg.kafka_bootstrap,
            cfg.kafka_topic,
            num_partitions=int(cfg.extra.get("topic_partitions", 1)),
            replication_factor=int(
                cfg.extra.get("topic_replication_factor", 1)
            ),
            region=cfg.extra.get("msk_region"),
            admin_factory=cfg.extra.get("kafka_admin_factory"),
        )
    emb = build_pipeline(spark, cfg, embedder_factory=embedder_factory)
    writer = emb.writeStream.foreachBatch(foreach_batch_writer(cfg))
    if cfg.checkpoint_dir:
        writer = writer.option("checkpointLocation", cfg.checkpoint_dir)
    if cfg.trigger_interval:
        writer = writer.trigger(processingTime=cfg.trigger_interval)
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()
