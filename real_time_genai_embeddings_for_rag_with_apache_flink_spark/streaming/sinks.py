"""Streaming sinks: foreachBatch bulk writers.

Reference sink: OpenSearch bulk indexer, flush interval 1 ms, SigV4
signed, emitter ``{passage_embedding, date, text}`` with auto-generated
doc ids (``KDS-P/.../msf/DataStreamJob.java:158-177,183-193``). Here the
engine-default sink is a parquet vector table (same at-least-once
guarantee via checkpointed micro-batches); dead-letter rows (embedding
errors, which the reference turns into sink-crashing nulls,
``BedRockEmbeddingModelAsyncCustomMessage.java:109-112``) are split into
a sibling table. The OpenSearch sink keeps the same bulk-emitter shape
over the engine's stdlib REST transport (streaming/opensearch_http.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.normalize import to_sink_docs
from .opensearch_http import http_opensearch_factory


def foreach_batch_writer(cfg: PipelineConfig) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch function for the configured sink."""
    if cfg.sink_format == "parquet":
        if not cfg.sink_path:
            raise ValueError("parquet sink needs sink_path")
        return _parquet_writer(cfg)
    if cfg.sink_format == "opensearch":
        return _opensearch_writer(cfg)
    if cfg.sink_format == "delta":
        if not cfg.sink_path:
            raise ValueError("delta sink needs sink_path")
        keys = tuple(cfg.extra.get("upsert_keys", ()))
        if not keys:
            raise ValueError("delta sink needs extra['upsert_keys']")
        return delta_upsert_writer(
            cfg.sink_path,
            keys,
            order_by=tuple(cfg.extra.get("upsert_order_by", ())),
            table_factory=cfg.extra.get(
                "delta_table_factory", _default_delta_factory
            ),
        )
    raise ValueError(f"unknown sink_format {cfg.sink_format!r}")


def _parquet_writer(cfg: PipelineConfig) -> Callable[[DataFrame, int], None]:
    sink_path, dead_path = cfg.sink_path, f"{cfg.sink_path}_dead_letter"
    has_error = cfg.on_error == "dead-letter"
    idempotent = bool(cfg.extra.get("idempotent_sink", False))

    def _write_idempotent(df: DataFrame, path: str, batch_id: int) -> None:
        # Each micro-batch lands in its own _batch=<id> partition via
        # dynamic partition overwrite: a replayed batch REPLACES its
        # partition instead of appending a second copy -> effectively
        # exactly-once output.
        spark = df.sparkSession
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            (
                df.withColumn("_batch", F.lit(batch_id))
                .write.partitionBy("_batch")
                .mode("overwrite")
                .parquet(path)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        # Plain append -> at-least-once on replay (the reference's bulk
        # sink guarantee); idempotent_sink upgrades BOTH the main table
        # and the dead-letter table to per-batch partition overwrite so
        # a replayed micro-batch can't duplicate either output.
        #
        # Dead-letter mode runs MULTIPLE actions over this batch (the
        # bad-row probe, the dead-letter write, the main write). Without
        # a persist each action re-evaluates the whole upstream plan —
        # i.e. the embedding UDF, the expensive stage the pipeline
        # exists to run, executes ~twice per micro-batch — and every
        # observed-metrics counter double-fires. Persist once; all
        # actions read the materialized batch.
        multi_action = has_error
        if multi_action:
            batch = batch.persist()
        try:
            good = batch
            if has_error:
                bad = batch.filter(F.col("error").isNotNull())
                if not bad.isEmpty():
                    if idempotent:
                        _write_idempotent(bad, dead_path, batch_id)
                    else:
                        bad.write.mode("append").parquet(dead_path)
                good = batch.filter(F.col("error").isNull())
            docs = to_sink_docs(good)
            if idempotent:
                _write_idempotent(docs, sink_path, batch_id)
            else:
                docs.write.mode("append").parquet(sink_path)
        finally:
            if multi_action:
                batch.unpersist()

    return write_batch


def knn_index_body(dimension: int) -> dict:
    """The k-NN index mapping the reference bootstraps before the job
    starts (index-creation-function/lambda_function.py:66-97): a
    knn_vector passage_embedding with hnsw(l2, nmslib,
    ef_construction=128, m=24), date + text fields, knn enabled, 5
    shards, 1 replica. Dimension follows the embedding model
    (titan-v1 -> 1536, titan-v2 -> 1024, lambda_function.py:58-61 /
    PipelineConfig.resolved_dim)."""
    return {
        "mappings": {
            "properties": {
                "passage_embedding": {
                    "type": "knn_vector",
                    "dimension": dimension,
                    "method": {
                        "name": "hnsw",
                        "space_type": "l2",
                        "engine": "nmslib",
                        "parameters": {"ef_construction": 128, "m": 24},
                    },
                },
                "date": {"type": "date"},
                # the reference maps text as a bare text field
                # (lambda_function.py:84); a keyword subfield is added
                # here because real OpenSearch disables fielddata on
                # text fields — sort/search_after (the paginated
                # read-back path, opensearch_http.search_all) must
                # target text.raw, and a bare text mapping would reject
                # it on a real domain even though full-text search
                # behavior is unchanged by the multi-field
                "text": {
                    "type": "text",
                    "fields": {"raw": {"type": "keyword"}},
                },
            }
        },
        "settings": {
            "index": {
                "knn": True,
                "number_of_shards": 5,
                "number_of_replicas": 1,
            }
        },
    }


def ensure_knn_index(client, index: str, dimension: int) -> bool:
    """Create the k-NN index if it does not exist yet. Returns True when
    this call created it. Without this bootstrap a fresh domain would
    auto-create a mapping-less index on first bulk write and store the
    vectors as plain floats — wrong (non-k-NN) storage that only fails
    at query time."""
    if client.indices.exists(index=index):
        return False
    resp = client.indices.create(index=index, body=knn_index_body(dimension))
    if not resp.get("acknowledged", False):
        raise RuntimeError(f"index creation for {index!r} not acknowledged: {resp}")
    return True


def _opensearch_writer(cfg: PipelineConfig) -> Callable[[DataFrame, int], None]:
    """Executor-distributed bulk indexer: one client + one bulk stream
    per output partition (the reference's bulk-processor-per-subtask
    shape, DataStreamJob.java:158-177). The batch is NEVER funneled
    through the driver — a driver-side toLocalIterator loop caps
    throughput at one machine regardless of cluster size. Before the
    first bulk write the driver creates the k-NN index with the
    reference's hnsw mapping if it is missing (ensure_knn_index).

    cfg.extra keys: index, hosts (one endpoint), aws_region +
    aws_service ('es'|'aoss') with aws_access_key / aws_secret_key /
    aws_session_token for SigV4, client_factory (injectable, mainly for
    tests; replaces the REST transport), and index_by_id (default False
    = the reference's deployed behavior: auto-generated document ids —
    its ``.id(element.get("_id"))`` line is commented out,
    DataStreamJob.java:191, so an at-least-once bulk retry can
    duplicate documents there. True routes the pipeline's M2 ``_id``
    onto each bulk action, turning every index into an idempotent
    upsert: a replay of the SAME body after a partial application
    converges instead of duplicating — pair with
    extra.id_strategy='deterministic' so restarts reuse ids; driver row
    st35 certifies the claim hash-exactly under injected partial-bulk
    faults)."""
    index = cfg.extra.get("index", "embeddings")
    factory = cfg.extra.get("client_factory")
    if factory is None:
        hosts = cfg.extra.get("hosts", ["https://localhost:9200"])
        if isinstance(hosts, (list, tuple)) and len(hosts) != 1:
            raise ValueError(
                f"opensearch sink takes exactly one endpoint in hosts, got {hosts!r}"
            )
        region = cfg.extra.get("aws_region")
        access_key = cfg.extra.get("aws_access_key")
        secret_key = cfg.extra.get("aws_secret_key")
        if region and not (access_key and secret_key):
            raise ValueError(
                "opensearch sink: aws_region needs aws_access_key and "
                "aws_secret_key (requests would go out unsigned)"
            )
        factory = http_opensearch_factory(
            hosts,
            region=region,
            service=cfg.extra.get("aws_service", "es"),
            access_key=access_key,
            secret_key=secret_key,
            session_token=cfg.extra.get("aws_session_token"),
        )

    dimension = cfg.resolved_dim()
    # Bootstrap once per writer, lazily on the first batch (the driver
    # runs foreachBatch, so the single create-if-missing call happens
    # driver-side — the reference does the same from a one-shot lambda
    # before the Flink job starts).
    pending_bootstrap = [True]

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        if pending_bootstrap[0]:
            client, _ = factory()
            ensure_knn_index(client, index, dimension)
            pending_bootstrap[0] = False
        # embed() only carries an error column under the dead-letter
        # policy; under drop/fail the column is absent and there is
        # nothing to filter (guard mirrors _parquet_writer's has_error).
        good = batch
        if "error" in batch.columns:
            good = batch.filter(F.col("error").isNull())
        by_id = bool(cfg.extra.get("index_by_id"))
        docs = to_sink_docs(good, include_id=by_id)

        def send_partition(rows) -> None:
            first = next(iter(rows), None)
            if first is None:
                return  # empty partition: never build a client
            import itertools

            client, bulk = factory()
            actions = (
                {
                    "_index": index,
                    **({"_id": row._id} if by_id else {}),
                    "_source": {
                        "passage_embedding": row.passage_embedding,
                        "date": row.date.isoformat() if row.date else None,
                        "text": row.text,
                    },
                }
                for row in itertools.chain([first], rows)
            )
            bulk(client, actions)

        docs.foreachPartition(send_partition)

    return write_batch


# ---------------------------------------------------------------------------
# ACID table-format sink (Delta Lake), import-gated
# ---------------------------------------------------------------------------


def _default_delta_factory(spark, path: str):
    """Returns a DeltaTable handle for ``path`` or None when no table
    exists there yet. Import-gated: delta-spark (and its JVM jar) are
    not in this container, so the gate raises with the remedy — the
    same posture as the codec gates."""
    try:
        from delta.tables import DeltaTable
    except ImportError as e:
        raise NotImplementedError(
            "delta sink requires delta-spark (pip install delta-spark and "
            "configure spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension, "
            "spark.sql.catalog.spark_catalog=org.apache.spark.sql.delta.catalog."
            "DeltaCatalog); use sink_format='parquet' with idempotent_sink "
            "for the jar-free equivalent"
        ) from e
    if DeltaTable.isDeltaTable(spark, path):
        return DeltaTable.forPath(spark, path)
    return None


def delta_upsert_writer(
    path: str,
    keys: tuple[str, ...],
    order_by: tuple[str, ...] = (),
    table_factory=_default_delta_factory,
    create_format: str = "delta",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch keyed MERGE into a Delta table — st10's versioned-
    parquet upsert with real ACID semantics (the upgrade st10's
    docstring names: at 100 TB the per-batch full-table rewrite becomes
    a transactional MERGE touching only matched files, and concurrent
    readers never see a half-written version).

    Per micro-batch:
    1. the batch is reduced to ONE row per key (greatest row by
       ``order_by``, descending, then by the key — MERGE requires a
       unique source match, and a replayed batch must converge);
    2. first batch creates the table (CTAS append); later batches run
       ``MERGE ON t.k = s.k WHEN MATCHED UPDATE ALL WHEN NOT MATCHED
       INSERT ALL`` — idempotent under micro-batch replay, giving
       effectively-exactly-once sink semantics.

    ``table_factory(spark, path)`` returns a DeltaTable-like handle or
    None when the table doesn't exist; injectable (with
    ``create_format``, which the first batch's CTAS uses) so the MERGE
    composition is testable without the jar (tests/test_delta_sink.py),
    exactly like the OpenSearch client_factory."""
    from pyspark.sql import Window

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        ordering = [F.desc(c) for c in order_by] + [F.desc(c) for c in keys]
        w = Window.partitionBy(*keys).orderBy(*ordering)
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        tbl = table_factory(sp, path)
        if tbl is None:
            latest.write.format(create_format).save(path)
            return
        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        (
            tbl.alias("t")
            .merge(latest.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )

    return write_batch
