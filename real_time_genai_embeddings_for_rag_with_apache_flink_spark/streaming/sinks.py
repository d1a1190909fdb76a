"""Streaming sinks: foreachBatch bulk writers.

Reference sink: OpenSearch bulk indexer, flush interval 1 ms, SigV4
signed, emitter ``{passage_embedding, date, text}`` with auto-generated
doc ids (``KDS-P/.../msf/DataStreamJob.java:158-177,183-193``). Here the
engine-default sink is a parquet vector table (same at-least-once
guarantee via checkpointed micro-batches); dead-letter rows (embedding
errors, which the reference turns into sink-crashing nulls,
``BedRockEmbeddingModelAsyncCustomMessage.java:109-112``) are split into
a sibling table. The OpenSearch sink keeps the same bulk-emitter shape
over the engine's stdlib REST transport (streaming/opensearch_http.py),
fused with the embedding into one Arrow stage (``opensearch_index``):
each document crosses into Python once, and its vector is formatted in
Arrow, not by ``json.dumps``.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import aws
from ..config import PipelineConfig
from ..operators.embed import check_on_error, embed_chunks
from ..operators.normalize import to_sink_docs
from .opensearch_http import (
    bulk_action_line,
    http_opensearch_factory,
    json_float_arrays,
)


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
        # exactly-once output. A writer option, so no other write on
        # the session sees the mode.
        (
            df.withColumn("_batch", F.lit(batch_id))
            .write.partitionBy("_batch")
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(path)
        )

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
    (lambda_function.py:58-61; PipelineConfig.resolved_dim)."""
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


def opensearch_client_factory(cfg: PipelineConfig):
    """The sink's ``factory() -> (client, bulk)``, built on the driver and
    called on the executors.

    cfg.extra keys: hosts (one endpoint), aws_region + aws_service
    ('es'|'aoss') for SigV4 with the process's AWS credential chain
    (``aws.credentials``), and client_factory (injectable, mainly for
    tests; replaces the REST transport)."""
    factory = cfg.extra.get("client_factory")
    if factory is not None:
        return factory
    hosts = cfg.extra.get("hosts", ["https://localhost:9200"])
    if isinstance(hosts, (list, tuple)) and len(hosts) != 1:
        raise ValueError(
            f"opensearch sink takes exactly one endpoint in hosts, got {hosts!r}"
        )
    region = cfg.extra.get("aws_region")
    if region and aws.credentials() is None:
        raise ValueError(
            "opensearch sink: aws_region is set but the AWS credential "
            "chain has no credentials to sign with"
        )
    return http_opensearch_factory(
        hosts, region=region, service=cfg.extra.get("aws_service", "es")
    )


def _bulk_actions(
    chunk: pa.RecordBatch, vecs: list, errs: list, index: str, by_id: bool
) -> tuple[list[dict], list[int]]:
    """The bulk actions of a chunk's rows without an error, each
    ``_source`` already JSON bytes, and every row's share of the bulk
    body (0 for a row not sent)."""
    sizes = [0] * len(errs)
    keep = [i for i, e in enumerate(errs) if e is None]
    if not keep:
        return [], sizes
    rows = chunk.take(keep)
    vectors = json_float_arrays([vecs[i] for i in keep])
    # an absolute UTC instant: Arrow carries Spark timestamps as UTC
    # microseconds whatever the session or worker time zone
    dates = pc.strftime(
        rows.column("created_at").cast(pa.timestamp("us")),
        format="%Y-%m-%dT%H:%M:%SZ",
    )
    dates = pc.fill_null(pc.binary_join_element_wise('"', dates, '"', ""), "null")
    ids = rows.column("_id").to_pylist() if by_id else [None] * len(keep)
    actions = []
    for i, vector, date, text, doc_id in zip(
        keep,
        vectors,
        dates.cast(pa.binary()).to_pylist(),
        rows.column("text").to_pylist(),
        ids,
    ):
        source = b'{"passage_embedding":%s,"date":%s,"text":%s}' % (
            vector,
            date,
            json.dumps(text).encode(),
        )
        action = {"_index": index, "_source": source}
        if by_id:
            action["_id"] = doc_id
        sizes[i] = len(bulk_action_line(action)) + len(source) + 2
        actions.append(action)
    return actions, sizes


def opensearch_index(
    doc: DataFrame, cfg: PipelineConfig, embedder_factory
) -> DataFrame:
    """Embed and bulk-index DOC rows (text, created_at, _id) in one
    ``mapInArrow`` stage; returns one status row per document:
    ``error`` (NULL when indexed) and ``bulk_bytes`` (its share of the
    ``_bulk`` body).

    Each partition takes one ``embed_batch_size`` chunk at a time from
    ``embed_chunks``, the chunk loop of ``embed()`` (the ``on_error``
    policy; a vector the index would reject is a row error),
    formats the vectors in Arrow, and hands the chunk's actions to one
    sender thread, so a ``_bulk`` request overlaps the next chunk's
    model calls — the reference's async operator and bulk processor
    running side by side in each subtask (DataStreamJob.java:148-177).
    At most one bulk is in flight, so a partition holds at most two
    chunks of vectors. A failed bulk raises at the next wait or at the
    end of the partition and fails the task; the micro-batch is then
    replayed (at-least-once).

    cfg.extra keys: index (default 'embeddings'), those of
    ``opensearch_client_factory``, and index_by_id (default False = the
    reference's auto-generated ids; its ``.id(...)`` line is commented
    out, :191), which puts the DOC ``_id`` on every action, making a
    replay an idempotent upsert — pair it with
    id_strategy='deterministic'."""
    check_on_error(cfg.on_error)
    factory = opensearch_client_factory(cfg)
    index = cfg.extra.get("index", "embeddings")
    by_id = bool(cfg.extra.get("index_by_id"))
    dim, batch_size, on_error = cfg.resolved_dim(), cfg.embed_batch_size, cfg.on_error

    def index_partition(batches):
        client = bulk = sent = None
        with ThreadPoolExecutor(max_workers=1) as sender:
            for chunk, vecs, errs in embed_chunks(
                batches, embedder_factory, dim, batch_size, on_error
            ):
                actions, sizes = _bulk_actions(chunk, vecs, errs, index, by_id)
                if actions:
                    if client is None:
                        client, bulk = factory()
                    if sent is not None:
                        sent.result()
                    sent = sender.submit(bulk, client, actions)
                yield pa.RecordBatch.from_arrays(
                    [pa.array(errs, pa.string()), pa.array(sizes, pa.int64())],
                    names=["error", "bulk_bytes"],
                )
            if sent is not None:
                sent.result()

    cols = ["text", "created_at"] + (["_id"] if by_id else [])
    return doc.select(*cols).mapInArrow(
        index_partition, "error string, bulk_bytes long"
    )


def _opensearch_writer(cfg: PipelineConfig) -> Callable[[DataFrame, int], None]:
    """foreachBatch over the status rows of ``opensearch_index``: the
    embedding and bulk indexing run on the executors, inside the one
    action this runs (a ``noop`` write), so the batch never funnels
    through the driver. Before the first batch the driver creates the
    k-NN index with the reference's hnsw mapping if it is missing
    (ensure_knn_index)."""
    factory = opensearch_client_factory(cfg)
    index = cfg.extra.get("index", "embeddings")
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
        batch.write.format("noop").mode("overwrite").save()

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
