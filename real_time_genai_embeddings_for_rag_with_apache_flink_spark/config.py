"""Pipeline configuration.

Spark-side mirror of the reference's runtime property group
``FlinkApplicationProperties`` (keys loaded at
``KDS-P/.../msf/DataStreamJob.java:90-103,121-125``; values injected by CDK at
``KDS-P/lib/...ts:216-227``): stream name/topic, region, sink index,
``embedding.model`` selector. The engine adds the knobs the reference left
implicit or hard-coded (start position, batch size, error policy).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """Configuration for the streaming embedding pipeline.

    Reference parity notes:
    - ``start_position``: Kinesis variant uses LATEST
      (``KDS-P/.../DataStreamJob.java:130``), MSK variant earliest
      (``MSK-S/.../DataStreamJob.java:132``) — configurable here.
    - ``embedding_model``: 'titan-v1' -> 1536 dims, 'titan-v2' -> 1024 dims
      (``.../BedRockEmbeddingModelAsyncCustomMessage.java:80-85``,
      ``index-creation-function/lambda_function.py:58-61``). The
      deterministic local embedder accepts any dim; tests use 64.
    - ``on_error``: the reference emits null on failure
      (``BedRockEmbeddingModelAsyncCustomMessage.java:109-112``) which would
      NPE its own sink; the engine makes the policy explicit.
    """

    source_format: str = "json"            # json file-stream | kinesis-lite | kafka | rate
    source_path: str | None = None         # dir for file sources
    kafka_bootstrap: str | None = None
    kafka_topic: str | None = None
    start_position: str = "latest"         # latest | earliest
    embedding_model: str = "local-deterministic"
    embedding_dim: int = 64
    embed_batch_size: int = 256
    on_error: str = "dead-letter"          # dead-letter | drop | fail
    sink_format: str = "parquet"           # parquet | opensearch | delta
    sink_path: str | None = None
    checkpoint_dir: str | None = None
    trigger_interval: str | None = None    # None -> availableNow
    extra: dict = field(default_factory=dict)

    MODEL_DIMS = {"titan-v1": 1536, "titan-v2": 1024}

    def resolved_dim(self) -> int:
        return self.MODEL_DIMS.get(self.embedding_model, self.embedding_dim)
