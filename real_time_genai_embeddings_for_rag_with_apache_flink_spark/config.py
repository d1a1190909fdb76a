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

# model key -> (Bedrock model id, dimension): the reference's model map
# (BedRockEmbeddingModelAsyncCustomMessage.java:80-85, lambda_function.py:58-61)
TITAN_MODELS = {
    "titan-v1": ("amazon.titan-embed-text-v1", 1536),
    "titan-v2": ("amazon.titan-embed-text-v2:0", 1024),
}
LOCAL_MODEL = "local-deterministic"


@dataclass(frozen=True)
class PipelineConfig:
    """Configuration for the streaming embedding pipeline.

    Reference parity notes:
    - ``start_position``: Kinesis variant uses LATEST
      (``KDS-P/.../DataStreamJob.java:130``), MSK variant earliest
      (``MSK-S/.../DataStreamJob.java:132``) — configurable here.
    - ``embedding_model`` picks the model: a ``TITAN_MODELS`` key
      (Bedrock, region and endpoint in ``extra["bedrock_region"]`` /
      ``extra["bedrock_endpoint"]``) or 'local-deterministic', which
      accepts any ``embedding_dim``; tests use 64.
    - ``on_error``: the reference emits null on failure
      (``BedRockEmbeddingModelAsyncCustomMessage.java:109-112``) which would
      NPE its own sink; the engine makes the policy explicit.
    """

    source_format: str = "json"            # json file-stream | kinesis-lite | kafka | rate
    source_path: str | None = None         # dir for file sources
    kafka_bootstrap: str | None = None
    kafka_topic: str | None = None
    start_position: str = "latest"         # latest | earliest
    embedding_model: str = LOCAL_MODEL
    embedding_dim: int = 64
    embed_batch_size: int = 256
    on_error: str = "dead-letter"          # dead-letter | drop | fail
    sink_format: str = "parquet"           # parquet | opensearch | delta
    sink_path: str | None = None
    checkpoint_dir: str | None = None
    trigger_interval: str | None = None    # None -> availableNow
    extra: dict = field(default_factory=dict)

    def resolved_dim(self) -> int:
        if self.embedding_model == LOCAL_MODEL:
            return self.embedding_dim
        if self.embedding_model not in TITAN_MODELS:
            raise ValueError(
                f"unknown embedding_model {self.embedding_model!r}; known: "
                f"{sorted([LOCAL_MODEL, *TITAN_MODELS])}"
            )
        return TITAN_MODELS[self.embedding_model][1]
