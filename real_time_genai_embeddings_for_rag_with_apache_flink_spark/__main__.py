"""Job entrypoint: run the streaming embedding pipeline from the CLI.

The Spark analogue of the reference's DataStreamJob.main (CLI params
when local, runtime property group on the service —
``KDS-P/.../msf/DataStreamJob.java:90-103``) plus the app-starter's
run-until-stopped behavior (``startFlinkApplication/index.py:28-44``).

    python -m real_time_genai_embeddings_for_rag_with_apache_flink_spark \
        --source-path /data/in --sink-path /data/vectors \
        --checkpoint /data/ckpt [--kafka-bootstrap ... --kafka-topic ...] \
        [--trigger "10 seconds"] [--model titan-v2] [--once]
"""

from __future__ import annotations

import argparse

from .config import PipelineConfig
from .session import build_session
from .streaming import run_pipeline


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source-format", default=None,
                   help="json|kafka|rate (default: kafka when "
                        "--kafka-bootstrap is given, else json); "
                        "kinesis-lite needs its stream and region in "
                        "PipelineConfig.extra, so run it from Python")
    p.add_argument("--source-path", default=None)
    p.add_argument("--kafka-bootstrap", default=None)
    p.add_argument("--kafka-topic", default=None)
    p.add_argument("--start-position", default="latest", choices=["latest", "earliest"])
    p.add_argument("--sink-path", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--model", default="local-deterministic")
    p.add_argument("--dim", type=int, default=64)
    p.add_argument("--on-error", default="dead-letter",
                   choices=["dead-letter", "drop", "fail"])
    p.add_argument("--trigger", default=None,
                   help="processing-time interval, e.g. '10 seconds'; "
                        "omit for drain-and-stop (availableNow)")
    p.add_argument("--idempotent", action="store_true",
                   help="exactly-once parquet sink via batch-partition overwrite")
    args = p.parse_args(argv)

    source_format = args.source_format or (
        "kafka" if args.kafka_bootstrap else "json"
    )
    cfg = PipelineConfig(
        source_format=source_format,
        source_path=args.source_path,
        kafka_bootstrap=args.kafka_bootstrap,
        kafka_topic=args.kafka_topic,
        start_position=args.start_position,
        embedding_model=args.model,
        embedding_dim=args.dim,
        on_error=args.on_error,
        sink_format="parquet",
        sink_path=args.sink_path,
        checkpoint_dir=args.checkpoint,
        trigger_interval=args.trigger,
        extra={"idempotent_sink": args.idempotent},
    )
    spark = build_session(app_name="rag-embeddings-pipeline")
    query = run_pipeline(spark, cfg)
    query.awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
