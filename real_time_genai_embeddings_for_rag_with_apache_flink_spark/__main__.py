"""Job entrypoint: run the streaming embedding pipeline from one property file.

The Spark analogue of the reference's DataStreamJob.main, which reads
``embedding.model``, the stream, the domain and the region from one
runtime property group (``KDS-P/.../msf/DataStreamJob.java:90-103,121-125``),
plus the app-starter's run-until-stopped behavior
(``startFlinkApplication/index.py:28-44``).

    python -m real_time_genai_embeddings_for_rag_with_apache_flink_spark \\
        --config job.json

``job.json`` is a JSON object of ``PipelineConfig`` fields, ``extra``
nested; an unknown key is an error. The file holds no credentials:
every AWS call signs with the process's credential chain (``aws.py``).
The job runs until its query stops: a ``trigger_interval`` runs it
continuously; without one it runs one availableNow batch and stops (a
kinesis-lite source then reads at most ``kinesis_max_records_per_trigger``
records per shard).
"""

from __future__ import annotations

import argparse
import dataclasses
import json

from .config import PipelineConfig
from .session import build_session
from .streaming import run_pipeline


def load_config(path: str) -> PipelineConfig:
    """The ``PipelineConfig`` a JSON property file spells out."""
    with open(path) as f:
        props = json.load(f)
    if not isinstance(props, dict):
        raise ValueError(f"{path}: expected a JSON object of PipelineConfig fields")
    known = {f.name for f in dataclasses.fields(PipelineConfig)}
    unknown = sorted(set(props) - known)
    if unknown:
        raise ValueError(
            f"{path}: unknown PipelineConfig keys {unknown}; known: {sorted(known)}"
        )
    cfg = PipelineConfig(**props)
    cfg.resolved_dim()  # an unknown model key fails before Spark starts
    return cfg


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--config", required=True, help="JSON property file")
    args = p.parse_args(argv)
    try:
        cfg = load_config(args.config)
    except (OSError, ValueError) as e:
        p.error(str(e))
    spark = build_session(app_name="rag-embeddings-pipeline")
    run_pipeline(spark, cfg).awaitTermination()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
