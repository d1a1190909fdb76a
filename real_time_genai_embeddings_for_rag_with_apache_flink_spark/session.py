"""SparkSession factory.

The reference hand-configures parallelism (1 KPU, parallelism 1,
``KDS-P/lib/kinesis-data-streams-flink-bedrock-opensearch-provisioned.ts:230-235``);
here the equivalent knobs are Spark confs, sized so the same code runs on
``local[N]`` in tests and on a multi-executor cluster (tested only on
``local[N]``; the package must be installed on the executors, see the
daemon below):

- AQE on (runtime coalescing + skew-join splitting replaces hand-tuned
  parallelism; at 100 TB the static shuffle-partition count is only a
  starting point AQE refines per stage).
- Arrow on (every Python crossing is vectorized — the engine's analogue
  of the reference's async record-at-a-time boundary #3, SURVEY.md 3.1).
- UTC session timezone so timestamp semantics are stable across hosts.
- Python workers fork from ``worker_daemon`` (``spark.python.daemon.module``,
  a constant). Stock PySpark re-parses every zip directory on the
  worker's path (``pyspark.zip`` and the Spark core jar) before each
  task, 140-270 ms on a 4-core host; that daemon re-reads an archive
  only when it changed. On that host a 4-task Python ``map`` went from
  ~310 to ~110 ms (a JVM-only ``range(4).collect()`` takes ~55 ms) and
  the rag_query benchmark's p50 from 1432 to 715 ms. The daemon runs
  before any task, on the executor's own Python path, so this package
  must be installed on the executors: ``--py-files`` / ``addPyFile``
  reach a worker's path only inside each task, too late for the daemon,
  and every Python task would then fail.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "rag-embeddings-spark"
WORKER_DAEMON = f"{__package__}.worker_daemon"


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def build_session(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", WORKER_DAEMON)
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
