"""Custom Python data source SINK (Spark 4 ``pyspark.sql.datasource``
writer API): a staged-segment + manifest vector-index directory.

The reference's K1 stage bulk-indexes embeddings into OpenSearch, one
bulk request per Flink subtask (``KDS-P/.../msf/DataStreamJob.java:
158-177``). The engine's production adapter for that is
``streaming/sinks.py`` (a fused embed-and-bulk Arrow stage over the
stdlib REST transport); THIS module is the same executor-side bulk
pattern as a self-contained user-defined sink that runs anywhere:

- ``write(iterator)`` executes ON EACH EXECUTOR PARTITION — it stages
  that partition's rows as one parquet segment under ``path/_staging``
  (the "bulk request"), and returns a commit message naming the
  segment. The driver never sees a row — only the tiny messages.
- ``commit(messages)`` runs once on the driver AFTER every partition
  succeeded, and atomically publishes a manifest listing the segments.
  Readers trust only manifested segments, so a half-failed write is
  invisible — the same two-phase contract a real vector index gets
  from staged segments + index-alias swap.
- ``abort()`` leaves only unreferenced staging files behind — garbage,
  never corruption.

The streaming variant commits one manifest per epoch (micro-batch id in
the name), giving exactly-once-visible per-batch publication under
retries — equivalent to the idempotent ``_batch`` partition-overwrite
mode of the parquet foreachBatch sink (``streaming/sinks.py``).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamWriter,
    DataSourceWriter,
    WriterCommitMessage,
)


@dataclass
class SegmentCommit(WriterCommitMessage):
    segment: str
    rows: int


def _stage_partition(path: str, iterator) -> SegmentCommit:
    """Write one partition's rows as a parquet segment (executor-side)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = list(iterator)
    if not rows:
        # nothing to stage; commit message carries rows=0 and the
        # manifest publisher drops it (no zero-column parquet shards)
        return SegmentCommit(segment="", rows=0)
    staging = os.path.join(path, "_staging")
    os.makedirs(staging, exist_ok=True)
    seg = os.path.join(staging, f"seg-{uuid.uuid4().hex}.parquet")
    cols = {name: [r[name] for r in rows] for name in rows[0].__fields__}
    pq.write_table(pa.table(cols), seg)
    return SegmentCommit(segment=seg, rows=len(rows))


def _publish(path: str, manifest_name: str, messages) -> None:
    """Atomically publish the manifest (driver-side, post-success)."""
    committed = [m for m in messages if m is not None and m.rows > 0]
    manifest = {
        "segments": [{"file": m.segment, "rows": m.rows} for m in committed],
        "total_rows": sum(m.rows for m in committed),
    }
    tmp = os.path.join(path, f".{manifest_name}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(path, manifest_name))


class VecDirWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> SegmentCommit:
        return _stage_partition(self.path, iterator)

    def commit(self, messages) -> None:
        _publish(self.path, "manifest.json", messages)

    def abort(self, messages) -> None:
        pass  # unmanifested staging segments are inert


class VecDirStreamWriter(DataSourceStreamWriter):
    def __init__(self, options: dict):
        self.path = options["path"]

    def write(self, iterator) -> SegmentCommit:
        return _stage_partition(self.path, iterator)

    def commit(self, messages, batchId: int) -> None:
        _publish(self.path, f"manifest-{batchId}.json", messages)

    def abort(self, messages, batchId: int) -> None:
        pass


class VecDirDataSource(DataSource):
    """``format("vecdir")`` with option ``path``; batch + streaming."""

    @classmethod
    def name(cls) -> str:
        return "vecdir"

    def writer(self, schema, overwrite: bool) -> VecDirWriter:
        return VecDirWriter(self.options)

    def streamWriter(self, schema, overwrite: bool) -> VecDirStreamWriter:
        return VecDirStreamWriter(self.options)


def register(spark) -> None:
    """Idempotent registration of the vecdir sink on a session."""
    spark.dataSource.register(VecDirDataSource)


def read_manifested(spark, path: str):
    """Read back ONLY manifested segments (the two-phase-commit read
    side): union every manifest's segment list, ignore staging strays."""
    import glob as _glob

    files: list[str] = []
    for mf in sorted(_glob.glob(os.path.join(path, "manifest*.json"))):
        with open(mf) as f:
            files.extend(s["file"] for s in json.load(f)["segments"])
    return spark.read.parquet(*files) if files else None
