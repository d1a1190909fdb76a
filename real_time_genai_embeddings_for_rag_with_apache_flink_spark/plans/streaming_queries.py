"""Structured Streaming catalog entries.

The reference is a pure streaming job (source -> map -> filter -> async
embed -> sink, ``KDS-P/.../msf/DataStreamJob.java:133-177``) with no
watermarks (``MSK-S/...:163``). These entries run the engine's streaming
surface for real — ``readStream`` over the testdata parquet split into
N_STREAM_FILES time-ordered files (one micro-batch each via
``maxFilesPerTrigger=1`` under ``Trigger.AvailableNow``), results landed
in a memory sink and returned as a DataFrame — so the driver's oracle
checks actual MULTI-batch streaming output (state carried and watermarks
advanced across micro-batches), not a batch stand-in.

Semantics notes (what the oracle SQL mirrors):
- availableNow processes all existing input then stops; a trailing
  no-data micro-batch advances the watermark so append-mode aggregations
  flush every window whose end <= max(event_time) - delay. Windows past
  that frontier stay in state forever (they'd emit on the next batch in a
  live stream) — the oracle replicates the cutoff exactly.
- complete-mode aggregation emits all windows, so its oracle is the plain
  batch aggregation.
- dropDuplicates keys state by the dedup columns; with a watermark the
  state is bounded. Output order is micro-batch-dependent, so the checked
  projection is the surviving key set, not the surviving row.

At scale the same code runs against Kafka/Kinesis by swapping the source
format; state lives in the checkpointed state store, partitioned by the
grouping key across executors.
"""

from __future__ import annotations

import glob as _glob
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .registry import query

# Read schema for the SPLIT events copy (the split writer normalizes
# ts to a plain TIMESTAMP regardless of the on-disk encoding — the
# testdata has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS),
# so the stream path must never assume one; sources/batch._load_events
# is the single adaptive decoder).
_EVENTS_STREAM = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_DOCS_RAW = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


# (abs sf_dir, table) -> split-source directory, reused across warm/bench
# runs and catalog invocations within one session.
_SPLIT_CACHE: dict[tuple[str, str], str] = {}

# Micro-batch files per split stream source. Watermark/state transitions
# only happen BETWEEN micro-batches, so >=3 files makes every streaming
# entry certify real multi-batch behavior instead of a single
# availableNow batch.
N_STREAM_FILES = 3


def _local_path_of(base: str) -> str | None:
    """Local filesystem path for ``base`` if it IS local (bare path or
    file: URI in any slash form — Hadoop's own Path.toString() renders
    the single-slash ``file:/x``), else None. hdfs:// / s3a:// / any
    other scheme are fine for the Hadoop-FS-backed state dirs but NOT
    for the split source copy, which needs POSIX glob/utime."""
    import re

    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*):/", base)
    if m is None:
        return base  # bare path, no scheme
    scheme, rest = m.group(1), base[m.end(1) + 1 :]
    if scheme != "file":
        return None
    if rest.startswith("//"):
        # file://authority/path: a non-empty, non-localhost authority
        # names a REMOTE file service — not resolvable locally
        authority, _, path = rest[2:].partition("/")
        if authority not in ("", "localhost"):
            return None
        return "/" + path.lstrip("/")
    # file:/x -> /x (Hadoop Path.toString()'s single-slash rendering)
    return "/" + rest.lstrip("/")


def _split_source_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    sort_col: str,
    read_schema: StructType | None = None,
    n_files: int = N_STREAM_FILES,
    where: str | None = None,
) -> str:
    """Materialize ``{sf_dir}/{table}.parquet`` as a directory of
    ``n_files`` range-disjoint, time-ordered parquet files so the
    file-stream source (maxFilesPerTrigger=1) replays it as an ordered
    multi-batch stream.

    Range partitioning on the event-time column means batch k+1 holds
    only rows past batch k's maximum — i.e. zero cross-batch disorder —
    so append-mode aggregations, session windows and interval joins
    under a watermark emit EXACTLY the same rows as the one-batch
    replay (nothing is ever late, state eviction can never outrun a
    future match) and the existing oracles stay exact. File order is
    pinned by strictly increasing mtimes (the file source processes
    oldest-first), matching the partition index order.

    The events table goes through the adaptive batch loader
    (sources/batch._load_events): on-disk ts has shipped as BOTH
    TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across testdata
    generations, and assuming one silently compresses/stretches event
    time 1000x — every watermark, window and interval-join result is
    then wrong while still "running green" as a plain row stream. The
    split copy therefore stores ts as a decoded TIMESTAMP, never a
    raw int64.

    Location: a per-process tempdir normally, but when
    spark.graft.streamStateDir is set the split copy materializes at a
    STABLE fingerprint-keyed path under it ({base}/_sources/...,
    committed by a _SPLIT_READY marker written after the mtime
    staggering). This matters for the restartable streaming entries: a
    checkpoint records source files by absolute path, so a resumed run
    in a NEW process must see the same paths — a fresh tempdir would
    make the checkpoint treat the whole input as unseen and replay it
    against end-of-stream state (wrong output for st21, wasted replay
    for st14/st20). The split dir (unlike the state dirs) requires a
    local filesystem — the mtime trick is POSIX-only — so when
    streamStateDir is a NON-local URI (hdfs://, s3a://) the split copy
    roots at a stable local tempdir keyed by the same fingerprint tag
    instead (state stays remote; the source replica is a test harness
    construct, not a production source)."""
    key = (os.path.abspath(sf_dir), table, n_files, where)
    cached = _SPLIT_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached

    base_conf = spark.conf.get(STREAM_STATE_DIR_CONF, None)
    if base_conf:
        import hashlib

        from ..sources.batch import source_fingerprint

        fp = source_fingerprint(
            os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
        )
        tag = hashlib.md5(
            f"{os.path.abspath(sf_dir)}|{fp}|{n_files}|{where}".encode()
        ).hexdigest()[:12]
        base_local = _local_path_of(base_conf)
        if base_local is None:
            # The STATE dirs ride the Hadoop FS API and work on any
            # scheme, but the split copy needs POSIX (glob + utime
            # mtime staggering) — root it at a stable LOCAL path keyed
            # by the same fingerprint tag instead of crashing inside
            # glob on a bogus local rendering of an s3a:// path. The
            # tag keys on (sf_dir, content fingerprint, n_files), so a
            # resumed run on the SAME machine still sees the same
            # absolute source paths the checkpoint recorded. Scoped
            # per-user (mode 0700): a world-shared tempdir name would
            # hand a second user's run permission failures — or worse,
            # another user's _SPLIT_READY replica (ADVICE r9).
            import getpass
            import stat as _stat

            try:
                user = getpass.getuser()
            except Exception:
                user = f"uid{os.getuid()}"
            base_local = os.path.join(
                tempfile.gettempdir(), f"spark_graft_split_sources_{user}"
            )
            os.makedirs(base_local, mode=0o700, exist_ok=True)
            # the name is predictable, so a pre-existing dir could be a
            # squatter's (makedirs(exist_ok=True) adopts it silently and
            # applies the 0700 mode only on creation) — trust it ONLY if
            # we own it and nobody else can write it; otherwise fail
            # loudly rather than stream a foreign _SPLIT_READY replica
            st = os.stat(base_local)
            if st.st_uid != os.getuid() or (
                st.st_mode & (_stat.S_IWGRP | _stat.S_IWOTH)
            ):
                raise RuntimeError(
                    f"refusing split-source fallback dir {base_local}: "
                    "not owned by this uid or writable by others "
                    "(tempdir squatting) — set spark.graft.streamStateDir "
                    "to a local path instead"
                )
        out = os.path.join(base_local, "_sources", f"{table}-{tag}")
        if os.path.isfile(os.path.join(out, "_SPLIT_READY")):
            _SPLIT_CACHE[key] = out
            return out
        os.makedirs(out, exist_ok=True)
    else:
        out = tempfile.mkdtemp(prefix=f"stream_src_{table}_")
    if table == "events":
        from ..sources.batch import load_table

        # NTZ -> LTZ via to_timestamp: interprets the wall clock in the
        # session timezone, and every later read-back/cast in the same
        # session round-trips to the identical wall clock.
        raw = load_table(spark, sf_dir, "events").withColumn(
            "ts", F.to_timestamp(F.col("ts"))
        )
    else:
        raw = spark.read.schema(read_schema).parquet(
            os.path.join(sf_dir, f"{table}.parquet")
        )
    if where:
        # pre-filtered replica (e.g. st25 streams only the query-token
        # pool): the filter keys the cache/tag, so differently-filtered
        # replicas of one table never collide
        raw = raw.filter(where)
    (
        raw.repartitionByRange(n_files, F.col(sort_col))
        .write.mode("overwrite")
        .parquet(out)
    )

    parts = sorted(_glob.glob(os.path.join(out, "part-*.parquet")))
    base = os.stat(parts[0]).st_mtime
    for i, p in enumerate(parts):
        # 10 s apart: distinct at any FS/Hadoop listing granularity
        os.utime(p, (base + 10 * i, base + 10 * i))
    if base_conf:
        # commit marker LAST: a crash mid-materialization leaves no
        # marker, and the next run rewrites the dir (mode overwrite)
        open(os.path.join(out, "_SPLIT_READY"), "w").close()
    _SPLIT_CACHE[key] = out
    return out


def stream_events(
    spark: SparkSession, sf_dir: str, multi_batch: bool = True
) -> DataFrame:
    """events.parquet as an unbounded file-stream source, replayed as
    N_STREAM_FILES time-ordered micro-batches (see _split_source_dir);
    multi_batch=False replays the same normalized copy as one batch.

    The event-time column must be TIMESTAMP (watermarks reject NTZ);
    the split copy already stores ts decoded to TIMESTAMP, so the
    stream read needs no legacy-parquet conf and no arithmetic."""
    src = _split_source_dir(
        spark,
        sf_dir,
        "events",
        "ts",
        n_files=N_STREAM_FILES if multi_batch else 1,
    )
    return (
        spark.readStream.schema(_EVENTS_STREAM)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


_EMB_STREAM = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", IntegerType()),
    ]
)


def stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings.parquet as a file-stream source, replayed as
    N_STREAM_FILES vec_id-ordered micro-batches — the continuous
    embedding feed the reference's pipeline produces upstream of its
    vector sink."""
    src = _split_source_dir(spark, sf_dir, "embeddings", "vec_id", _EMB_STREAM)
    return (
        spark.readStream.schema(_EMB_STREAM)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _single_file_glob(sf_dir: str, filename: str) -> str:
    """Glob matching exactly one file. The file-stream source force-sets
    basePath to the path itself when the path is NOT a glob — a file base
    is then rejected with 'basePath must be a directory' — but leaves the
    caller's basePath option alone for glob paths, so wrap the last char
    in [] to make the path a (singleton) glob."""
    return os.path.join(sf_dir, f"{filename[:-1]}[{filename[-1]}]")


def stream_documents(
    spark: SparkSession, sf_dir: str, multi_batch: bool = True
) -> DataFrame:
    """documents.parquet as a file-stream source; multi_batch replays it
    as N_STREAM_FILES doc_id-ordered micro-batches."""
    if multi_batch:
        src = _split_source_dir(spark, sf_dir, "documents", "doc_id", _DOCS_RAW)
        return (
            spark.readStream.schema(_DOCS_RAW)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
    return (
        spark.readStream.schema(_DOCS_RAW)
        .option("basePath", sf_dir)
        .parquet(_single_file_glob(sf_dir, "documents.parquet"))
    )


# name -> number of micro-batches the last run_to_memory call for that
# name actually executed (tests pin >= N_STREAM_FILES for split sources).
LAST_RUN_BATCHES: dict[str, int] = {}

# Session conf: when set to a directory (any Hadoop-FS URI), the
# stateful streaming entries (st14/st14b/st20) root their work dirs —
# checkpoint, accumulated state, results, and st14b's verified-pairs
# review queue — under it at a stable, input-fingerprint-keyed path
# instead of a fresh tempdir per run. With a stable root, a re-run
# resumes the checkpoint (already-processed input adds zero batches)
# and a pipeline owner can actually CONSUME the verified queue across
# runs — the same restartable posture as the batch seam's
# spark.graft.intermediateDir.
STREAM_STATE_DIR_CONF = "spark.graft.streamStateDir"


def _stream_work_root(
    spark: SparkSession, sf_dir: str, name: str, table: str = "documents"
) -> str:
    base = spark.conf.get(STREAM_STATE_DIR_CONF, None)
    if not base:
        return tempfile.mkdtemp(prefix=f"{name}_")
    import hashlib

    from ..sources.batch import source_fingerprint

    # same staleness key as the seam, fingerprinting the table the
    # entry actually streams: a regenerated sf_dir (same path, new
    # data) must get a fresh root, never resume stale state
    fp = source_fingerprint(
        os.path.join(os.path.abspath(sf_dir), f"{table}.parquet")
    )
    tag = hashlib.md5(f"{os.path.abspath(sf_dir)}|{fp}".encode()).hexdigest()[:12]
    return f"{base.rstrip('/')}/{name}-{tag}"

# name -> (append_dir, compacted_dir) of the last index-maintenance run
# (tests pin partition pruning and the append->compact file contract).
LAST_INDEX_DIRS: dict[str, tuple[str, str]] = {}

# name -> results dir of the last foreachBatch serving run (tests pin
# that answers actually span multiple trigger dirs).
LAST_RESULT_DIRS: dict[str, str] = {}


from contextlib import contextmanager


_STATE_PARTITIONS_CONF = "spark.graft.statePartitions"


def default_state_partitions(spark: SparkSession) -> int:
    """The per-run state/batch shuffle-partition count for the
    streaming family — a DEPLOYMENT knob (spark.graft.statePartitions),
    never a constant tuned to one box. Default 4 at fixture scale,
    measured r15 (guide §2.2 fewer-larger partitions + §5: per-store
    fixed costs dominate tiny state): every stateful operator opens and
    commits one state store PER PARTITION per trigger — a stream-stream
    join keeps FOUR stores per partition — so 8 partitions meant up to
    32 concurrent store commits per trigger over a few thousand state
    rows. Halving to 4 collapsed st13's summed per-trigger commit time
    22.8 s -> 0.86 s (26x — the commit storms contended, they did not
    parallelize) and the family's post-warm medians: st13 21.6 -> 5.0 s,
    st16 8.8 -> 5.3 s, st17 2.8 -> 2.0 s, st23 6.7 -> 4.9 s, st26 flat
    (same-session warm+3 medians, RocksDB A/B'd too — it beat HDFS at
    8 partitions but lost to HDFS at <= 4, so the provider stays).
    At 100 TB state volume the same conf goes UP (hundreds+): size it
    to state rows per partition, not to this fixture."""
    v = spark.conf.get(_STATE_PARTITIONS_CONF, None)
    return int(v) if v else 4


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Temporarily size spark.sql.shuffle.partitions for a streaming
    run. A streaming query's state-store task count is taken from this
    conf at its first execution and every stateful operator schedules
    that many tasks PER MICRO-BATCH — so it must be sized to state
    volume, not inherited from the batch shuffle default (32 here).
    At sf0.1 the stream-stream joins carry a few thousand state rows:
    32 state tasks per trigger is pure scheduling overhead; with 8,
    st13 measures 2.4x faster (10.85 s -> 4.44 s) with identical
    results. At 100 TB the
    same knob goes UP (hundreds/thousands), for the same reason —
    state partitioning is a deployment decision per query, which is
    why this is set around each streaming run rather than globally.
    Each catalog entry uses a fresh checkpoint, so re-sizing never
    collides with a prior run's state layout.

    NOT re-entrant / not concurrency-safe: this mutates the
    session-global spark.sql.shuffle.partitions for the duration of the
    block, so any OTHER query started concurrently in the same session
    inside the window silently inherits n, and two overlapping uses
    restore the wrong previous value. Fine for the sequential
    test/driver harness this repo runs; a deployment running concurrent
    queries should set the conf per-query on a cloned session
    (spark.newSession()) instead."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_to_memory(
    df: DataFrame,
    name: str,
    output_mode: str,
    n_state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink and return the sink contents as a batch DataFrame.

    Runs under state_partitions(n or the spark.graft.statePartitions
    deployment default — see default_state_partitions for the measured
    sizing): at catalog test scale every stateful operator's state fits
    in a handful of partitions, and inheriting the batch shuffle
    default (32) just multiplies per-trigger task scheduling (measured
    2.4x on st13 at 32 -> 8 in r-early rounds, another 4x at 8 -> 4 in
    r15 — the per-partition store commits dominate, not the rows).
    State partitioning never changes results — only task counts."""
    if n_state_partitions is None:
        n_state_partitions = default_state_partitions(df.sparkSession)
    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.mkdtemp(prefix="ssq_ckpt_"), sink)
    with state_partitions(df.sparkSession, n_state_partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    LAST_RUN_BATCHES[name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return df.sparkSession.table(sink)


@query(
    "st01_stream_tumbling_complete",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS sum_value
FROM events GROUP BY 1, 2
""",
    tags=("streaming", "window-time"),
)
def st01_stream_tumbling_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation, complete output mode: the
    memory sink holds every window, so the oracle is the batch
    aggregation verbatim."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            # NTZ output: the collected wall clock is session-timezone
            # independent and matches the oracle's naive timestamps
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return run_to_memory(agg, "st01", "complete")


@query(
    "st02_stream_watermark_append",
    oracle="""
WITH mx AS (SELECT MAX(ts) AS max_ts FROM events)
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       COUNT(*) AS n
FROM events GROUP BY 1
HAVING window_start + INTERVAL '1 hour'
       <= (SELECT max_ts FROM mx) - INTERVAL '10 minutes'
""",
    tags=("streaming", "watermark", "late-data"),
)
def st02_stream_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode windowed count under a 10-minute watermark: only
    windows wholly below the final watermark (max event time - 10 min)
    are emitted; the trailing open window correctly stays in state. The
    oracle replays exactly that frontier."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"), "n"
        )
    )
    return run_to_memory(agg, "st02", "append")


@query(
    "st03_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def st03_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dropDuplicates on (user_id, event_type): state
    keyed by the pair, first arrival wins, appended once. The checked
    output is the surviving key set (arrival order varies with partition
    scheduling, so survivors' other columns are not part of the
    contract)."""
    ev = stream_events(spark, sf_dir)
    dedup = ev.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_memory(dedup, "st03", "append")


@query(
    "st04_stream_filter_project",
    oracle="""
SELECT event_id, user_id, ROUND(value * 2, 6) AS value2
FROM events WHERE event_type = 'purchase' AND value > 50
""",
    tags=("streaming", "filter", "projection"),
)
def st04_stream_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless streaming filter + projection (the reference's F1/M2
    stages, DataStreamJob.java:144-146, as a micro-batched stream)."""
    ev = stream_events(spark, sf_dir)
    out = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("value") > 50))
        .select("event_id", "user_id", F.round(F.col("value") * 2, 6).alias("value2"))
    )
    return run_to_memory(out, "st04", "append")


@query(
    "st07_stream_stream_join",
    oracle="""
SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts - INTERVAL '10 minutes' AND c.ts <= e.ts
""",
    tags=("streaming", "join", "interval-join"),
)
def st07_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner interval join with watermarks on both sides:
    clicks within the 10 minutes before each error by the same user.
    Inner matches append as both sides arrive (emission never waits on
    the watermark — the watermark only bounds join state), so the full
    replay emits exactly the batch join's pairs, which is what the
    oracle checks. State is keyed by user_id across executors; the time
    bound lets expired rows be evicted."""
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 minute")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
    ).select("err_id", "click_id", "user_id")
    return run_to_memory(joined, "st07", "append")


@query(
    "st13_stream_outer_interval_join",
    oracle="""
WITH wm AS (
  SELECT LEAST((SELECT MAX(ts) FROM events WHERE event_type = 'error'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'))
         - INTERVAL '1 minute' AS w
),
matched AS (
  SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
  FROM (SELECT * FROM events WHERE event_type = 'error') e
  JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON c.user_id = e.user_id
   AND c.ts >= e.ts - INTERVAL '10 minutes' AND c.ts <= e.ts
),
outer_nulls AS (
  SELECT e.event_id AS err_id, CAST(NULL AS BIGINT) AS click_id, e.user_id
  FROM (SELECT * FROM events WHERE event_type = 'error') e, wm
  WHERE e.ts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM events c
      WHERE c.event_type = 'click' AND c.user_id = e.user_id
        AND c.ts >= e.ts - INTERVAL '10 minutes' AND c.ts <= e.ts)
)
SELECT * FROM matched UNION ALL SELECT * FROM outer_nulls
""",
    tags=("streaming", "join", "interval-join", "outer", "watermark"),
    bench=True,
)
def st13_stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: st07's inner pairs PLUS a
    null-padded row for every error with no click in its 10-minute
    lookback — but only once the watermark proves no match can still
    arrive. Emission semantics pinned empirically (and by a boundary
    fixture in tests/test_streaming_semantics.py): the null row emits
    when err_ts < global watermark, where the global watermark is the
    MIN across both sides of (max observed event time - 1 minute
    delay), STRICT inequality — a row exactly at the watermark stays in
    state. Matched pairs emit promptly as both sides arrive; the
    watermark only bounds state and gates the outer nulls. The oracle
    replays exactly that frontier."""
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 minute")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "left_outer",
    ).select("err_id", "click_id", "user_id")
    return run_to_memory(joined, "st13", "append")


def run_incremental_dedup(
    spark: SparkSession,
    arrivals: DataFrame,
    corpus_fps: DataFrame,
    corpus_bands: DataFrame,
    work_root: str,
    corpus_shingles: DataFrame | None = None,
    verify_tau: float = 0.5,
    fp_state_mode: str = "auto",
    fp_compact_every: int = 8,
    delta_table_factory=None,
    delta_create_format: str = "delta",
    run_name: str = "st14",
) -> DataFrame:
    """Streaming incremental dedup: new arrivals deduped against the
    ACCUMULATED corpus — the continuous-pipeline pattern the reference's
    forever-running job implies (KDS-P/.../msf/DataStreamJob.java:133-177)
    and that the batch dedup surface (d01-d19) cannot express.

    Per micro-batch (foreachBatch — each batch is a bounded DataFrame,
    so aggregation/join restrictions on chained stateful streaming
    operators don't apply, and ALL state lives in restartable storage
    rather than executor memory):

    1. exact dedup vs the accumulated fingerprint table (left ANTI join
       — at this scale broadcast, at 100 TB a shuffled anti-join or a
       Delta MERGE against the corpus table);
    2. exact dedup WITHIN the batch (min-doc_id survivor per
       fingerprint, a combinable struct-min aggregate);
    3. near-dup candidate count vs the INITIAL corpus: the batch's
       MinHash signatures (signatures_from_docs — the same expression
       tree as the batch corpus path, so signatures are bit-identical)
       banded and equi-joined against the corpus band table from the
       intermediate seam;
    4. survivors land in the results table, their fingerprints in the
       fingerprint table — so batch k+1 dedups against every batch <= k
       even across a process restart (the fingerprint table is
       parquet/Delta, the stream position is the checkpoint). All three
       output tables (results, verified, parquet-mode fingerprints) are
       written per batch into a batch-keyed subdirectory with
       mode('overwrite'), so a REPLAYED micro-batch rewrites its own
       rows instead of double-appending them — replay converges in
       every mode, not just Delta. The fingerprint state is keyed by
       the batch that added it (parquet: subdir ``b{id}``; delta: a
       ``last_batch`` column), and each batch READS the state excluding
       its own batch id — so even the worst crash window (fingerprints
       committed, stream checkpoint not) replays to the identical
       survivor set instead of seeing its own fingerprints and
       overwriting its outputs with nothing. The exclusion is exact:
       a fingerprint merged at batch k was by construction not in state
       before k, so excluding batch k's rows reconstructs precisely the
       pre-batch state. Directory probes go through the Hadoop
       FileSystem API (streaming.statefs), so work_root may be a local
       path or an object-store URI.

    The contract is batch-boundary independent: because the split
    source replays arrivals in doc_id order, the surviving set is
    exactly {min doc_id per fingerprint not in the corpus}, and the
    near-dup count is vs the initial corpus only (counting vs earlier
    ARRIVALS would depend on where micro-batch boundaries fall, which
    no engine-portable oracle can replay).

    With ``corpus_shingles`` (a (doc_id, grams) DISTINCT-trigram table
    for the corpus, e.g. the seam's _shingled_df), each batch also
    VERIFIES its candidates — the d10 two-stage design applied
    stream-side: candidate (arrival, corpus) pairs from the band join
    get exact trigram Jaccard (arrival side shingled in-batch with the
    same _trigrams expression, corpus side joined by id from the seam
    table), and pairs >= verify_tau land in ``{work_root}/verified`` as
    (doc_id, corpus_doc_id, jaccard) — the reviewed-and-confirmed
    near-dup queue, not just a count. The verify join cost is
    proportional to candidates per batch, never corpus x batch.

    Fingerprint-state storage (``fp_state_mode``): 'parquet' writes a
    batch-keyed subdir per batch, and every ``fp_compact_every``
    batches folds the accumulated b-dirs into a marker-committed
    ``seed_v{boundary}`` version (the statefs protocol applied to the
    engine's own state), so the per-trigger listing stays bounded at
    any stream length — amortized rewrite cost is O(state/N) per batch
    (0 disables folding). 'delta' keeps the state in a
    Delta table maintained by keyed MERGE (sinks.delta_upsert_writer,
    key = fp): listing rides the transaction log instead of the
    filesystem, the table stays exactly-distinct, and a replayed
    micro-batch converges instead of double-appending its fingerprints.
    'auto' (default) picks delta when delta-spark is importable, else
    parquet. ``delta_table_factory`` / ``delta_create_format`` are the
    same injection points as delta_upsert_writer's, so the MERGE path
    is testable without the jar (tests/test_streaming_semantics.py)."""
    from ..streaming import statefs

    root = work_root.rstrip("/")
    fps_dir = f"{root}/fps"
    results_dir = f"{root}/results"
    verified_dir = f"{root}/verified"
    ckpt = os.path.join(work_root, "ckpt")
    # pre-create outputs so a zero-batch stream (or a verify stage that
    # never fires) still yields an empty read, not PATH_NOT_FOUND
    statefs.mkdirs(spark, results_dir)
    if corpus_shingles is not None:
        statefs.mkdirs(spark, verified_dir)

    if fp_state_mode == "auto":
        import importlib.util as _ilu

        # the Python package alone is not capability: the session must
        # also carry the Delta JVM extension/catalog (a pip-installed
        # delta-spark with an unconfigured session would crash at the
        # first write with DATA_SOURCE_NOT_FOUND)
        exts = spark.conf.get("spark.sql.extensions", "") or ""
        fp_state_mode = (
            "delta"
            if _ilu.find_spec("delta") and "DeltaSparkSessionExtension" in exts
            else "parquet"
        )
    if fp_state_mode == "delta":
        from ..streaming.sinks import _default_delta_factory, delta_upsert_writer

        factory = delta_table_factory or _default_delta_factory
        fp_merge = delta_upsert_writer(
            fps_dir,
            keys=("fp",),
            table_factory=factory,
            create_format=delta_create_format,
        )

        def read_fps(sp: SparkSession, batch_id: int) -> DataFrame:
            # exclude the in-flight batch's own (possibly crash-orphaned)
            # contribution — exact, because a fp tagged last_batch=k was
            # not in state before batch k (else it wouldn't have merged)
            return (
                sp.read.format(delta_create_format)
                .load(fps_dir)
                .filter(F.col("last_batch") != batch_id)
                .select("fp")
            )

        def append_fps(df: DataFrame, batch_id: int) -> None:
            fp_merge(df.withColumn("last_batch", F.lit(batch_id)), batch_id)

        if factory(spark, fps_dir) is None:
            # first run: seed the accumulated-state table with the corpus
            fp_merge(corpus_fps.withColumn("last_batch", F.lit(-1)), -1)
    elif fp_state_mode == "parquet":
        # batch-keyed subdirs: seed once, then one overwrite-committed
        # subdir per batch — a replayed batch rewrites b{id} instead of
        # appending a second copy of its fingerprints. Unbounded, the
        # per-trigger listing would grow one b{id} dir per batch
        # forever (r8 verdict #4); every fp_compact_every batches the
        # b-dirs FOLD into a marker-committed seed version
        # (seed_v{boundary}, the VersionedState protocol applied to the
        # engine's own state), so live entries stay <= compact window +
        # one seed at any stream length. Only b-dirs STRICTLY OLDER
        # than the in-flight batch fold: foreachBatch replays at most
        # the last uncommitted batch, and batch k starting proves every
        # id < k checkpoint-committed — so the replay-exclusion
        # invariant (read state minus own subdir == exact pre-batch
        # state) survives compaction.
        #
        # r9 verdict #2 (the st14b watch row): the first cut re-LISTED
        # the state dirs twice per read and twice per append, and
        # re-planned + re-scanned the multi-dir parquet read every
        # trigger — a fixed per-trigger cost that dominated the 3-batch
        # test profile. Now ONE listing pass feeds a driver-side run
        # cache, and the accumulated state rides a PERSISTED DataFrame
        # that each batch extends with its own (tiny) b-dir read: the
        # warm path does zero filesystem listings and never re-reads
        # committed state from parquet. The cache is a pure
        # optimization: any miss (fresh process, replay, id gap) falls
        # back to the full listing scan, and the parquet dirs remain
        # the single durable source of truth. After a fold the cache is
        # REBUILT from the folded layout so cached lineage never points
        # at pruned directories (an executor re-materializing a lost
        # block must only ever touch live dirs).
        from pyspark import StorageLevel

        # df = persisted pre-batch state for batch `next`; prev = its
        # still-persisted parent (unpersisted one generation later, so
        # the lazy union never recomputes from disk and no extra
        # materialization job runs per batch); seed = (committed
        # version | None, legacy-seed flag); b_ids = live unfolded
        # batch dirs the cache already contains
        run_state: dict = {
            "df": None, "prev": None, "next": None, "seed": None, "b_ids": []
        }

        def _scan_state(sp: SparkSession) -> tuple[int | None, bool, list[int]]:
            """ONE listing pass over the state root: (newest committed
            seed version, legacy-uncompacted-seed flag, b-ids newer
            than the seed)."""
            versions: list[int] = []
            b_ids: list[int] = []
            legacy = False
            for n in statefs.listdir(sp, fps_dir):
                if n.startswith("seed_v"):
                    try:
                        versions.append(int(n[len("seed_v"):]))
                    except ValueError:
                        continue
                elif n == "seed":
                    legacy = statefs.exists(sp, f"{fps_dir}/seed/_SUCCESS")
                elif n.startswith("b"):
                    try:
                        b_ids.append(int(n[1:]))
                    except ValueError:
                        continue
            best: int | None = None
            for v in sorted(versions, reverse=True):
                if statefs.exists(sp, f"{fps_dir}/seed_v{v}/_COMMIT"):
                    best = v
                    break
            return best, legacy, sorted(
                i for i in b_ids if best is None or i > best
            )

        def _dirs_of(
            best: int | None, legacy: bool, b_ids: list[int]
        ) -> list[str]:
            dirs = [f"{fps_dir}/b{i}" for i in b_ids]
            if best is not None:
                dirs.append(f"{fps_dir}/seed_v{best}")
            elif legacy:
                dirs.append(f"{fps_dir}/seed")
            return dirs

        def _read_dirs(sp: SparkSession, dirs: list[str]) -> DataFrame:
            return (
                sp.read.schema("fp string")
                .option("recursiveFileLookup", "true")
                .parquet(*dirs)
            )

        def _drop_cache() -> None:
            for k in ("df", "prev"):
                if run_state[k] is not None:
                    run_state[k].unpersist(blocking=False)
            run_state.update(
                df=None, prev=None, next=None, seed=None, b_ids=[]
            )

        def read_fps(sp: SparkSession, batch_id: int) -> DataFrame:
            if run_state["df"] is not None and run_state["next"] == batch_id:
                return run_state["df"]
            # cold path (first batch of this process, or a replay):
            # exclude the in-flight batch's own (possibly crash-
            # orphaned) subdir so the read reconstructs the exact
            # pre-batch state
            _drop_cache()
            best, legacy, b_ids = _scan_state(sp)
            live = [i for i in b_ids if i != batch_id]
            df = _read_dirs(sp, _dirs_of(best, legacy, live)).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            run_state.update(
                df=df, next=batch_id, seed=(best, legacy), b_ids=live
            )
            return df

        def append_fps(df: DataFrame, batch_id: int) -> None:
            sp = df.sparkSession
            df.write.mode("overwrite").parquet(f"{fps_dir}/b{batch_id}")
            warm = (
                run_state["df"] is not None
                and run_state["next"] == batch_id
            )
            if not warm:
                # read_fps always runs first in process(), so this only
                # happens if a caller appends without reading — fall
                # back to durable truth and let the next read re-scan
                _drop_cache()
                if fp_compact_every and fp_compact_every > 0:
                    best, legacy, b_ids = _scan_state(sp)
                    fold = [i for i in b_ids if i < batch_id]
                    if len(fold) >= fp_compact_every:
                        _fold(
                            sp,
                            _read_dirs(sp, _dirs_of(best, legacy, fold)),
                            max(fold),
                        )
                return
            pre_df, (best, legacy) = run_state["df"], run_state["seed"]
            fold = [i for i in run_state["b_ids"] if i < batch_id]
            if fp_compact_every and 0 < fp_compact_every <= len(fold):
                # pre_df IS seed + every b-dir < batch_id (the exact
                # fold source) — fold from the cache, no re-read
                boundary = max(fold)
                _fold(sp, pre_df, boundary)
                # rebuild the cache on the folded layout so no cached
                # lineage references the just-pruned directories; the
                # eager count is fine here — folds are 1-in-N batches
                new_df = _read_dirs(
                    sp, _dirs_of(boundary, False, [batch_id])
                ).persist(StorageLevel.MEMORY_AND_DISK)
                new_df.count()
                for k in ("df", "prev"):
                    if run_state[k] is not None:
                        run_state[k].unpersist(blocking=False)
                run_state.update(
                    df=new_df,
                    prev=None,
                    next=batch_id + 1,
                    seed=(boundary, False),
                    b_ids=[batch_id],
                )
            else:
                new_df = pre_df.union(
                    sp.read.schema("fp string").parquet(
                        f"{fps_dir}/b{batch_id}"
                    )
                ).persist(StorageLevel.MEMORY_AND_DISK)
                # no eager materialization: new_df first materializes
                # inside the NEXT batch's anti-join (no extra job), and
                # pre_df stays persisted until the generation after —
                # the lazy union always reads a cached parent, and at
                # most three state snapshots coexist
                if run_state["prev"] is not None:
                    run_state["prev"].unpersist(blocking=False)
                run_state.update(
                    df=new_df, prev=pre_df, next=batch_id + 1
                )
                run_state["b_ids"] = run_state["b_ids"] + [batch_id]

        def _fold(sp: SparkSession, src: DataFrame, boundary: int) -> None:
            vdir = f"{fps_dir}/seed_v{boundary}"
            src.distinct().write.mode("overwrite").parquet(vdir)
            statefs.touch(sp, f"{vdir}/{statefs._COMMIT}")
            # prune AFTER the commit marker: a crash anywhere before
            # this point leaves the old seed + b-dirs authoritative (the
            # uncommitted version is invisible); a crash mid-prune
            # leaves folded dirs that the read path already ignores
            # (bid <= committed boundary) and the next fold sweeps
            for n in statefs.listdir(sp, fps_dir):
                if n == f"seed_v{boundary}":
                    continue
                if n == "seed" or n.startswith("seed_v"):
                    statefs.delete(sp, f"{fps_dir}/{n}")
                elif n.startswith("b"):
                    try:
                        bid = int(n[1:])
                    except ValueError:
                        continue
                    if bid <= boundary:
                        statefs.delete(sp, f"{fps_dir}/{n}")

        _boot_best, _boot_legacy, _ = _scan_state(spark)
        if _boot_best is None and not _boot_legacy:
            # first run: seed the accumulated-state table with the corpus
            corpus_fps.write.mode("overwrite").parquet(f"{fps_dir}/seed")
    else:
        raise ValueError(f"unknown fp_state_mode {fp_state_mode!r}")

    cb = corpus_bands.select(
        "band_idx", "band_key", F.col("doc_id").alias("corpus_doc_id")
    )
    csh = (
        corpus_shingles.select(
            F.col("doc_id").alias("corpus_doc_id"),
            F.col("grams").alias("b_grams"),
        )
        if corpus_shingles is not None
        else None
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        from .llmops import _lsh_bands_df, _trigrams, normalized_text, signatures_from_docs
        from ..functions.text import doc_fingerprint

        sp = batch.sparkSession
        known = read_fps(sp, batch_id)
        # NOT spread_compute'd (measured r14): the per-row md5 here is
        # cheap and the expensive shingle explode below runs AFTER the
        # groupBy(fp) exchange already spreads surv — an extra
        # repartition of the batch costs more than it parallelizes
        # (A/B medians 7.06 s -> 8.20 s with the spread)
        arr = batch.withColumn("fp", doc_fingerprint(F.col("text")))
        fresh = arr.join(known, "fp", "left_anti")
        surv = (
            fresh.groupBy("fp")
            .agg(F.min(F.struct(F.col("doc_id"), F.col("text"))).alias("s"))
            .select("fp", F.col("s.doc_id").alias("doc_id"), F.col("s.text").alias("text"))
            .persist()
        )
        bands = _lsh_bands_df(signatures_from_docs(surv.select("doc_id", "text")))
        pairs = (
            bands.join(cb, ["band_idx", "band_key"])
            .select("doc_id", "corpus_doc_id")
            .distinct()
        )
        if csh is not None:
            pairs = pairs.persist()
        cand = pairs.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_corpus_candidates")
        )
        out = (
            surv.select("doc_id")
            .join(cand, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_corpus_candidates", F.lit(0))
                .cast("long")
                .alias("n_corpus_candidates"),
            )
        )
        out.write.mode("overwrite").parquet(f"{results_dir}/b{batch_id}")
        if csh is not None:
            a = surv.select(
                "doc_id",
                _trigrams(
                    F.split(normalized_text(F.col("text")), r"\s+")
                ).alias("a_grams"),
            )
            inter = F.size(F.array_intersect("a_grams", "b_grams"))
            union = F.size(F.array_union("a_grams", "b_grams"))
            jacc = F.round(
                F.when(union == 0, F.lit(0.0)).otherwise(
                    inter.cast("double") / union
                ),
                6,
            )
            (
                pairs.join(a, "doc_id")
                .join(csh, "corpus_doc_id")
                .select("doc_id", "corpus_doc_id", jacc.alias("jaccard"))
                .filter(F.col("jaccard") >= verify_tau)
                .write.mode("overwrite")
                .parquet(f"{verified_dir}/b{batch_id}")
            )
            pairs.unpersist()
        append_fps(surv.select("fp"), batch_id)
        surv.unpersist()

    # AQE re-plans every stage of every micro-batch — pure fixed
    # latency here, where the per-batch shuffles are already sized by
    # the state_partitions contract and each batch is delta-sized (the
    # r10 quiet profile: AQE off cut st14 ~25% with identical results).
    # Deployments feeding corpus-sized batches can keep AQE with
    # spark.graft.batchAqe=true; the prior session value is restored
    # either way.
    prior_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    keep_aqe = (
        (spark.conf.get("spark.graft.batchAqe", "false") or "false").lower()
        == "true"
    )
    if not keep_aqe:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        q = (
            arrivals.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prior_aqe)
        if fp_state_mode == "parquet":
            # release the run's warm state cache on EVERY exit path —
            # a failed stream in a long-lived catalog/bench session
            # must not leave corpus-sized persisted blocks pinned
            _drop_cache()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return (
        spark.read.schema("doc_id long, n_corpus_candidates long")
        .option("recursiveFileLookup", "true")
        .parquet(results_dir)
    )


@query(
    "st14_stream_incremental_dedup",
    oracle="""
WITH corpus_fp AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 != 0
),
arrivals AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 = 0
),
fresh AS (
  SELECT a.* FROM arrivals a
  WHERE NOT EXISTS (SELECT 1 FROM corpus_fp c WHERE c.fp = a.fp)
),
surv AS (SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp),
shingled AS (
  SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
       ELSE list_transform(generate_series(1, len(toks)-2),
              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END AS grams
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS toks
        FROM documents)
), sigs AS (
  SELECT doc_id,
    list_transform(generate_series(0, 15),
      s -> list_min(list_transform(
             list_transform(grams, g -> {'h1': CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT),
                                          'h2': CAST(concat('0x', substr(md5(g), 9, 7)) AS BIGINT)}),
             h -> (h.h1 + s * h.h2) % 268435399))) AS sig
  FROM shingled WHERE len(grams) > 0
), bands AS (
  SELECT doc_id, b.band_idx,
         concat_ws(',', sig[b.band_idx*4+1], sig[b.band_idx*4+2],
                        sig[b.band_idx*4+3], sig[b.band_idx*4+4]) AS band_key
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band_idx) b
),
cand AS (
  SELECT sb.doc_id, COUNT(DISTINCT cb.doc_id) AS n
  FROM bands sb
  JOIN bands cb ON cb.band_idx = sb.band_idx AND cb.band_key = sb.band_key
               AND cb.doc_id % 3 != 0
  WHERE sb.doc_id IN (SELECT doc_id FROM surv)
  GROUP BY 1
)
SELECT s.doc_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_corpus_candidates
FROM surv s LEFT JOIN cand c ON c.doc_id = s.doc_id
""",
    tags=("streaming", "dedup", "incremental", "lsh"),
    bench=True,
)
def st14_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup against an accumulated corpus (see
    run_incremental_dedup). The accumulated corpus is the documents with
    doc_id % 3 != 0; arrivals are the rest, replayed as N_STREAM_FILES
    doc_id-ordered micro-batches. Output: one row per ACCEPTED arrival
    (not an exact duplicate of the corpus or of any earlier arrival)
    with the count of distinct corpus documents sharing at least one
    LSH band — the near-dup review queue. The corpus band table rides
    the intermediate seam (restartable parquet mode included), so the
    streaming job and sibling batch jobs share one corpus scan."""
    from .llmops import _lsh_bands_df, _minhash_signatures_df
    from ..functions.text import doc_fingerprint
    from ..sources.batch import load_table

    is_corpus = F.col("doc_id") % 3 != 0
    corpus_fps = (
        load_table(spark, sf_dir, "documents")
        .filter(is_corpus)
        .select(doc_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    corpus_bands = _lsh_bands_df(_minhash_signatures_df(spark, sf_dir)).filter(
        is_corpus
    )
    arrivals = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id", "text")
    work_root = _stream_work_root(spark, sf_dir, "st14")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_incremental_dedup(
            spark, arrivals, corpus_fps, corpus_bands, work_root
        )


@query(
    "st14b_stream_verified_neardups",
    oracle="""
WITH corpus_fp AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 != 0
),
arrivals AS (
  SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 3 = 0
),
fresh AS (
  SELECT a.* FROM arrivals a
  WHERE NOT EXISTS (SELECT 1 FROM corpus_fp c WHERE c.fp = a.fp)
),
surv AS (SELECT fp, MIN(doc_id) AS doc_id FROM fresh GROUP BY fp),
shingled AS (
  SELECT doc_id, CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
       ELSE list_transform(generate_series(1, len(toks)-2),
              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END AS grams
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+') AS toks
        FROM documents)
), sigs AS (
  SELECT doc_id,
    list_transform(generate_series(0, 15),
      s -> list_min(list_transform(
             list_transform(grams, g -> {'h1': CAST(concat('0x', substr(md5(g), 1, 7)) AS BIGINT),
                                          'h2': CAST(concat('0x', substr(md5(g), 9, 7)) AS BIGINT)}),
             h -> (h.h1 + s * h.h2) % 268435399))) AS sig
  FROM shingled WHERE len(grams) > 0
), bands AS (
  SELECT doc_id, b.band_idx,
         concat_ws(',', sig[b.band_idx*4+1], sig[b.band_idx*4+2],
                        sig[b.band_idx*4+3], sig[b.band_idx*4+4]) AS band_key
  FROM sigs, (SELECT unnest(generate_series(0, 3)) AS band_idx) b
),
pairs AS (
  SELECT DISTINCT sb.doc_id, cb.doc_id AS corpus_doc_id
  FROM bands sb
  JOIN bands cb ON cb.band_idx = sb.band_idx AND cb.band_key = sb.band_key
               AND cb.doc_id % 3 != 0
  WHERE sb.doc_id IN (SELECT doc_id FROM surv)
),
vsh AS (
  SELECT doc_id, list_distinct(grams) AS grams FROM shingled
)
SELECT doc_id, corpus_doc_id, jaccard FROM (
  SELECT p.doc_id, p.corpus_doc_id,
    ROUND(CASE WHEN len(list_distinct(list_concat(a.grams, b.grams))) = 0 THEN 0.0
          ELSE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / len(list_distinct(list_concat(a.grams, b.grams))) END, 6) AS jaccard
  FROM pairs p
  JOIN vsh a ON a.doc_id = p.doc_id
  JOIN vsh b ON b.doc_id = p.corpus_doc_id
) WHERE jaccard >= 0.5
""",
    tags=("streaming", "dedup", "incremental", "lsh", "similarity"),
    bench=True,
)
def st14b_stream_verified_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming VERIFIED near-dups — st14's candidate queue upgraded to
    the reviewed-and-confirmed queue a production pipeline actually
    consumes: per micro-batch, every (surviving arrival, corpus)
    candidate pair from the LSH band join is scored with exact trigram
    Jaccard (the d10 verify applied stream-side) and pairs >= 0.5 are
    emitted as (doc_id, corpus_doc_id, jaccard). The corpus side joins
    by id against the seam's distinct-shingle table (shingled once per
    session, shared with every batch verify stage); the arrival side is
    shingled in-batch with the same _trigrams expression, so stream and
    batch scores are bit-identical. Verify cost is proportional to the
    batch's candidate count, never corpus x batch. The contract stays
    batch-boundary independent: survivors and candidates are defined vs
    the INITIAL corpus, so the verified pair set is the same however
    micro-batch boundaries fall — which is what makes an engine-portable
    oracle possible. Set spark.graft.streamStateDir to root the queue
    (and checkpoint/state) at a stable location a pipeline owner can
    consume across runs; unset, each run gets a fresh tempdir."""
    from .llmops import _lsh_bands_df, _minhash_signatures_df, _shingled_df
    from ..functions.text import doc_fingerprint
    from ..sources.batch import load_table

    is_corpus = F.col("doc_id") % 3 != 0
    corpus_fps = (
        load_table(spark, sf_dir, "documents")
        .filter(is_corpus)
        .select(doc_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    corpus_bands = _lsh_bands_df(_minhash_signatures_df(spark, sf_dir)).filter(
        is_corpus
    )
    corpus_shingles = _shingled_df(spark, sf_dir).filter(is_corpus)
    arrivals = stream_documents(spark, sf_dir).filter(
        F.col("doc_id") % 3 == 0
    ).select("doc_id", "text")
    work_root = _stream_work_root(spark, sf_dir, "st14b")
    with state_partitions(spark, default_state_partitions(spark)):
        run_incremental_dedup(
            spark,
            arrivals,
            corpus_fps,
            corpus_bands,
            work_root,
            corpus_shingles=corpus_shingles,
            run_name="st14b",
        )
    return (
        spark.read.schema("doc_id long, corpus_doc_id long, jaccard double")
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(work_root, "verified"))
    )


@query(
    "st15_stream_index_maintenance",
    oracle="""
WITH ex AS (
  SELECT label, unnest(embedding) AS val,
         unnest(generate_series(1, len(embedding))) AS pos
  FROM embeddings
), cents AS (
  SELECT label AS cell, list(cval ORDER BY pos) AS c
  FROM (SELECT label, pos, ROUND(AVG(CAST(val AS DOUBLE)), 6) AS cval
        FROM ex GROUP BY label, pos)
  GROUP BY label
), dists AS (
  SELECT e.vec_id, cents.cell,
    list_reduce(list_prepend(0.0,
      list_transform(generate_series(1, len(e.embedding)), i ->
        (CAST(e.embedding[i] AS DOUBLE) - cents.c[i])
        * (CAST(e.embedding[i] AS DOUBLE) - cents.c[i]))),
      (acc, x) -> acc + x) AS dist
  FROM embeddings e, cents
), assign AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
      ROW_NUMBER() OVER (PARTITION BY vec_id
                         ORDER BY ROUND(dist, 6), cell) AS rn
    FROM dists
  ) WHERE rn = 1
)
SELECT cell, COUNT(*) AS n_vectors,
       MIN(vec_id) AS min_vec_id, MAX(vec_id) AS max_vec_id
FROM assign GROUP BY cell
""",
    tags=("streaming", "ann", "sink", "index-maintenance"),
    bench=True,
)
def st15_stream_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vector-index maintenance — the engine-side version of
    what the reference's pipeline delegates to OpenSearch HNSW
    (KDS-P/index-creation-function/lambda_function.py:72-80): the
    embedding stream is assigned to its IVF cell per micro-batch
    against broadcast literal centroids (coarse quantizer = per-label
    centroid rounded to exact 6-dp decimals, a driver-sized model
    artifact), APPENDED to a cell-partitioned parquet index via
    foreachBatch, then COMPACTED once the stream drains — the
    append-then-compact lifecycle every file-backed ANN index needs
    (per-batch appends create one file per cell per batch; compaction
    rewrites each cell partition once). Queries then prune to nprobe
    cell directories instead of scanning the corpus (partition pruning
    over cell= is pinned in tests/test_streaming_semantics.py).

    Assignment is a narrow per-row argmin over literal centroids — no
    exchange, no state store; the only shuffle is the final compaction
    repartition by cell. Distances are rounded to 6 dp with a
    lowest-cell tiebreak, mirrored exactly in the oracle."""
    from ..sources.batch import load_table

    static = load_table(spark, sf_dir, "embeddings")
    # Centroids in FULL double, rounded to exact 6-dp decimals — never
    # through the operators' float32 form, whose ~7-sig-digit mantissa
    # sits exactly at the 6-dp boundary and can flip the last rounded
    # digit vs the oracle's double average.
    cent_rows = (
        static.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cval"))
        .collect()
    )
    by_cell: dict[int, dict[int, float]] = {}
    for r in cent_rows:
        by_cell.setdefault(int(r["label"]), {})[int(r["pos"])] = float(r["cval"])
    cents = [
        (cell, [vals[p] for p in sorted(vals)])
        for cell, vals in by_cell.items()
    ]

    def dist_to(cell_vec: list[float]):
        lit = F.array(*[F.lit(float(x)) for x in cell_vec])
        sq = F.zip_with(
            F.col("embedding"),
            lit,
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        )
        return F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)

    # Linear argmin fold over an array of (dist, cell) structs — the
    # _nearest_cell pattern. A chained when(cand < best, cand)
    # .otherwise(best) would duplicate the whole running expression
    # twice per cell (condition + value), i.e. a 2^k-node tree by the
    # last cell: measured 28 s of per-micro-batch analysis/codegen at
    # 10 cells vs ~0 for the fold, identical results.
    scored = F.array(
        *[
            F.struct(
                F.round(dist_to(cvec), 6).alias("dist"),
                F.lit(int(cell)).alias("cell"),
            )
            for cell, cvec in sorted(cents, key=lambda t: t[0])
        ]
    )
    best = F.aggregate(
        scored,
        F.element_at(scored, 1),
        lambda acc, s: F.when(s["dist"] < acc["dist"], s).otherwise(acc),
    )

    index_dir = tempfile.mkdtemp(prefix="st15_index_")
    compact_dir = tempfile.mkdtemp(prefix="st15_compact_")
    LAST_INDEX_DIRS["st15"] = (index_dir, compact_dir)

    def append_batch(batch: DataFrame, batch_id: int) -> None:
        batch.withColumn("cell", best["cell"]).write.mode(
            "append"
        ).partitionBy("cell").parquet(index_dir)

    ckpt = os.path.join(tempfile.mkdtemp(prefix="ssq_ckpt_"), "st15")
    q = (
        stream_embeddings(spark, sf_dir)
        .writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES["st15"] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    # Compaction: one file per cell partition replaces per-batch shards.
    (
        spark.read.parquet(index_dir)
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(compact_dir)
    )
    idx = spark.read.parquet(compact_dir)
    return idx.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.min("vec_id").alias("min_vec_id"),
        F.max("vec_id").alias("max_vec_id"),
    )


@query(
    "st08_stream_session_append",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, value,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                 >= INTERVAL '5 minutes'
         THEN 1 ELSE 0 END AS is_new
  FROM events
), sessions AS (
  SELECT user_id, ts, value,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM ordered
), agg AS (
  SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_event,
         COUNT(*) AS n_events
  FROM sessions GROUP BY user_id, sess_id
)
SELECT user_id, session_start, n_events FROM agg
WHERE last_event + INTERVAL '5 minutes'
      <= (SELECT MAX(ts) FROM events) - INTERVAL '10 minutes'
""",
    tags=("streaming", "session", "watermark"),
)
def st08_stream_session_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (5-minute gap) under a 10-minute
    watermark, append mode: a session is emitted once it can no longer
    grow — its end (last event + gap) is at or below the final
    watermark. The oracle replays the same gaps-and-islands sessions and
    the same emission frontier."""
    ev = stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.min("ts").alias("session_start"), F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )
    return run_to_memory(agg, "st08", "append")


@query(
    "st05_stream_embed_pipeline",
    oracle=None,  # embedding UDF is not SQL-expressible; rows-only check
    tags=("streaming", "pipeline", "embedding"),
    bench=True,
)
def st05_stream_embed_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference dataflow as a stream: documents file-source ->
    empty-text filter (DataStreamJob.java:146) -> deterministic embedding
    mapInArrow stage (A1) -> sink projection {passage_embedding, date, text}
    (DataStreamJob.java:185-187) through a memory sink."""
    from ..operators.embed import embed

    # single-batch: the pipeline is stateless (multi-batch certifies
    # nothing here) and this entry is benched — keep the measurement
    # free of per-micro-batch scheduling overhead, comparable to the
    # BENCH_r02 baseline
    docs = stream_documents(spark, sf_dir, multi_batch=False)
    filtered = docs.filter(F.col("text").isNotNull() & (F.col("text") != ""))
    embedded = embed(filtered, on_error="drop")
    out = embedded.select(
        # serialized vector: rows-only checkers still sort/canonicalize
        # every column, and raw array cells crash a pandas lexsort
        F.to_json(F.col("embedding")).alias("passage_embedding"),
        F.current_timestamp().alias("date"),
        F.col("text"),
    )
    return run_to_memory(out, "st05", "append")


@query(
    "st10_foreachbatch_upsert",
    oracle="""
SELECT user_id, event_id, event_type, value FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) t WHERE rn = 1
""",
    tags=("streaming", "sink", "upsert"),
)
def st10_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed-upsert sink: every micro-batch merges the
    latest event per user into a parquet state table (read previous
    version, window-rank keep-newest, write next version — the
    idempotent MERGE pattern; re-running a batch after a failure
    converges to the same state, giving effectively-exactly-once sink
    semantics the reference's fire-and-forget bulk sink lacks,
    DataStreamJob.java:172-177). At scale the versioned-parquet swap
    becomes a Delta/Iceberg MERGE; the plan per batch is one window
    rank over (existing keys + batch), shuffled on the upsert key."""
    from pyspark.sql import Window

    ev = stream_events(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="st10_state_")
    versions: list[str] = []

    def upsert(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        merged = (
            sp.read.parquet(versions[-1]).unionByName(batch)
            if versions
            else batch
        )
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        path = os.path.join(root, f"v{batch_id}")
        latest.write.mode("overwrite").parquet(path)
        versions.append(path)

    ckpt = os.path.join(tempfile.mkdtemp(prefix="ssq_ckpt_"), "st10")
    q = (
        ev.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = spark.read.parquet(versions[-1])
    return final.select("user_id", "event_id", "event_type", "value")


def run_until_rows(
    df: DataFrame, name: str, output_mode: str, target_rows: int,
    timeout_s: float = 120.0,
) -> DataFrame:
    """Execute a streaming DataFrame into a memory sink until the sink
    holds ``target_rows`` rows, then stop. For sources whose offsets
    advance per micro-batch (e.g. the docgen stream reader) and that
    therefore never report exhaustion to Trigger.AvailableNow."""
    import time as _time

    sink = f"{name}_{uuid.uuid4().hex[:8]}"
    ckpt = os.path.join(tempfile.mkdtemp(prefix="ssq_ckpt_"), sink)
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .start()
    )
    spark = df.sparkSession
    deadline = _time.monotonic() + timeout_s
    while (
        _time.monotonic() < deadline
        and spark.table(sink).count() < target_rows
    ):
        _time.sleep(0.25)
    q.stop()
    q.awaitTermination()
    LAST_RUN_BATCHES[name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return spark.table(sink)


@query(
    "st12_python_stream_source",
    oracle="""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, 119)) AS i)
)
SELECT doc_id % 5 AS bucket, COUNT(*) AS n_docs, MIN(text) AS first_text
FROM gen GROUP BY doc_id % 5
""",
    tags=("streaming", "source"),
)
def st12_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingress through the custom Python stream source
    (sources/docgen.py DocGenStreamReader): 120 wire-format records
    delivered as 3 real micro-batches (40/batch, offsets tracked and
    checkpointed), read partition-parallel ON the executors, parsed
    with the M1 ``from_json`` stage, landed append-mode, then reduced
    to a per-bucket aggregate whose oracle regenerates the identical
    corpus. This certifies a user-defined source driving the SAME
    downstream pipeline the Kafka/Kinesis sources feed — the
    engine-portable wire format is what makes them interchangeable.
    (sf_dir is unused: the source generates its input.)"""
    from ..sources.docgen import register

    register(spark)
    raw = (
        spark.readStream.format("docgen")
        .option("max_rows", "120")
        .option("rows_per_batch", "40")
        .option("partitions", "4")
        .load()
    )
    parsed = raw.select(
        "doc_id",
        F.from_json("value", "text string, created_at string").alias("r"),
    ).select("doc_id", F.col("r.text").alias("text"))
    landed = run_until_rows(parsed, "st12", "append", target_rows=120)
    return landed.groupBy((F.col("doc_id") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("text").alias("first_text"),
    )


@query(
    "st16_stream_semi_join",
    oracle="""
SELECT e.event_id AS err_id, e.user_id
FROM (SELECT * FROM events WHERE event_type = 'error') e
WHERE EXISTS (
  SELECT 1 FROM events c
  WHERE c.event_type = 'click' AND c.user_id = e.user_id
    AND c.ts >= e.ts - INTERVAL '10 minutes' AND c.ts <= e.ts)
""",
    tags=("streaming", "join", "interval-join", "semi", "watermark"),
    bench=True,
)
def st16_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI stream-stream interval join — the third member of the
    stream-join family (st07 inner, st13 left outer): each error emits
    AT MOST ONCE, when its first in-window click arrives, with no
    click columns and no fan-out on multi-click users. Semi emission
    needs no watermark frontier gate (unlike st13's outer nulls —
    matched existence is decidable the moment a match arrives), so the
    oracle is the plain interval EXISTS; the watermarks still bound
    both sides' state. The ordered multi-batch replay guarantees no
    match can outrun state eviction (see _split_source_dir), which is
    exactly the argument that holds on a production stream within the
    declared lateness budget."""
    ev = stream_events(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id"),
            F.col("ts").alias("err_ts"),
        )
        .withWatermark("err_ts", "1 minute")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 minute")
    )
    joined = errors.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("err_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("err_ts")),
        "left_semi",
    ).select("err_id", "user_id")
    return run_to_memory(joined, "st16", "append")


@query(
    "st17_dedup_within_watermark",
    oracle=None,  # emission count depends on micro-batch boundaries;
    # state-expiry/re-emission semantics pinned by a hand-controlled
    # batch fixture in tests/test_streaming_semantics.py
    tags=("streaming", "dedup", "watermark", "state-ttl"),
    bench=True,
)
def st17_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` — the STATE-BOUNDED streaming
    dedup (Spark 3.5+): unlike st03's dropDuplicates (state grows with
    distinct keys forever), a key's dedup state is dropped once the
    watermark passes its event time plus the delay, so state is
    bounded by keys-per-watermark-window — the only dedup a forever
    stream can afford at 100 TB. The tradeoff is explicit: a key
    recurring AFTER its state expired is emitted again (guaranteed
    dedup only within the watermark window); the boundary fixture
    pins both the suppression and the re-emission side. Rows-only
    driver check — the emission count depends on micro-batch
    boundaries, which are an execution detail, not SQL."""
    ev = stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "ts")
    )
    return run_to_memory(deduped, "st17", "append")


@query(
    "st18_stream_knn_serving",
    oracle="""
SELECT q_id, vec_id, sim, rank FROM (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
    ROUND(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                 CAST(q.embedding AS DOUBLE[])), 6) AS sim,
    ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                         CAST(c.embedding AS DOUBLE[]),
                         CAST(q.embedding AS DOUBLE[])), 6) DESC, c.vec_id) AS rank
  FROM (SELECT * FROM embeddings WHERE vec_id % 50 = 0) q
  JOIN (SELECT * FROM embeddings WHERE vec_id % 50 != 0) c ON true
) WHERE rank <= 3
""",
    tags=("streaming", "similarity", "knn", "serving"),
    bench=True,
)
def st18_stream_knn_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous k-NN query SERVING — the query-time half the
    reference delegates to OpenSearch
    (KDS-P/index-creation-function/lambda_function.py:72-80), run
    inside the engine as a stream: query vectors arrive as micro-batches
    (the embeddings file-stream filtered to every 50th vector, so
    queries land across all replay batches, not just the first), and
    each trigger answers its batch exactly against the static corpus
    via the s02 knn_join — collect the (tiny) query batch, score each
    corpus Arrow batch with one GEMM, per-query top-3 through Catalyst's
    two-phase WindowGroupLimit — then APPENDS the answers to a parquet
    result log via foreachBatch. st15 maintains the index continuously; this
    is its read path: together they are the full
    ingest->index->serve lifecycle with no external vector store.

    Scale shape per trigger: one pass over the corpus, and only each
    Arrow batch's partial top-3 per query reaches the rank exchange.
    The result log is idempotent per batch id — each trigger
    OVERWRITES its own batch directory, so foreachBatch's
    at-least-once retry replaces that batch's answers instead of
    doubling them. The oracle is the
    batch brute-force over the same query set: streaming arrival order
    must not change a single answer."""
    from ..operators.similarity import knn_join
    from ..sources.batch import load_table

    import atexit
    import shutil

    static = load_table(spark, sf_dir, "embeddings")
    corpus = static.filter(F.col("vec_id") % 50 != 0)

    results_dir = tempfile.mkdtemp(prefix="st18_results_")
    atexit.register(shutil.rmtree, results_dir, ignore_errors=True)

    def serve_batch(batch: DataFrame, batch_id: int) -> None:
        queries = batch.filter(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        # One OVERWRITTEN directory per batch id, never a shared append:
        # foreachBatch is at-least-once, so a retried trigger must
        # replace its own output, not double it.
        knn_join(queries, corpus, k=3).write.mode("overwrite").parquet(
            os.path.join(results_dir, f"b{batch_id:05d}")
        )

    ckpt_base = tempfile.mkdtemp(prefix="ssq_ckpt_")
    atexit.register(shutil.rmtree, ckpt_base, ignore_errors=True)
    ckpt = os.path.join(ckpt_base, "st18")
    q = (
        stream_embeddings(spark, sf_dir)
        .writeStream.foreachBatch(serve_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES["st18"] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return spark.read.option("recursiveFileLookup", "true").parquet(
        results_dir
    )


@query(
    "st19_stream_ohlc",
    oracle="""
WITH ranked AS (
  SELECT event_type,
    time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
    value, ts, event_id,
    ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                       ORDER BY ts, event_id) AS rn_first,
    ROW_NUMBER() OVER (PARTITION BY event_type, time_bucket(INTERVAL 6 HOUR, ts)
                       ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
)
SELECT event_type, strftime(bucket_start, '%Y-%m-%d %H:%M:%S') AS bucket_start,
  ROUND(MAX(CASE WHEN rn_first = 1 THEN value END), 6) AS open,
  ROUND(MAX(value), 6) AS high,
  ROUND(MIN(value), 6) AS low,
  ROUND(MAX(CASE WHEN rn_last = 1 THEN value END), 6) AS close,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY event_type, bucket_start
HAVING bucket_start + INTERVAL 6 HOUR
       <= (SELECT MAX(ts) FROM events) - INTERVAL 10 MINUTE
""",
    tags=("streaming", "window-time", "downsampling", "watermark"),
    bench=True,
)
def st19_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w14's OHLC bars maintained CONTINUOUSLY: the event stream rolls
    into per-type 6-hour candlesticks under a 10-minute watermark,
    append mode — a bar emits exactly once, when the watermark proves
    its bucket can no longer change. The batch/stream symmetry claim
    made concrete: the SAME struct-min/max argmin aggregates run as
    stateful streaming operators (per-bucket state = one partial bar —
    open/high/low/close/count — regardless of tick volume, which is
    precisely why the struct-aggregate formulation and not a window
    rank is the streaming-viable one). The oracle is w14's batch
    definition restricted to the closed-bucket frontier (bucket end at
    or below final watermark = max event time - 10 minutes) — the st02
    emission rule applied to bars."""
    ev = stream_events(spark, sf_dir)
    first = F.min(F.struct("ts", "event_id", "value"))
    last = F.max(F.struct("ts", "event_id", "value"))
    bars = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy("event_type", F.window("ts", "6 hours").alias("w"))
        .agg(
            F.round(first.getField("value"), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(last.getField("value"), 6).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "bucket_start"
            ),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )
    return run_to_memory(bars, "st19", "append")


def run_quota_sampling(
    spark: SparkSession,
    arrivals: DataFrame,
    quotas: DataFrame,
    work_root: str,
) -> DataFrame:
    """Streaming per-source quota enforcement: arrivals are accepted in
    doc_id order until their source's quota fills — the INGEST-side
    enforcement of a mixture allocation (t24 computes the quota table;
    this spends it). The st14 state pattern: per micro-batch
    (foreachBatch, all state in restartable parquet),

    1. each arrival's rank within its source = the source's accumulated
       accepted count + its row_number within the batch (partitioned by
       source, ordered by doc_id);
    2. rank <= quota -> accepted, written to the batch's own results
       subdirectory (overwrite — a replayed batch rewrites the same
       rows rather than appending duplicates);
    3. per-source accepted counts commit as a new VERSION of the counts
       table (statefs.VersionedState: parquet dir ``counts/v{batch}``
       made visible by one atomic ``_COMMIT`` file creation), so batch
       k+1 ranks after every batch <= k, across restarts.

    Replay protocol (each micro-batch is idempotent end to end): the
    committed version number IS the applied-batch marker — foreachBatch
    ids are monotone, so committed version >= batch_id means the batch
    fully applied (its results subdir was written BEFORE the counts
    commit) -> skip; otherwise the visible counts are still pre-batch,
    so the recomputed accepted set is identical and the overwrite
    converges. There is no window in which the state can be lost: an
    uncommitted version dir is invisible and simply rewritten, and old
    versions are pruned only AFTER the new commit lands. Every probe
    and commit goes through the Hadoop FileSystem API (statefs), so
    ``work_root`` may be a local path, hdfs:// or s3a:// URI — the
    commit primitive is a single object creation, atomic on all three.

    Batch-boundary independent by construction when the source replays
    in doc_id order: the accepted set is exactly the quota_s
    lowest-doc_id documents per source — which is what makes the exact
    SQL oracle (row_number per source <= quota) possible. Scale shape:
    per batch one window over the batch's rows (partitioned by source),
    one broadcast-sized counts join, one combinable count aggregate;
    the corpus-sized data never shuffles beyond the source hash. The
    quota table is materialized ONCE to driver rows (one per source)
    before the stream starts — passing the lazy plan through would
    re-execute the full-corpus allocation query every batch."""
    from ..streaming.statefs import VersionedState, mkdirs

    counts = VersionedState(spark, f"{work_root.rstrip('/')}/counts")
    results_dir = f"{work_root.rstrip('/')}/accepted"
    ckpt = os.path.join(work_root, "ckpt")
    # a zero-batch stream writes nothing; pre-create so the final read
    # returns empty instead of PATH_NOT_FOUND
    mkdirs(spark, results_dir)
    # driver-sized (a row per source): collect once so each batch joins
    # a local-relation broadcast, not a re-executed corpus aggregate
    q_rows = [
        (r["source"], int(r["n_allocated"]))
        for r in quotas.select("source", "n_allocated").collect()
    ]

    def process(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        sp = batch.sparkSession
        if counts.applied(batch_id):
            return  # replayed batch already fully applied
        q = sp.createDataFrame(q_rows, "source string, quota long")
        prior = counts.read("source string, n_accepted long")
        w = Window.partitionBy("source").orderBy("doc_id")
        ranked = (
            batch.join(F.broadcast(prior), "source", "left")
            .join(F.broadcast(q), "source", "left")
            .withColumn(
                "rank",
                F.coalesce(F.col("n_accepted"), F.lit(0))
                + F.row_number().over(w),
            )
        )
        accepted = ranked.filter(
            F.col("rank") <= F.coalesce(F.col("quota"), F.lit(0))
        ).persist()
        # idempotent per-batch output: overwrite this batch's own subdir
        accepted.select("doc_id", "source").write.mode("overwrite").parquet(
            f"{results_dir}/b{batch_id}"
        )
        new_counts = (
            accepted.groupBy("source")
            .agg(F.count(F.lit(1)).alias("add"))
            .join(prior, "source", "full")
            .select(
                "source",
                (
                    F.coalesce(F.col("add"), F.lit(0))
                    + F.coalesce(F.col("n_accepted"), F.lit(0))
                ).alias("n_accepted"),
            )
        )
        # counts table is tiny (a row per source): commit as a new
        # version, made visible by one atomic file creation
        counts.commit(new_counts, batch_id)
        accepted.unpersist()

    stream = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination()
    LAST_RUN_BATCHES["st20"] = sum(
        1 for p in stream.recentProgress if p["numInputRows"] > 0
    )
    return (
        spark.read.schema("doc_id long, source string")
        .option("recursiveFileLookup", "true")
        .parquet(results_dir)
    )


@query(
    "st20_stream_quota_sampling",
    oracle="""
WITH per_src AS (
  SELECT source, COUNT(*) AS n_available,
         CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS s
  FROM documents GROUP BY source
),
tot AS (SELECT SUM(n_available) AS tot_n, SUM(s) AS tot_s FROM per_src),
j AS (
  SELECT p.*, t.tot_s, t.tot_n // 2 AS b
  FROM per_src p CROSS JOIN tot t
),
appo AS (
  SELECT source, n_available,
    (b * s) // tot_s AS base,
    (b * s) % tot_s AS rem, b,
    SUM((b * s) // tot_s) OVER () AS base_sum,
    ROW_NUMBER() OVER (ORDER BY (b * s) % tot_s DESC, source) AS rn
  FROM j
),
quota AS (
  SELECT source,
    LEAST(base + CASE WHEN rn <= b - base_sum THEN 1 ELSE 0 END,
          n_available) AS quota
  FROM appo
),
ranked AS (
  SELECT d.doc_id, d.source,
    ROW_NUMBER() OVER (PARTITION BY d.source ORDER BY d.doc_id) AS rnk
  FROM documents d
)
SELECT r.doc_id, r.source
FROM ranked r JOIN quota q ON q.source = r.source
WHERE r.rnk <= q.quota
""",
    tags=("streaming", "sampling", "mixture", "stateful"),
    bench=True,
)
def st20_stream_quota_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quota-capped streaming ingest: documents arrive as doc_id-ordered
    micro-batches and each source accepts rows only until its
    temperature-mixture quota (t24's exact integer apportionment over
    the full corpus) is spent — the continuous form of 'sample the
    corpus to the target mixture AT ingest' that avoids landing 100 TB
    first and sampling later. State (per-source accepted counts) lives
    in a restartable parquet table, so the cap holds across restarts;
    the accepted set is exactly the quota_s lowest-doc_id docs per
    source regardless of batch boundaries, which the SQL oracle replays
    with a per-source row_number."""
    from .curation import t24_temperature_mixture

    quotas = t24_temperature_mixture(spark, sf_dir)
    arrivals = stream_documents(spark, sf_dir).select("doc_id", "source")
    work_root = _stream_work_root(spark, sf_dir, "st20")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_quota_sampling(spark, arrivals, quotas, work_root)


def run_rolling_zscore(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    frame: int = 20,
    min_prior: int = 10,
    tau: float = 2.5,
    run_name: str = "st21",
) -> DataFrame:
    """Streaming rolling z-score anomalies: w15's bounded ROWS-frame
    analytic run continuously — a shape native Structured Streaming
    cannot express (row-count frames aren't a streaming window), made
    incremental with the engine's own state protocol.

    Per micro-batch (foreachBatch): the per-type TRAILING BUFFER (the
    last ``frame`` rows per event_type before this batch) is read from
    a VersionedState table, unioned with the batch, and the exact w15
    window expression runs over the union; only the batch's own rows
    are emitted (the buffer rows exist solely to supply their frames),
    to the batch's overwrite-committed results subdir. The new buffer —
    last ``frame`` rows per type of (buffer ∪ batch), a rank-desc
    filter — commits as the next state version (statefs: one atomic
    _COMMIT file creation, object-store-safe, replay converges because
    the committed version number IS the applied-batch marker).

    Correctness is exact, not approximate: a row's frame (the
    ``frame`` preceding same-type rows) is always contained in
    buffer ∪ earlier-in-batch rows when arrivals replay in global
    (ts, event_id) order — which the split source guarantees — so the
    emitted set equals the batch computation row for row (the w15 SQL
    is this entry's oracle, hash-checked). State is ``frame`` rows per
    event type however long the stream runs; per batch: one window
    over (buffer + batch) rows, one rank filter, no corpus-sized
    anything."""
    from pyspark.sql import Window

    from ..streaming.statefs import VersionedState, mkdirs

    root = work_root.rstrip("/")
    state = VersionedState(spark, f"{root}/trail")
    results_dir = f"{root}/anomalies"
    ckpt = os.path.join(work_root, "ckpt")
    mkdirs(spark, results_dir)
    cols = ["event_id", "ts", "event_type", "value"]
    state_schema = "event_id long, ts timestamp, event_type string, value double"

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        buffer = state.read(state_schema)
        allr = buffer.withColumn("is_new", F.lit(False)).unionByName(
            batch.select(*cols).withColumn("is_new", F.lit(True))
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(-frame, -1)
        )
        z = (F.col("value") - F.col("mu")) / F.col("sd")
        scored = allr.select(
            "*",
            F.avg("value").over(w).alias("mu"),
            F.stddev_samp("value").over(w).alias("sd"),
            F.count(F.lit(1)).over(w).alias("n_prior"),
        )
        (
            scored.filter(
                F.col("is_new")
                & (F.col("n_prior") >= min_prior)
                & (F.col("sd") > 0)
                & (F.abs(z) >= tau)
            )
            .select(
                "event_id",
                "event_type",
                F.round("value", 6).alias("value"),
                F.round(z, 6).alias("zscore"),
            )
            .write.mode("overwrite")
            .parquet(f"{results_dir}/b{batch_id}")
        )
        wdesc = Window.partitionBy("event_type").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        new_buffer = (
            allr.select(*cols)
            .withColumn("rn", F.row_number().over(wdesc))
            .filter(F.col("rn") <= frame)
            .drop("rn")
        )
        state.commit(new_buffer, batch_id)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return (
        spark.read.schema(
            "event_id long, event_type string, value double, zscore double"
        )
        .option("recursiveFileLookup", "true")
        .parquet(results_dir)
    )


@query(
    "st21_stream_zscore_anomaly",
    oracle="""
WITH stats AS (
  SELECT event_id, event_type, value,
    AVG(value) OVER w AS mu,
    STDDEV_SAMP(value) OVER w AS sd,
    COUNT(*) OVER w AS n_prior
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, event_type, ROUND(value, 6) AS value,
       ROUND((value - mu) / sd, 6) AS zscore
FROM stats
WHERE n_prior >= 10 AND sd > 0 AND ABS((value - mu) / sd) >= 2.5
""",
    tags=("streaming", "stateful", "anomaly", "data-quality"),
    bench=True,
)
def st21_stream_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w15's rolling z-score anomaly feed, STREAMING: events replay as
    N_STREAM_FILES time-ordered micro-batches and each batch's outliers
    are scored against the trailing 20 same-type events — across batch
    boundaries — via a per-type trailing buffer carried in restartable
    VersionedState (see run_rolling_zscore). The emitted anomaly set is
    row-for-row the batch computation's (bounded ROWS frames are
    inexpressible in native streaming windows; the buffer construction
    makes the incremental result exact, and the w15 SQL is the oracle,
    hash-checked). Honors spark.graft.streamStateDir for a stable,
    resumable work root."""
    arrivals = stream_events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    work_root = _stream_work_root(spark, sf_dir, "st21", table="events")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_rolling_zscore(spark, arrivals, work_root)


def run_cdc_apply(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st22",
) -> DataFrame:
    """Streaming CDC apply: maintain the last-writer-wins user-state
    table (p16's semantics — every event upserts, 'error' tombstones)
    continuously across micro-batches in restartable VersionedState.

    Per batch (foreachBatch): compact the batch to its last op per key
    (combinable struct-max, p16's compaction), union with the previous
    state version, and take the struct-max again — last-writer-wins by
    the (ts, event_id) total order is ASSOCIATIVE and COMMUTATIVE, so
    the committed state is independent of micro-batch boundaries AND of
    arrival order within the stream; the batch twin's whole-log SQL is
    this entry's oracle, hash-checked. Tombstones stay IN state (a
    deleted key must shadow nothing-newer and be resurrectable by a
    later upsert); the final read filters them. Replay converges: the
    committed version number is the applied-batch marker (statefs), so
    a retried batch is a no-op. State is one row per live-or-tombstoned
    key — the table a production run would keep in Delta via MERGE
    (st10's note); per batch the work is one partial-aggregated
    compaction of batch ∪ state, shuffled on the key."""
    from ..streaming.statefs import VersionedState

    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    state_schema = (
        "user_id long, last_ts timestamp, last_event_id long, "
        "state_type string, state_value double"
    )

    def compact(df: DataFrame) -> DataFrame:
        # the SHARED p16 algebra (operators/stateful.last_writer_compact),
        # applied to state-named columns — st22's batch-boundary-
        # independence proof depends on both entries running the same
        # tiebreak, so there is exactly one copy of it
        from ..operators.stateful import last_writer_compact

        return last_writer_compact(
            df, ts="last_ts", eid="last_event_id",
            etype="state_type", val="state_value",
        )

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        delta = batch.select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("state_type"),
            F.col("value").alias("state_value"),
        )
        merged = compact(state.read(state_schema).unionByName(delta))
        state.commit(merged, batch_id)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return state.read(state_schema).filter(
        F.col("state_type") != F.lit("error")
    )


@query(
    "st22_stream_cdc_apply",
    oracle="""
WITH ranked AS (
  SELECT user_id, ts, event_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts AS last_ts, CAST(event_id AS BIGINT) AS last_event_id,
       event_type AS state_type, value AS state_value
FROM ranked WHERE rn = 1 AND event_type != 'error'
""",
    tags=("streaming", "cdc", "stateful", "upsert"),
    bench=True,
)
def st22_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p16's CDC apply as a CONTINUOUS stream — the events feed replays
    as time-ordered micro-batches and the last-writer-wins state table
    (with tombstones) folds forward batch by batch in restartable,
    object-store-safe VersionedState (see run_cdc_apply: the fold is
    associative+commutative, so the final table is provably independent
    of batch boundaries — and the driver gate re-proves it hash-exactly
    against the batch twin's whole-log SQL every run). Completes the
    CDC story: p15 diffs two snapshots into a changelog, p16 applies a
    changelog batch-wise, st22 applies it as it arrives. Honors
    spark.graft.streamStateDir for a resumable work root."""
    arrivals = stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    work_root = _stream_work_root(spark, sf_dir, "st22", table="events")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_cdc_apply(spark, arrivals, work_root)


def run_stream_ivm(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st23",
) -> DataFrame:
    """Streaming INCREMENTAL-VIEW MAINTENANCE: p18's aggregate view
    (per live state_type: n_users, total_value over the LWW user state)
    maintained continuously, O(|batch|) per micro-batch, without ever
    re-aggregating the state table.

    Two state tables move together in ONE VersionedState version — the
    LWW key state (needed to RETRACT a key's old contribution when a
    later op moves or tombstones it) and the maintained view — made
    visible by a single atomic _COMMIT marker (statefs commit_tables),
    so no crash point can publish a view that disagrees with the key
    state it was derived from. Per batch: compact the batch (combinable
    struct-max), compute retract/insert deltas against the PREVIOUS key
    state, fold them into the previous view, fold the key state
    forward, commit both. The view/delta/merge algebra is the ONE copy
    in operators/stateful.py that p18 also runs, and the whole-log SQL
    is the oracle — so the driver gate re-proves, hash-exactly, that
    the streaming fold is independent of batch boundaries AND equals a
    from-scratch recompute. Replay-idempotent: the committed version
    number is the applied-batch marker.

    Scale: per batch the work is one batch-sized compaction, one key
    equi-join of batch keys against the state, and a group-count-sized
    view merge — the state table is live-keys-sized, the view is
    groups-sized, and NEITHER is rescanned proportionally to history.
    This is the update-semantics streaming aggregate Flink serves from
    managed state and vanilla Structured Streaming cannot express for
    LWW-with-tombstones inputs (complete-mode would re-aggregate, and
    native update-mode aggregates cannot retract an upserted key's old
    value)."""
    from ..operators.stateful import (
        last_writer_compact,
        merge_view,
        view_delta_changes,
        view_of_state,  # noqa: F401  (the definition st23 must share)
    )
    from ..streaming.statefs import VersionedState

    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    state_schema = (
        "user_id long, last_ts timestamp, last_event_id long, "
        "state_type string, state_value double"
    )
    view_schema = "state_type string, n_users long, total_value decimal(25,6)"

    def compact_state(df: DataFrame) -> DataFrame:
        return last_writer_compact(
            df, ts="last_ts", eid="last_event_id",
            etype="state_type", val="state_value",
        )

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        delta = compact_state(
            batch.select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("state_type"),
                F.col("value").alias("state_value"),
            )
        )
        prev_state = state.read_table("state", state_schema)
        prev_view = state.read_table("view", view_schema)
        new_state = compact_state(prev_state.unionByName(delta))
        new_view = merge_view(prev_view, view_delta_changes(prev_state, delta))
        state.commit_tables({"state": new_state, "view": new_view}, batch_id)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return state.read_table("view", view_schema).select(
        "state_type",
        "n_users",
        F.col("total_value").cast("double").alias("total_value"),
    )


@query(
    "st23_stream_ivm",
    oracle="""
WITH ranked AS (
  SELECT user_id, event_type, value,
         ROW_NUMBER() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT event_type AS state_type,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(25, 6))) AS DOUBLE)
         AS total_value
FROM ranked
WHERE rn = 1 AND event_type != 'error'
GROUP BY event_type
""",
    tags=("streaming", "cdc", "ivm", "stateful", "incremental"),
    bench=True,
)
def st23_stream_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p18's materialized view maintained CONTINUOUSLY (see
    run_stream_ivm): the events feed replays as time-ordered
    micro-batches; each batch retracts/inserts its keys' contributions
    against the previous LWW state and folds the group-sized view
    forward — key state and view committed atomically in one
    VersionedState version (the new statefs multi-table protocol).
    The oracle recomputes the view from the whole log, so the driver
    gate re-proves fold == recompute hash-exactly at every run;
    batch-split invariance and the torn-commit crash window are pinned
    in tests/test_streaming_semantics.py / tests/test_statefs.py.
    Completes the IVM story: p18 refreshes from a changelog batch,
    st23 maintains as it arrives. Honors spark.graft.streamStateDir."""
    arrivals = stream_events(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    work_root = _stream_work_root(spark, sf_dir, "st23", table="events")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_stream_ivm(spark, arrivals, work_root)


def run_stream_compaction(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st24",
    small: int | None = None,
    target: int | None = None,
) -> DataFrame:
    """Streaming COMPACTION PLANNING: p20's bin-packing manifest
    maintained continuously as file listings arrive — the shape of a
    lakehouse auto-compaction service, which watches commits and plans
    rewrites incrementally instead of re-scanning the whole listing.

    Two state tables move in ONE VersionedState version (the st23
    atomic multi-table protocol): per-source CUMULATIVE small-file
    chars (the carry-in offset — w13b's two-phase running-sum pattern,
    run over time instead of over range buckets) and the accumulated
    per-(source, bin) manifest. Per batch: the batch's exclusive
    running sum (ordered by doc_id within the batch) plus the carry-in
    reproduces the GLOBAL exclusive running sum — micro-batches replay
    in doc_id order — so bin assignment folds forward exactly; a bin
    spanning a batch boundary merges by (source, bin_id) sum/min/max,
    which is associative, so the committed manifest equals p20's
    single-pass answer for ANY batch split (pinned by the split sweep
    in tests/test_streaming_semantics.py and re-proved hash-exactly by
    the driver against the whole-listing SQL oracle every run).
    Replay-idempotent: the committed version is the applied marker.

    Scale: per batch the work is batch-sized (one window over the
    batch's listing slice, one merge keyed on the touched bins); state
    is one row per source plus one per open bin — listing-metadata
    sized, never corpus sized."""
    from ..streaming.statefs import VersionedState
    from pyspark.sql import Window

    # _ST24_SMALL/_ST24_TARGET are the module-level aliases of p20's
    # constants — ONE binding shared by the runner, the catalog entry,
    # and the f-string oracle
    small = _ST24_SMALL if small is None else small
    target = _ST24_TARGET if target is None else target
    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    cum_schema = "source string, cum_chars long"
    bins_schema = (
        "source string, bin_id long, n_files long, total_chars long, "
        "min_doc long, max_doc long"
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        small_files = batch.filter(F.col("n_chars") < small).select(
            "source", "doc_id", "n_chars"
        )
        prev_cum = state.read_table("cum", cum_schema)
        prev_bins = state.read_table("bins", bins_schema)
        w = (
            Window.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        local_excl = F.coalesce(
            F.sum("n_chars").over(w), F.lit(0).cast("bigint")
        )
        binned = (
            small_files.join(prev_cum, "source", "left")
            .withColumn(
                "bin_id",
                F.floor(
                    (F.coalesce(F.col("cum_chars"), F.lit(0)) + local_excl)
                    / target
                ),
            )
        )
        batch_bins = binned.groupBy("source", "bin_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        new_bins = (
            prev_bins.unionByName(batch_bins)
            .groupBy("source", "bin_id")
            .agg(
                F.sum("n_files").alias("n_files"),
                F.sum("total_chars").alias("total_chars"),
                F.min("min_doc").alias("min_doc"),
                F.max("max_doc").alias("max_doc"),
            )
        )
        new_cum = (
            prev_cum.unionByName(
                small_files.groupBy("source").agg(
                    F.sum("n_chars").alias("cum_chars")
                )
            )
            .groupBy("source")
            .agg(F.sum("cum_chars").alias("cum_chars"))
        )
        state.commit_tables({"cum": new_cum, "bins": new_bins}, batch_id)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return state.read_table("bins", bins_schema)


from .pipeline_extra import _P20_SMALL as _ST24_SMALL  # noqa: E402
from .pipeline_extra import _P20_TARGET as _ST24_TARGET  # noqa: E402


@query(
    "st24_stream_compaction",
    oracle=f"""
WITH binned AS (
  SELECT source, doc_id, n_chars,
    CAST(FLOOR(COALESCE(SUM(n_chars) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         / {_ST24_TARGET}) AS BIGINT) AS bin_id
  FROM documents WHERE n_chars < {_ST24_SMALL}
)
SELECT source, bin_id,
  CAST(COUNT(*) AS BIGINT) AS n_files,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM binned GROUP BY source, bin_id
""",
    tags=("streaming", "compaction", "maintenance", "stateful"),
    bench=True,
)
def st24_stream_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p20's compaction manifest maintained CONTINUOUSLY (see
    run_stream_compaction): the documents listing replays as
    doc_id-ordered micro-batches; each batch bins its small files with
    the carried per-source running sum and folds the per-(source, bin)
    manifest forward — both state tables committed atomically in one
    VersionedState version. The oracle recomputes the manifest from
    the whole listing in one window pass, so the driver gate re-proves
    fold == single-pass hash-exactly every run. Completes the
    table-maintenance story in-stream: p19 picks the clustering key,
    p20 plans the rewrite batch-wise, st24 plans it as commits arrive.
    Honors spark.graft.streamStateDir for a resumable work root."""
    arrivals = stream_documents(spark, sf_dir).select(
        "doc_id", "source", "n_chars"
    )
    work_root = _stream_work_root(spark, sf_dir, "st24", table="documents")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_stream_compaction(spark, arrivals, work_root)


def run_maxsim_serving(
    spark: SparkSession,
    arrivals: DataFrame,
    corpus: DataFrame,
    work_root: str,
    tokens_per_query: int,
    topk: int = 3,
    run_name: str = "st25",
) -> DataFrame:
    """Streaming LATE-INTERACTION serving: s26's MaxSim as a
    per-trigger scorer against a static corpus — st18's serving
    pattern lifted from single-vector k-NN to multi-vector queries.

    The arrival unit is a query TOKEN (q_id, tok_id, q_vec); a query
    is servable only when ALL ``tokens_per_query`` of its tokens have
    arrived, and micro-batch boundaries do not respect query
    boundaries — so incomplete token sets carry across triggers in a
    restartable VersionedState buffer. Per batch (foreachBatch):

    1. union the buffered tokens with the batch's arrivals;
    2. queries at full token count are COMPLETE: score them with the
       SHARED s26 algebra (operators/similarity.maxsim_scores — one
       copy of the exact-integer MaxSim, so stream == batch by
       construction, not by re-derivation) and write their per-query
       top-k to an overwrite-committed ``b{batch_id}`` answer dir;
    3. the still-incomplete remainder becomes the new buffer,
       committed via the statefs marker protocol.

    Every query is scored in EXACTLY one trigger (completeness is
    monotone and scored tokens leave the buffer), so the union of
    answer dirs equals the batch MaxSim over the whole token table —
    the catalog oracle re-proves that hash-exactly every run. Replay
    converges at every crash point: answers are written BEFORE the
    state commit (a replayed batch recomputes from the identical
    pre-batch buffer and overwrites its own dir), and a batch whose
    state version already committed is skipped whole (``applied``).

    Scale shape per trigger: the corpus scan is the only big side and
    never shuffles (token sets broadcast inside maxsim_scores; the
    first aggregate is a map-side-combinable MAX keyed (q, doc,
    token), so post-combine cardinality is independent of per-doc
    vector counts). Buffer state is tokens-in-flight sized — bounded
    by arrival interleaving, not stream length."""
    from pyspark.sql import Window

    from ..operators.similarity import maxsim_scores
    from ..streaming.statefs import VersionedState, mkdirs

    root = work_root.rstrip("/")
    state = VersionedState(spark, f"{root}/tokbuf")
    results_dir = f"{root}/answers"
    ckpt = os.path.join(work_root, "ckpt")
    mkdirs(spark, results_dir)
    state_schema = "q_id long, tok_id long, q_vec array<float>"

    # opt-in per-phase wall-clock attribution (the st28 pattern, r11
    # verdict #5): with spark.graft.profileSt25=true each trigger
    # prints buffer-read / readiness / score+write / commit timings to
    # stderr. The extra count() actions CHANGE the measured total (each
    # phase materializes eagerly instead of fusing into the downstream
    # job), so profile numbers attribute cost shares — never compare
    # them to the frozen baseline directly.
    profile = (
        spark.conf.get("spark.graft.profileSt25", "false").lower() == "true"
    )

    def _phase(label: str, batch_id: int, t0: float) -> float:
        import sys as _sys
        import time as _time

        t1 = _time.perf_counter()
        if profile:
            print(
                f"# st25-profile b{batch_id} {label}: {t1 - t0:.3f}s",
                file=_sys.stderr,
            )
        return t1

    def process(batch: DataFrame, batch_id: int) -> None:
        import time as _time

        if state.applied(batch_id):
            return
        t = _time.perf_counter()
        toks = state.read(state_schema).unionByName(
            batch.select("q_id", "tok_id", "q_vec")
        )
        if profile:
            toks.count()
            t = _phase("buffer-read", batch_id, t)
        ready = (
            toks.groupBy("q_id")
            .agg(F.count(F.lit(1)).alias("n_toks"))
            .filter(F.col("n_toks") >= tokens_per_query)
            .select("q_id")
        )
        ready_toks = toks.join(F.broadcast(ready), "q_id")
        if profile:
            ready_toks.count()
            t = _phase("readiness", batch_id, t)
        w = Window.partitionBy("q_id").orderBy(
            F.col("maxsim_scaled").desc(), "doc_label"
        )
        (
            maxsim_scores(corpus, ready_toks)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= topk)
            .write.mode("overwrite")
            .parquet(f"{results_dir}/b{batch_id}")
        )
        if profile:
            t = _phase("score+write", batch_id, t)
        state.commit(toks.join(F.broadcast(ready), "q_id", "left_anti"), batch_id)
        if profile:
            _phase("commit", batch_id, t)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    LAST_RESULT_DIRS[run_name] = results_dir
    return (
        spark.read.schema("q_id long, doc_label int, maxsim_scaled long, rnk int")
        .option("recursiveFileLookup", "true")
        .parquet(results_dir)
    )


_ST25_QPOOL = 32  # s26's query-token pool (vec_id < 32)
_ST25_TOKS = 8  # tokens per query: q_id = vec_id // 8 — contiguous blocks,
# so queries COMPLETE at different triggers under the vec_id range split
# (and at least one block straddles a file boundary, exercising the buffer)
_ST25_TOPK = 3


@query(
    "st25_stream_maxsim_serving",
    oracle=f"""
WITH qt AS (
  SELECT vec_id // {_ST25_TOKS} AS q_id, vec_id AS tok_id,
         CAST(embedding AS DOUBLE[]) AS q_vec
  FROM embeddings WHERE vec_id < {_ST25_QPOOL}
),
dv AS (
  SELECT label AS doc_label, embedding
  FROM embeddings WHERE vec_id >= {_ST25_QPOOL}
),
tokmax AS (
  SELECT qt.q_id, dv.doc_label, qt.tok_id,
    MAX(CAST(ROUND(ROUND(list_cosine_similarity(
          CAST(dv.embedding AS DOUBLE[]), qt.q_vec), 6) * 1000000)
        AS BIGINT)) AS tok_sim
  FROM dv JOIN qt ON true
  GROUP BY qt.q_id, dv.doc_label, qt.tok_id
),
scored AS (
  SELECT q_id, doc_label, CAST(SUM(tok_sim) AS BIGINT) AS maxsim_scaled
  FROM tokmax GROUP BY q_id, doc_label
)
SELECT q_id, doc_label, maxsim_scaled, rnk FROM (
  SELECT q_id, doc_label, maxsim_scaled,
    ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY maxsim_scaled DESC, doc_label) AS rnk
  FROM scored)
WHERE rnk <= {_ST25_TOPK}
""",
    tags=("streaming", "similarity", "rag", "late-interaction", "serving"),
    bench=True,
)
def st25_stream_maxsim_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s26's late-interaction MaxSim retrieval served as a STREAM (r8
    verdict item 7): query tokens arrive as vec_id-ordered
    micro-batches over the s26 token pool, each query scores against
    the static corpus in the one trigger where its token set
    completes, and incomplete sets buffer across triggers in
    VersionedState (see run_maxsim_serving — the batch/stream
    equivalence rides the SHARED maxsim_scores algebra). The oracle is
    the whole-pool batch MaxSim (s26's SQL at this entry's q_id
    blocking), hash-checked — streaming arrival order must not change
    a single scaled score or rank. Queries are contiguous
    8-token blocks (vec_id // 8) so the range
    split lands different queries in different triggers and at least
    one block straddles a micro-batch boundary. Honors
    spark.graft.streamStateDir for a resumable work root."""
    from ..sources.batch import load_table

    src = _split_source_dir(
        spark,
        sf_dir,
        "embeddings",
        "vec_id",
        _EMB_STREAM,
        where=f"vec_id < {_ST25_QPOOL}",
    )
    arrivals = (
        spark.readStream.schema(_EMB_STREAM)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(
            F.floor(F.col("vec_id") / _ST25_TOKS).cast("long").alias("q_id"),
            F.col("vec_id").alias("tok_id"),
            F.col("embedding").alias("q_vec"),
        )
    )
    from ..sources.batch import spread_compute

    # the corpus is the only big side of every trigger's MaxSim pass
    # and arrives as ONE scan split at fixture scale — spread it before
    # the per-row cosine folds (guide §2.5; no-op on a production scan)
    corpus = (
        spread_compute(
            load_table(spark, sf_dir, "embeddings").filter(
                F.col("vec_id") >= _ST25_QPOOL
            ),
            "vec_id",
        )
        .select(F.col("label").alias("doc_label"), "embedding")
    )
    work_root = _stream_work_root(spark, sf_dir, "st25", table="embeddings")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_maxsim_serving(
            spark, arrivals, corpus, work_root, _ST25_TOKS, _ST25_TOPK
        )


def run_stream_transitions(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st26",
) -> DataFrame:
    """w20's Markov transition matrix maintained CONTINUOUSLY: per
    micro-batch, the batch's events extend each user's sequence, every
    (prev -> next) pair whose NEXT event is new is counted once, and
    the counts fold into restartable state. Transitions that SPAN a
    batch boundary are reconstructed exactly by carrying each user's
    LAST seen event in state and lagging over (buffer + batch) — the
    st21 trailing-buffer pattern at depth 1 — which works because the
    split source replays in (ts, event_id) order, so a user's later
    events never arrive before earlier ones.

    Both state tables — per-user last event (key-state sized) and the
    accumulated pair counts (|event types|^2 sized) — move in ONE
    atomic VersionedState commit_tables version: no crash point can
    publish counts that disagree with the sequence frontier. Count
    folding is associative integer addition, so the final matrix is
    independent of batch boundaries and the whole-log w20 SQL is this
    entry's oracle, hash-checked. Per batch: one user_id shuffle over
    (batch + one row per seen user), one combinable count, one
    group-cardinality-sized fold."""
    from pyspark.sql import Window

    from ..streaming.statefs import VersionedState

    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    last_schema = (
        "user_id long, ts timestamp, event_id long, event_type string"
    )
    counts_schema = "prev_type string, next_type string, n_transitions long"
    cols = ["user_id", "ts", "event_id", "event_type"]

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        last = state.read_table("last", last_schema)
        counts = state.read_table("counts", counts_schema)
        allr = last.withColumn("is_new", F.lit(False)).unionByName(
            batch.select(*cols).withColumn("is_new", F.lit(True))
        )
        wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
        new_pairs = (
            allr.select(
                "*", F.lag("event_type").over(wseq).alias("prev_type")
            )
            .filter(F.col("is_new") & F.col("prev_type").isNotNull())
            .groupBy(
                "prev_type", F.col("event_type").alias("next_type")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        )
        new_counts = (
            counts.unionByName(new_pairs)
            .groupBy("prev_type", "next_type")
            .agg(F.sum("n_transitions").cast("long").alias("n_transitions"))
        )
        wdesc = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        new_last = (
            allr.select(*cols)
            .withColumn("rn", F.row_number().over(wdesc))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        state.commit_tables(
            {"last": new_last, "counts": new_counts}, batch_id
        )

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    counts = state.read_table("counts", counts_schema)
    wnorm = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wnorm),
            6,
        ).alias("p_transition"),
    )


@query(
    "st26_stream_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
)
SELECT prev_type, next_type, n AS n_transitions,
  ROUND(CAST(n AS DOUBLE)
        / SUM(n) OVER (PARTITION BY prev_type), 6) AS p_transition
FROM pairs
""",
    tags=("streaming", "stateful", "behavioral", "markov"),
    bench=True,
)
def st26_stream_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """w20's event-transition (Markov) matrix maintained as a STREAM
    (see run_stream_transitions): events replay as time-ordered
    micro-batches, boundary-spanning transitions are reconstructed via
    the per-user last-event buffer, and the count/frontier state moves
    in one atomic commit. The whole-log w20 SQL is the oracle — batch
    boundaries must not change a single count or probability. Honors
    spark.graft.streamStateDir for a resumable work root."""
    arrivals = stream_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    work_root = _stream_work_root(spark, sf_dir, "st26", table="events")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_stream_transitions(spark, arrivals, work_root)


def _doc_rule_counts(batch: DataFrame) -> DataFrame:
    """Per-rule (n_violations, n_checked) for one slice of the
    documents table — the additive kernel shared by st27's per-batch
    fold and nothing else (the batch p17 gate audits the TPC-H tables;
    this is the corpus-ingest rule set). Every rule is a conditional
    count over one scan: counts are integers and addition is
    associative, so folding per-batch results equals auditing the
    whole log."""
    checks = [
        ("text_not_empty", F.col("text").isNull() | (F.length(F.trim(F.col("text"))) == 0)),
        ("lang_present", F.col("lang").isNull()),
        ("n_chars_consistent", F.col("n_chars") != F.length(F.col("text"))),
        (
            "text_min_5_tokens",
            F.size(F.split(F.trim(F.col("text")), r"\s+")) < 5,
        ),
    ]
    return batch.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(rule).alias("rule"),
                        F.when(cond, 1).otherwise(0).cast("long").alias("v"),
                    )
                    for rule, cond in checks
                ]
            )
        ).alias("c")
    ).groupBy(F.col("c.rule").alias("rule")).agg(
        F.sum("c.v").cast("long").alias("n_violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    )


def run_stream_quality_gate(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st27",
) -> DataFrame:
    """Continuous data-quality gate: the corpus-ingest rule suite
    evaluated per micro-batch and FOLDED into restartable totals — the
    streaming posture of p17's batch expectation gate (a production
    ingest pipeline wants violations counted as data lands, not in a
    nightly audit). Per batch: one conditional-count aggregate over
    the batch slice (map-side combinable, |rules|-sized output), one
    |rules|-row fold with the stored totals, one VersionedState
    commit; replayed batches skip whole via ``applied``. Integer
    addition is associative, so totals are independent of batch
    boundaries and the whole-log SQL is the oracle, hash-checked."""
    from ..streaming.statefs import VersionedState

    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    schema = "rule string, n_violations long, n_checked long"

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        folded = (
            state.read(schema)
            .unionByName(_doc_rule_counts(batch))
            .groupBy("rule")
            .agg(
                F.sum("n_violations").cast("long").alias("n_violations"),
                F.sum("n_checked").cast("long").alias("n_checked"),
            )
        )
        state.commit(folded, batch_id)

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return state.read(schema).withColumn(
        "violation_rate",
        F.round(
            F.col("n_violations").cast("double") / F.col("n_checked"), 6
        ),
    )


@query(
    "st27_stream_quality_gate",
    oracle="""
WITH rules AS (
  SELECT 'text_not_empty' AS rule,
    CAST(COUNT(*) FILTER (text IS NULL OR length(trim(text)) = 0) AS BIGINT)
      AS n_violations,
    CAST(COUNT(*) AS BIGINT) AS n_checked
  FROM documents
  UNION ALL
  SELECT 'lang_present',
    CAST(COUNT(*) FILTER (lang IS NULL) AS BIGINT), CAST(COUNT(*) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'n_chars_consistent',
    CAST(COUNT(*) FILTER (n_chars != length(text)) AS BIGINT),
    CAST(COUNT(*) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'text_min_5_tokens',
    CAST(COUNT(*) FILTER (
      len(regexp_split_to_array(trim(text), '\\s+')) < 5) AS BIGINT),
    CAST(COUNT(*) AS BIGINT)
  FROM documents
)
SELECT rule, n_violations, n_checked,
  ROUND(CAST(n_violations AS DOUBLE) / n_checked, 6) AS violation_rate
FROM rules
""",
    tags=("streaming", "stateful", "data-quality", "governance"),
    bench=True,
)
def st27_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p17's expectation-gate posture applied to the CORPUS INGEST
    stream (see run_stream_quality_gate): documents replay as
    micro-batches, each batch's rule violations are counted in one
    conditional aggregate and folded into VersionedState totals; the
    whole-log SQL re-proves fold == audit hash-exactly every driver
    run. Honors spark.graft.streamStateDir for a resumable work
    root."""
    arrivals = stream_documents(spark, sf_dir).select(
        "doc_id", "text", "lang", "n_chars"
    )
    work_root = _stream_work_root(spark, sf_dir, "st27", table="documents")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_stream_quality_gate(spark, arrivals, work_root)


def run_stream_dup_components(
    spark: SparkSession,
    arrivals: DataFrame,
    work_root: str,
    run_name: str = "st28",
) -> DataFrame:
    """Streaming INCREMENTAL connected components over the LSH dup
    graph: the d08/d21 duplicate-cluster surface maintained as
    documents arrive, without ever re-banding the corpus or rerunning
    components over untouched clusters.

    Two state tables move in one atomic commit:

    - ``reps``: ONE row per (band_idx, band_key) bucket — the smallest
      doc_id seen in that bucket so far. This is the d04 star-link
      guard applied TEMPORALLY: a bucket's members never pairwise-join
      across time; each arrival links to the bucket's representative,
      and when a new arrival becomes the representative, one
      (old_rep, new_rep) edge keeps the chain connected. Per-bucket
      state is O(1) and per-batch edge fan-out is O(batch bands) —
      never corpus-proportional, never quadratic in bucket size — yet
      bucket CONNECTIVITY (the thing components consume) is exactly
      the full band self-join's.
    - ``labels``: (doc_id, component) for every doc in any dup pair so
      far, component = smallest reachable doc_id (the d08 contract).

    Per batch: band the batch (the same signature expressions as the
    batch path — bit-identical keys), merge bucket representatives,
    derive the member->rep and rep-change edges, then recompute
    components ONLY for the components those edges touch (previous
    labels double as contracted edges; untouched components pass
    through unchanged) via the O(log n) alternating-star operator.
    Batch-boundary independence holds because bucket connectivity is
    order-independent and component labels are a pure function of
    connectivity — the whole-corpus d08 recursive-CTE oracle
    re-proves label-for-label equality every driver run."""
    from ..operators.graph import connected_components_star
    from ..streaming.statefs import VersionedState

    _ST28_DRIVER_CAP = 200_000  # contracted merge edges above this run
    # the distributed star instead of the driver union-find

    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    reps_schema = "band_idx int, band_key string, rep long"
    labels_schema = "doc_id long, component long"

    # opt-in per-phase wall-clock attribution (r10 verdict #7): with
    # spark.graft.profileSt28=true each trigger prints banding / state
    # read / merge-graph / commit timings to stderr. The extra count()
    # actions CHANGE the measured total (each phase materializes
    # eagerly instead of fusing into the downstream job), so profile
    # numbers attribute cost shares — never compare them to the frozen
    # baseline directly.
    profile = (
        spark.conf.get("spark.graft.profileSt28", "false").lower() == "true"
    )

    def _phase(label: str, batch_id: int, t0: float) -> float:
        import sys as _sys
        import time as _time

        t1 = _time.perf_counter()
        if profile:
            print(
                f"# st28-profile b{batch_id} {label}: {t1 - t0:.3f}s",
                file=_sys.stderr,
            )
        return t1

    def process(batch: DataFrame, batch_id: int) -> None:
        import time as _time

        from ..sources.batch import spread_compute
        from .llmops import _lsh_bands_df, signatures_from_docs

        if state.applied(batch_id):
            return
        t = _time.perf_counter()
        # a file-stream micro-batch arrives as ONE scan split, so the
        # shingle+md5 explode below signatures_from_docs would run on
        # one core (guide §2.5 input skew — the same spread_compute
        # guard the batch probe sides use; no-op on a many-partition
        # production micro-batch)
        bands_b = _lsh_bands_df(
            signatures_from_docs(
                spread_compute(batch.select("doc_id", "text"), "doc_id")
            )
        ).persist()
        if profile:
            bands_b.count()
            t = _phase("band-batch", batch_id, t)
        old_reps = state.read_table("reps", reps_schema)
        if profile:
            old_reps.count()
            state.read_table("labels", labels_schema).count()
            t = _phase("state-read", batch_id, t)
        cand = bands_b.groupBy("band_idx", "band_key").agg(
            F.min("doc_id").alias("cand")
        )
        merged = old_reps.join(
            cand, ["band_idx", "band_key"], "full"
        ).select(
            "band_idx",
            "band_key",
            F.col("rep").alias("old_rep"),
            F.least(
                F.coalesce(F.col("rep"), F.col("cand")),
                F.coalesce(F.col("cand"), F.col("rep")),
            ).alias("rep"),
        )
        # r15 (guide §5 caching, §2.4 fewer exchanges): ``merged`` is
        # consumed three times (new_reps for the commit + the mem_edges
        # join + chg_edges) — persist IT once instead of new_reps so
        # chg_edges stops re-running the old_reps⋈cand join per
        # trigger. new_edges is NOT distinct'd/persisted any more: the
        # pre-contraction distinct paid a full exchange on the widest
        # edge set per trigger, and ``ce`` already collapses duplicates
        # AFTER contraction (same rows collected either way); ce —
        # contracted, merge-event-sized — is what the else branch
        # reuses, so it takes the persist instead.
        merged = merged.persist()
        new_reps = merged.select("band_idx", "band_key", "rep")
        mem_edges = (
            bands_b.join(new_reps, ["band_idx", "band_key"])
            .filter(F.col("doc_id") != F.col("rep"))
            .select(F.col("doc_id").alias("id_a"), F.col("rep").alias("id_b"))
        )
        chg_edges = merged.filter(
            F.col("old_rep").isNotNull() & (F.col("old_rep") != F.col("rep"))
        ).select(
            F.col("old_rep").alias("id_a"), F.col("rep").alias("id_b")
        )
        new_edges = mem_edges.unionByName(chg_edges)

        # labels are referenced up to FIVE times per trigger in the
        # common path (two contraction lookups + relabeled/untouched/
        # new_docs) — each a fresh parquet scan of the state table
        # without this persist. Safe against _prune: every consumer
        # runs inside commit_tables' writes, before the old version
        # directory is deleted.
        prev = state.read_table("labels", labels_schema).persist()
        # CONTRACT the new edges through the current labels first: an
        # endpoint already in a cluster is replaced by its component
        # root, so the merge graph has one node per TOUCHED COMPONENT
        # (plus brand-new docs) — not per member. After contraction the
        # graph is merge-event sized; per batch that is driver-small by
        # construction, so a driver union-find resolves it in
        # microseconds instead of paying the alternating-star loop's
        # ~3 s of per-round scheduling (measured on a 100-edge graph —
        # the loop's cost is rounds, not rows). The distributed star
        # remains the fallback for a pathological batch whose
        # contracted graph exceeds the driver threshold.
        lab_a = prev.select(
            F.col("doc_id").alias("id_a"), F.col("component").alias("ra")
        )
        lab_b = prev.select(
            F.col("doc_id").alias("id_b"), F.col("component").alias("rb")
        )
        ce = (
            new_edges.join(lab_a, "id_a", "left")
            .join(lab_b, "id_b", "left")
            .select(
                F.coalesce("ra", "id_a").alias("u"),
                F.coalesce("rb", "id_b").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist()
        )
        rows = ce.limit(_ST28_DRIVER_CAP + 1).collect()
        if profile:
            t = _phase("merge-graph-collect", batch_id, t)
        if not rows:
            # quiet batch: carry both tables forward unchanged
            state.commit_tables({"reps": new_reps, "labels": prev}, batch_id)
        elif len(rows) <= _ST28_DRIVER_CAP:
            # driver union-find with min-id roots
            parent: dict[int, int] = {}

            def find(x: int) -> int:
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != x:
                    parent[x], x = r, parent[x]
                return r

            nodes = set()
            for r0 in rows:
                nodes.add(r0.u)
                nodes.add(r0.v)
                a, b = find(r0.u), find(r0.v)
                if a != b:
                    parent[max(a, b)] = min(a, b)
            # map EVERY contracted node (roots included — a brand-new
            # doc that IS its cluster's root still needs a label row)
            mapping = sorted((x, find(x)) for x in nodes)
            mdf = F.broadcast(
                batch.sparkSession.createDataFrame(
                    mapping, "node long, new_root long"
                )
            )
            # relabel members of touched components; label new docs;
            # untouched components pass through byte-identical
            relabeled = prev.join(
                mdf.withColumnRenamed("node", "component"), "component"
            ).select("doc_id", F.col("new_root").alias("component"))
            untouched = prev.join(
                mdf.withColumnRenamed("node", "component"),
                "component",
                "left_anti",
            )
            new_docs = (
                mdf.join(prev, mdf.node == prev.doc_id, "left_anti")
                .select(
                    F.col("node").alias("doc_id"),
                    F.col("new_root").alias("component"),
                )
            )
            state.commit_tables(
                {
                    "reps": new_reps,
                    "labels": untouched.unionByName(relabeled).unionByName(
                        new_docs
                    ),
                },
                batch_id,
            )
        else:
            # contracted graph bigger than the driver cap: distributed
            # alternating-star over (contracted edges + label edges of
            # the touched components)
            touched = ce.select(F.col("u").alias("component")).unionByName(
                ce.select(F.col("v").alias("component"))
            ).distinct()
            affected = prev.join(touched, "component")
            untouched = prev.join(touched, "component", "left_anti")
            lbl_edges = affected.filter(
                F.col("doc_id") != F.col("component")
            ).select(
                F.col("doc_id").alias("id_a"),
                F.col("component").alias("id_b"),
            )
            relabeled = connected_components_star(
                ce.select(
                    F.col("u").alias("id_a"), F.col("v").alias("id_b")
                ).unionByName(lbl_edges)
            )
            state.commit_tables(
                {"reps": new_reps, "labels": untouched.unionByName(relabeled)},
                batch_id,
            )
        if profile:
            _phase("resolve-and-commit", batch_id, t)
        ce.unpersist()
        merged.unpersist()
        prev.unpersist()
        bands_b.unpersist()

    q = (
        arrivals.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES[run_name] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    return state.read_table("labels", labels_schema)


from .llmops import _SQL_LSH_CTES as _ST28_LSH_CTES  # noqa: E402


@query(
    "st28_stream_dup_components",
    oracle=f"""
WITH RECURSIVE {_ST28_LSH_CTES.strip()},
edges AS (
  SELECT id_a AS u, id_b AS v FROM lsh_pairs
  UNION ALL
  SELECT id_b, id_a FROM lsh_pairs
),
reach(u, v) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
  SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v
)
SELECT u AS doc_id, MIN(v) AS component FROM reach GROUP BY u
""",
    tags=("streaming", "stateful", "dedup", "graph"),
    bench=True,
)
def st28_stream_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d08's duplicate-cluster components maintained INCREMENTALLY as
    the documents stream arrives (see run_stream_dup_components): one
    representative row per LSH bucket in state (the star-link guard
    applied temporally — per-batch work is batch-sized at any corpus
    or bucket size), components recomputed only where new edges touch,
    both tables in one atomic commit. The whole-corpus d08 recursive
    CTE is the oracle: micro-batch arrival order must not move a
    single document to a different cluster. Honors
    spark.graft.streamStateDir for a resumable work root."""
    arrivals = stream_documents(spark, sf_dir).select("doc_id", "text")
    work_root = _stream_work_root(spark, sf_dir, "st28", table="documents")
    with state_partitions(spark, default_state_partitions(spark)):
        return run_stream_dup_components(spark, arrivals, work_root)


# ---------------------------------------------------------------------------
# st29: transformWithStateInPandas (the Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------


@contextmanager
def _rocksdb_state_store(spark: SparkSession):
    """transformWithStateInPandas requires the RocksDB state store
    provider (virtual column families back the named state variables);
    rocksdbjni ships with Spark. Scoped like state_partitions: the
    provider is read at query start, and the catalog's other stateful
    entries keep the default HDFS-backed provider their baselines were
    frozen with."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@query(
    "st29_stream_transform_with_state",
    oracle="""
SELECT user_id, COUNT(*) AS n_events,
       ROUND(MIN(value), 6) AS min_value,
       ROUND(MAX(value), 6) AS max_value
FROM events GROUP BY user_id
""",
    tags=("streaming", "stateful", "transform-with-state"),
)
def st29_stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``transformWithStateInPandas`` — the one §2B streaming primitive
    that never had a driver row (r6-r10 verdicts' standing gap):
    executing it needs Spark's protobuf state-API client, and
    ``google.protobuf`` is absent in this container. Round 11 closes
    the gap with operators/miniproto.py — a self-contained protobuf
    WIRE-FORMAT runtime (public encoding + public descriptor.proto
    field numbers; the message schema is parsed at runtime out of the
    installed pyspark's generated module, nothing vendored) that
    installs itself as ``StateMessage_pb2`` only when the real runtime
    is missing. The state protocol on the socket is ordinary protobuf;
    the JVM side is unchanged and RocksDB-backed.

    The operator is user_value_extremes (operators/stateful.py): per
    user, a named ValueState carries lifetime (count, min, max) across
    micro-batches; every batch that touches a user appends the user's
    new lifetime extremes. Over the N_STREAM_FILES time-split replay a
    user emits up to one row per batch with strictly increasing
    n_events, so the FINAL state per user — selected engine-side as the
    max-(n_events)-keyed struct, a combinable aggregate, no window —
    must equal the batch GROUP BY, which is exactly the oracle. NULL
    values don't count toward min/max on either side.

    Scale shape: one shuffle on user_id per micro-batch; named state
    partitioned across executors in RocksDB; state size bounded by live
    users; the final-state selection is map-side-combinable."""
    from ..operators.stateful import user_value_extremes

    ev = stream_events(spark, sf_dir)
    with _rocksdb_state_store(spark):
        per_batch = run_to_memory(
            user_value_extremes(ev), "st29", "append"
        )
    final = F.max(
        F.struct("n_events", "min_value", "max_value")
    ).alias("last")
    return (
        per_batch.groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("last.n_events").alias("n_events"),
            F.round(F.col("last.min_value"), 6).alias("min_value"),
            F.round(F.col("last.max_value"), 6).alias("max_value"),
        )
    )


_ST30_DOCS = 600
_ST30_SHARDS = 4
_ST30_REVEAL = 30  # records/shard made visible per ListShards (per trigger)


@query(
    "st30_kinesis_protocol_ingest",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id,
    'synthetic text ' || md5('42:' || i) AS text,
    strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND,
             '%Y-%m-%dT%H:%M:%S.000Z') AS created_at
  FROM (SELECT UNNEST(generate_series(0, {_ST30_DOCS - 1})) AS i)
)
SELECT doc_id % 7 AS bucket, COUNT(*) AS n_docs,
       CAST(COUNT(DISTINCT doc_id % {_ST30_SHARDS}) AS BIGINT) AS n_shards,
       MIN(text) AS first_text, MAX(created_at) AS last_created
FROM gen GROUP BY doc_id % 7
""",
    tags=("streaming", "source", "kinesis", "pipeline"),
)
def st30_kinesis_protocol_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's S1 Kinesis ingress EXECUTED — the r6-r10
    standing gap (``FlinkKinesisConsumer``,
    ``KDS-P/.../msf/DataStreamJob.java:128-140``, previously only an
    option map because the connector jar is absent) closed the
    miniproto way: sources/kinesis_lite.py speaks the PUBLIC Kinesis
    JSON protocol itself (ListShards / GetShardIterator / GetRecords,
    SigV4-signed when credentialed), so no jar is needed. The producer
    corpus (600 docgen wire records sharded by doc_id % 4 — the
    producer Lambda's PartitionKey routing) is served by the
    in-process Kinesis-compatible endpoint (sources/kinesis_fake.py,
    the kinesalite role) with deterministic ARRIVAL SIMULATION
    (reveal_per_list=30: each trigger's shard listing exposes 30 more
    records per shard, so the tip-based reader observes a growing
    stream), consumed as a REAL multi-batch stream — shard-parallel
    executor reads, per-shard sequence-number TIP offsets
    checkpointed per trigger (3 data batches at these rates) — parsed
    with the M1 ``from_json`` stage, and reduced per bucket. The oracle
    regenerates the identical corpus, and n_shards certifies the
    PartitionKey->shard routing survived the protocol round-trip.

    Scale shape: shards are the unit of read parallelism exactly as in
    the real service (one InputPartition each, executor-side HTTP);
    the driver moves only per-shard cursors; planned ranges replay
    exactly on retry via AFTER_SEQUENCE_NUMBER iterators (the Kinesis
    retention contract). Against real AWS the same reader signs with
    SigV4; the double GetRecords fetch (plan + read) and the EFO
    alternative are documented in the module docstring."""
    from ..sources.docgen import wire_record
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..sources.kinesis_lite import register as register_kinesis

    register_kinesis(spark)
    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(_ST30_SHARDS)
    }
    for doc_id in range(_ST30_DOCS):
        _, wire = wire_record(42, doc_id)
        shards[f"shardId-{doc_id % _ST30_SHARDS:012d}"].append(
            (str(doc_id), wire.encode())
        )
    srv = FakeKinesisServer("docs", shards, reveal_per_list=_ST30_REVEAL)
    endpoint = srv.start()
    try:
        raw = (
            spark.readStream.format("kinesis-lite")
            .option("stream_name", "docs")
            .option("endpoint_url", endpoint)
            .load()
        )
        parsed = raw.select(
            F.col("partition_key").cast("long").alias("doc_id"),
            F.col("shard_id"),
            F.from_json("data", "text string, created_at string").alias("r"),
        ).select("doc_id", "shard_id", "r.text", "r.created_at")
        # run_until_rows, not run_to_memory: under Trigger.AvailableNow
        # a Python source takes ONE capped read (no admission control),
        # so the records revealed later would never land
        landed = run_until_rows(parsed, "st30", "append", target_rows=_ST30_DOCS)
    finally:
        srv.stop()
    return landed.groupBy((F.col("doc_id") % 7).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("shard_id").alias("n_shards"),
        F.min("text").alias("first_text"),
        F.max("created_at").alias("last_created"),
    )


_ST31_DOCS = 600
_ST31_DIM = 32


@query(
    "st31_opensearch_protocol_sink",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST31_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "sink", "opensearch", "pipeline"),
)
def st31_opensearch_protocol_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's K1 OpenSearch sink EXECUTED over the real REST
    protocol — the companion of st30's source-side close (r10 verdict
    'what's missing' #2): the full pipeline (producer wire corpus ->
    json file-stream -> parse -> normalize -> empty-text filter ->
    md5-BoW embed and bulk sink in one fused Arrow stage driven by
    foreachBatch, ``KDS-P/.../msf/DataStreamJob.java:140-177``) runs
    against the in-process OpenSearch-compatible endpoint
    (streaming/opensearch_fake.py) through the sink's stdlib HTTP
    transport (streaming/opensearch_http.py): the driver bootstraps
    the index with the reference's exact hnsw mapping (D1,
    index-creation-function/lambda_function.py:66-97), each output
    partition opens its own client and streams one NDJSON _bulk
    request per embedded chunk executor-side, and the result is read
    BACK over ``GET /_search``. The returned metrics — doc counts, the
    exact integer sum of every indexed embedding coordinate, text extrema —
    are re-derived by the oracle from the generating arithmetic, so a
    sink that dropped, duplicated, or corrupted any partition's
    documents (or skipped the mapping bootstrap: asserted hnsw before
    returning) breaks the hash. (sf_dir is unused: the wire corpus is
    generated, as in p04/st12/st30.)

    Scale shape: identical to the production sink — the batch never
    funnels through the driver (one bulk stream per partition); the
    read-back is the CERTIFICATION step, sized by what was indexed."""
    import os

    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import wire_record
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    src_dir = tempfile.mkdtemp(prefix="st31_src_")
    with open(os.path.join(src_dir, "docs.jsonl"), "w") as fh:
        for i in range(_ST31_DOCS):
            fh.write(wire_record(42, i)[1] + "\n")

    srv = FakeOpenSearchServer()
    endpoint = srv.start()
    try:
        cfg = PipelineConfig(
            source_format="json",
            source_path=src_dir,
            sink_format="opensearch",
            embedding_dim=_ST31_DIM,
            on_error="fail",
            checkpoint_dir=tempfile.mkdtemp(prefix="st31_ckpt_"),
            extra={
                "hosts": [endpoint],
                "index": "embeddings",
            },
        )
        q = run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder)
        q.awaitTermination()
        # D1 really ran: the index carries the reference's hnsw mapping,
        # not an auto-created mapping-less one
        method = srv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        assert method["parameters"] == {"ef_construction": 128, "m": 24}
        client = HttpOpenSearchClient(endpoint)
        # paginated read-back (search_after, one bounded page per
        # request): the certification step scales past a single
        # response page; text is unique per doc, so it is a valid
        # resume key. page_size < n_docs so pagination really runs.
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        srv.stop()

    indexed = spark.createDataFrame(
        [
            (h["text"], [int(x) for x in (h["passage_embedding"] or [])])
            for h in hits
        ],
        "text string, emb array<long>",
    )
    coord_sum = F.aggregate(
        F.col("emb"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return indexed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_indexed"),
        F.sum(coord_sum).alias("sum_coords"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


_ST32_DOCS = 600
_ST32_SHARDS = 4


@query(
    "st32_kinesis_producer_roundtrip",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id,
    'synthetic text ' || md5('42:' || i) AS text,
    strftime(TIMESTAMP '2024-01-01 00:00:00' + i * INTERVAL 1 SECOND,
             '%Y-%m-%dT%H:%M:%S.000Z') AS created_at
  FROM (SELECT UNNEST(generate_series(0, {_ST32_DOCS - 1})) AS i)
)
SELECT doc_id % 5 AS bucket, COUNT(*) AS n_docs,
       MIN(text) AS first_text, MAX(created_at) AS last_created
FROM gen GROUP BY doc_id % 5
""",
    tags=("streaming", "source", "sink", "kinesis", "pipeline"),
)
def st32_kinesis_producer_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's P1 PRODUCER executed over the real wire protocol
    — the write half st30 left simulated. The reference feeds its
    stream with a Lambda calling ``put_record``
    (``kds-producer-lambda/lambda_function.py``); here the engine
    PRODUCES the identical 600-record docgen corpus into an EMPTY
    4-shard stream through sources/kinesis_lite.put_records_writer —
    executor-side PutRecords in API-cap chunks with failed-subset
    retries, against the in-process endpoint's real PutRecords action
    (MD5 hash-range PartitionKey routing, the service's documented
    rule) — then READS IT BACK with the kinesis-lite batch reader
    (shard-parallel GetRecords), parses the M1 ``from_json`` stage, and
    reduces per bucket. The oracle regenerates the corpus from
    arithmetic: every produced record must come back exactly once
    through write-protocol -> hash routing -> read-protocol, or counts,
    min-text, and max-created drift. Partial-failure retries and the
    routing rule itself are pinned in tests/test_kinesis_lite.py.
    (sf_dir is unused: the corpus is generated.)

    Scale shape: the producer is ``foreachPartition`` — records stream
    driver-free from each task in 500-record PutRecords calls (the API
    cap), exactly how a Spark job would feed a real stream; the
    read-back is one InputPartition per shard. The localCheckpoint
    materializes the consumed rows so the endpoint can stop before the
    aggregate runs (the st30 memory-sink pattern, batch form)."""
    from ..sources.docgen import register as register_docgen
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..sources.kinesis_lite import put_records_writer
    from ..sources.kinesis_lite import register as register_kinesis

    register_docgen(spark)
    register_kinesis(spark)
    srv = FakeKinesisServer(
        "produced", {f"shardId-{i:012d}": [] for i in range(_ST32_SHARDS)}
    )
    endpoint = srv.start()
    try:
        corpus = (
            spark.read.format("docgen")
            .option("rows", str(_ST32_DOCS))
            .option("partitions", "4")
            .option("seed", "42")
            .load()
            .select(
                F.col("doc_id").cast("string").alias("partition_key"),
                F.col("value").alias("data"),
            )
        )
        corpus.foreachPartition(
            put_records_writer(
                {"stream_name": "produced", "endpoint_url": endpoint}
            )
        )
        raw = (
            spark.read.format("kinesis-lite")
            .option("stream_name", "produced")
            .option("endpoint_url", endpoint)
            .load()
        )
        landed = (
            raw.select(
                F.col("partition_key").cast("long").alias("doc_id"),
                F.from_json(
                    "data", "text string, created_at string"
                ).alias("r"),
            )
            .select("doc_id", "r.text", "r.created_at")
            .localCheckpoint(eager=True)
        )
    finally:
        srv.stop()
    return landed.groupBy((F.col("doc_id") % 5).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("text").alias("first_text"),
        F.max("created_at").alias("last_created"),
    )


_ST33_DOCS = 600
_ST33_SHARDS = 4
_ST33_DIM = 32


@query(
    "st33_reference_topology_wire_to_wire",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST33_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "source", "sink", "kinesis", "opensearch", "pipeline"),
)
def st33_reference_topology_wire_to_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ENTIRE deployed topology with EVERY wire seam
    executed — the composition st30 (source protocol) and st31 (sink
    protocol) each certified half of: Kinesis JSON/HTTP consume (S1,
    ``KDS-P/.../msf/DataStreamJob.java:128-140``) -> deserialize ->
    normalize -> empty-text filter (M1/M2/F1) -> hnsw index bootstrap
    (D1) -> md5-BoW embed fused with the executor-side NDJSON ``_bulk``
    over REST (A1 + K1, ``:148-177``) ->
    ``GET /_search`` read-back, in ONE ``run_pipeline`` streaming job
    whose source and sink both speak their public protocols against
    in-process endpoints. The oracle re-derives the document counts,
    the exact integer sum of every indexed embedding coordinate, and
    the text extrema from generating arithmetic — a drop, duplicate,
    or corruption at ANY seam (shard read, offset plan, parse, filter,
    Arrow batch, bulk partition, mapping bootstrap) breaks the hash.
    This is the row a reference user would point at to ask "does your
    engine run my job?": same config surface
    (PipelineConfig ~ FlinkApplicationProperties), same stages, same
    protocols, value-certified. (sf_dir is unused: the wire corpus is
    generated, as in st30/st31.)

    Scale shape: the union of st30's and st31's — shard-parallel
    executor reads, driver moves only per-shard cursors, one bulk
    stream per output partition, nothing corpus-sized through the
    driver; availableNow drains the fully-visible backlog exactly as
    a batch replay of the production stream would."""
    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import wire_record
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(_ST33_SHARDS)
    }
    for doc_id in range(_ST33_DOCS):
        _, wire = wire_record(42, doc_id)
        shards[f"shardId-{doc_id % _ST33_SHARDS:012d}"].append(
            (str(doc_id), wire.encode())
        )
    ksrv = FakeKinesisServer("docs", shards)
    kurl = ksrv.start()
    osrv = FakeOpenSearchServer()
    ourl = osrv.start()
    try:
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            sink_format="opensearch",
            embedding_dim=_ST33_DIM,
            on_error="fail",
            start_position="earliest",
            checkpoint_dir=tempfile.mkdtemp(prefix="st33_ckpt_"),
            extra={
                "kinesis_stream": "docs",
                "kinesis_region": "us-east-1",
                "kinesis_endpoint": kurl,
                "hosts": [ourl],
                "index": "embeddings",
            },
        )
        q = run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder)
        q.awaitTermination()
        method = osrv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        assert method["parameters"] == {"ef_construction": 128, "m": 24}
        client = HttpOpenSearchClient(ourl)
        # paginated read-back — see st31; the one-shot GET /_search a
        # driver-sized fixture permits would cap at the service's
        # single-page size limit on a real domain
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        ksrv.stop()
        osrv.stop()

    return _st33_certify(spark, hits)


def _st33_certify(spark: SparkSession, hits: list[dict]) -> DataFrame:
    """Shared certification aggregate for the wire-topology rows (st33
    and its fault-injected twin st34): doc counts, the exact integer
    sum of every indexed embedding coordinate, text extrema."""
    indexed = spark.createDataFrame(
        [
            (h["text"], [int(x) for x in (h["passage_embedding"] or [])])
            for h in hits
        ],
        "text string, emb array<long>",
    )
    coord_sum = F.aggregate(
        F.col("emb"), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return indexed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("text").alias("n_indexed"),
        F.sum(coord_sum).alias("sum_coords"),
        F.min("text").alias("min_text"),
        F.max("text").alias("max_text"),
    )


_ST34_DOCS = 600
_ST34_SHARDS = 4
_ST34_DIM = 32


@query(
    "st34_wire_topology_fault_injected",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST34_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "source", "sink", "kinesis", "opensearch", "pipeline"),
)
def st34_wire_topology_fault_injected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st33's wire-to-wire topology re-run with EVERY retry path under
    fire — the at-least-once-without-duplicates claim certified as a
    value hash, not just unit tests. Same stages and protocols as the
    reference topology row (produce -> Kinesis consume -> M1 parse ->
    M2 normalize -> F1 filter -> A1 embed -> D1 hnsw bootstrap -> K1
    _bulk -> paginated read-back;
    ``KDS-P/.../msf/DataStreamJob.java:90-193``), but the endpoints now
    inject the real services' documented failure shapes end to end:

    - the corpus enters through PutRecords with every 7th record
      REJECTED (per-record ProvisionedThroughputExceeded ErrorCode —
      the API's non-atomic partial-failure form): the failed-subset
      resubmission with backoff must deliver each record exactly once;
    - every 3rd GetRecords answers the throttling error (the
      5-reads/sec/shard ceiling): ``aws.request``'s exponential
      backoff must absorb it without dropping a planned range;
    - the OpenSearch endpoint 429s a 2-request burst at bootstrap
      (the same backoff must cover the HEAD/PUT DDL path, not just
      _bulk) and every 2nd _bulk thereafter: it must re-POST the SAME
      idempotent NDJSON body until it lands.

    Every retry runs on the package's one backoff schedule, untuned.

    The oracle is st33's, re-derived from generating arithmetic. One
    dropped record, one double-delivered PutRecords subset, or one
    double-indexed bulk body breaks the hash — the retry paths are
    proven EXACT, not merely survivable. (sf_dir unused: the corpus is
    generated.)

    Scale shape: identical to st33 — the injected faults change only
    the retry schedule, never what crosses the driver."""
    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import register as register_docgen
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..sources.kinesis_lite import put_records_writer
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    register_docgen(spark)
    ksrv = FakeKinesisServer(
        "docs",
        {f"shardId-{i:012d}": [] for i in range(_ST34_SHARDS)},
        put_fail_every=7,
        get_throttle_every=3,
    )
    kurl = ksrv.start()
    osrv = FakeOpenSearchServer(throttle_every=2)
    ourl = osrv.start()
    try:
        corpus = (
            spark.read.format("docgen")
            .option("rows", str(_ST34_DOCS))
            .option("partitions", "4")
            .option("seed", "42")
            .load()
            .select(
                F.col("doc_id").cast("string").alias("partition_key"),
                F.col("value").alias("data"),
            )
        )
        corpus.foreachPartition(
            put_records_writer({"stream_name": "docs", "endpoint_url": kurl})
        )
        # burst at the bootstrap seam: the next two requests (HEAD
        # existence probe, PUT index DDL) each eat a 429 first
        osrv.throttle_next = 2
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            sink_format="opensearch",
            embedding_dim=_ST34_DIM,
            on_error="fail",
            start_position="earliest",
            checkpoint_dir=tempfile.mkdtemp(prefix="st34_ckpt_"),
            extra={
                "kinesis_stream": "docs",
                "kinesis_region": "us-east-1",
                "kinesis_endpoint": kurl,
                "hosts": [ourl],
                "index": "embeddings",
            },
        )
        q = run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder)
        q.awaitTermination()
        method = osrv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        assert method["parameters"] == {"ef_construction": 128, "m": 24}
        client = HttpOpenSearchClient(ourl)
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        ksrv.stop()
        osrv.stop()

    return _st33_certify(spark, hits)


_ST35_DOCS = 600
_ST35_SHARDS = 4
_ST35_DIM = 32


@query(
    "st35_idempotent_sink_torn_bulk",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST35_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "source", "sink", "kinesis", "opensearch", "pipeline"),
)
def st35_idempotent_sink_torn_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TORN-WRITE replay case st34 cannot cover, closed by explicit
    document ids: every 2nd ``_bulk`` request APPLIES THE FIRST HALF of
    its items and then answers 429 — indistinguishable, client-side,
    from a clean rejection — so the transport's full-body retry
    re-indexes documents that already landed. The reference ships with
    auto-generated ids (its ``.id(element.get("_id"))`` line is
    commented out, ``KDS-P/.../msf/DataStreamJob.java:191``), so its
    at-least-once bulk processor would DUPLICATE here; the engine's
    ``extra.index_by_id`` routes the M2 ``_id``
    (``id_strategy='deterministic'`` — md5 of content, stable across
    restarts) onto each action, turning every index into an idempotent
    upsert that converges under replay. The topology is st33's
    wire-to-wire run (Kinesis consume -> parse -> normalize -> filter
    -> embed -> hnsw bootstrap -> _bulk -> paginated read-back), the
    oracle is st33's exact arithmetic: a single duplicated document
    inflates n_docs and sum_coords and breaks the hash, so this row
    certifies exactly-once EFFECTS end to end under partial-failure
    replay — the guarantee level above st34's
    at-least-once-without-loss. The auto-id duplicate hazard itself is
    pinned (expected and observed) in tests/test_opensearch_http.py.
    (sf_dir unused: the corpus is generated.)

    Scale shape: identical to st33 — ids add one string column to the
    sink projection; nothing else changes."""
    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import wire_record
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(_ST35_SHARDS)
    }
    for doc_id in range(_ST35_DOCS):
        _, wire = wire_record(42, doc_id)
        shards[f"shardId-{doc_id % _ST35_SHARDS:012d}"].append(
            (str(doc_id), wire.encode())
        )
    ksrv = FakeKinesisServer("docs", shards)
    kurl = ksrv.start()
    osrv = FakeOpenSearchServer(partial_every=2)
    ourl = osrv.start()
    try:
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            sink_format="opensearch",
            embedding_dim=_ST35_DIM,
            on_error="fail",
            start_position="earliest",
            checkpoint_dir=tempfile.mkdtemp(prefix="st35_ckpt_"),
            extra={
                "kinesis_stream": "docs",
                "kinesis_region": "us-east-1",
                "kinesis_endpoint": kurl,
                "hosts": [ourl],
                "index": "embeddings",
                "id_strategy": "deterministic",
                "index_by_id": True,
            },
        )
        q = run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder)
        q.awaitTermination()
        method = osrv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        client = HttpOpenSearchClient(ourl)
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        ksrv.stop()
        osrv.stop()

    return _st33_certify(spark, hits)


_ST36_DOCS = 600
_ST36_SHARDS = 4
_ST36_DIM = 32


@query(
    "st36_restart_exactly_once_wire",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST36_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "source", "sink", "kinesis", "opensearch", "pipeline"),
)
def st36_restart_exactly_once_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SOURCE recovery across a real checkpoint restart,
    certified at the wire level: the st33 topology runs TWICE against
    one checkpoint — run 1 drains the first half of the corpus (300
    docs) and terminates; the stream then GROWS (the producer keeps
    writing, simulated by appending the second half to the live
    shards); run 2 restarts from the offset log and must consume ONLY
    the new records. The restarted reader instance keeps no position
    of its own: the engine hands it the committed offset, and its first
    ``read`` fetches AFTER_SEQUENCE_NUMBER of the committed cursors,
    and nothing at or below them. The sink uses the reference's
    AUTO-ID behavior on purpose (no ``index_by_id`` safety net): a
    restart that re-reads even one committed record lands a duplicate
    document, inflating n_docs/sum_coords and breaking st33's
    arithmetic oracle; a restart that over-trusts a stale cursor skips
    records and deflates it. Hash-exact means the offset-log contract
    holds end to end, not just in the unit-level fake-engine tests
    (tests/test_kinesis_lite.py pins the same property per-component).
    (sf_dir unused: the corpus is generated.)

    Scale shape: st33's — the restart adds one offset-log read,
    nothing corpus-sized."""
    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import wire_record
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    half = _ST36_DOCS // 2
    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(_ST36_SHARDS)
    }
    for doc_id in range(half):
        _, wire = wire_record(42, doc_id)
        shards[f"shardId-{doc_id % _ST36_SHARDS:012d}"].append(
            (str(doc_id), wire.encode())
        )
    ksrv = FakeKinesisServer("docs", shards)
    kurl = ksrv.start()
    osrv = FakeOpenSearchServer()
    ourl = osrv.start()
    ckpt = tempfile.mkdtemp(prefix="st36_ckpt_")
    try:
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            sink_format="opensearch",
            embedding_dim=_ST36_DIM,
            on_error="fail",
            start_position="earliest",
            checkpoint_dir=ckpt,
            extra={
                "kinesis_stream": "docs",
                "kinesis_region": "us-east-1",
                "kinesis_endpoint": kurl,
                "hosts": [ourl],
                "index": "embeddings",
            },
        )
        # run 1: drain the visible half, then the query terminates
        run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder).awaitTermination()
        n_after_first = sum(len(v) for v in osrv.docs.values())
        assert n_after_first == half, n_after_first
        # the producer keeps writing while the job is down
        for doc_id in range(half, _ST36_DOCS):
            _, wire = wire_record(42, doc_id)
            ksrv.append(
                f"shardId-{doc_id % _ST36_SHARDS:012d}",
                [(str(doc_id), wire.encode())],
            )
        # run 2: restart from the SAME checkpoint — only new records
        run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder).awaitTermination()
        method = osrv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        client = HttpOpenSearchClient(ourl)
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        ksrv.stop()
        osrv.stop()

    return _st33_certify(spark, hits)


_ST37_DOCS = 600
_ST37_DIM = 32


@query(
    "st37_reshard_exactly_once_wire",
    oracle=f"""
WITH gen AS (
  SELECT i AS doc_id, 'synthetic text ' || md5('42:' || i) AS text
  FROM (SELECT UNNEST(generate_series(0, {_ST37_DOCS - 1})) AS i)
),
toks AS (
  SELECT doc_id,
    CAST(('0x' || substr(md5('m06:' || tok), 1, 8)) AS BIGINT) AS h
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\f\\r]+')) AS tok
    FROM gen
  ) WHERE tok != ''
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM gen) AS n_docs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_indexed,
       CAST(SUM(1 + (h // 256) % 7) AS BIGINT) AS sum_coords,
       (SELECT MIN(text) FROM gen) AS min_text,
       (SELECT MAX(text) FROM gen) AS max_text
FROM toks
""",
    tags=("streaming", "source", "sink", "kinesis", "opensearch", "pipeline"),
)
def st37_reshard_exactly_once_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a LIVE RESHARD, certified at the wire — the
    seam st34 (retries), st35 (torn bulks), and st36 (restarts) left
    uncovered: a production Kinesis stream is re-sharded while the
    consumer is down (SplitShard on a hot shard, MergeShards on two
    cold ones — the scaling actions the real service performs), and the
    restarted job must stitch four different offset situations into one
    exactly-once read:

    - the CLOSED PARENTS' committed prefixes must NOT be re-read
      (cursors in the offset log stand);
    - a closed parent's UNREAD REMAINDER must still be drained — docs
      300-329 land on shard 2 after run 1 commits but BEFORE the split
      closes it, so skipping closed shards loses them;
    - the SPLIT children (shards 3, 4) must be adopted at TRIM_HORIZON
      (absent from the committed offset, every record new);
    - the MERGED child (shard 5) likewise — and its two closed parents
      (shards 0, 1) must each keep their committed cursor without
      double-draining into the child.

    The topology and certification are st33's (produce -> Kinesis
    consume -> M1-A1 pipeline -> D1 hnsw bootstrap -> K1 _bulk ->
    paginated read-back; ``KDS-P/.../msf/DataStreamJob.java:90-193``),
    with the reference's AUTO-ID sink deliberately unprotected: one
    record lost at any seam deflates n_docs/sum_coords, one re-read
    duplicates and inflates them — either breaks the arithmetic hash.
    The reshard lifecycle itself was previously pinned only unit-level
    (tests/test_kinesis_lite.py); this row composes it through the
    whole deployed dataflow. (sf_dir unused: the corpus is generated.)

    Scale shape: st33's — resharding adds one ListShards discovery and
    per-child TRIM_HORIZON cursors; parent remainders drain once and
    the closed shards then cost one empty GetRecords per trigger until
    retention ages them out (their disappearance is likewise pinned in
    tests/test_kinesis_lite.py)."""
    from ..config import PipelineConfig
    from ..operators.embed import Md5BowEmbedder
    from ..sources.docgen import wire_record
    from ..sources.kinesis_fake import FakeKinesisServer
    from ..streaming.opensearch_fake import FakeOpenSearchServer
    from ..streaming.opensearch_http import HttpOpenSearchClient
    from ..streaming.pipeline import run_pipeline

    def wire(doc_id: int) -> tuple[str, bytes]:
        _, w = wire_record(42, doc_id)
        return (str(doc_id), w.encode())

    # phase A: docs 0-299 round-robin over three original shards
    shards: dict[str, list[tuple[str, bytes]]] = {
        f"shardId-{i:012d}": [] for i in range(3)
    }
    for doc_id in range(300):
        shards[f"shardId-{doc_id % 3:012d}"].append(wire(doc_id))
    ksrv = FakeKinesisServer("docs", shards)
    kurl = ksrv.start()
    osrv = FakeOpenSearchServer()
    ourl = osrv.start()
    ckpt = tempfile.mkdtemp(prefix="st37_ckpt_")
    try:
        cfg = PipelineConfig(
            source_format="kinesis-lite",
            sink_format="opensearch",
            embedding_dim=_ST37_DIM,
            on_error="fail",
            start_position="earliest",
            checkpoint_dir=ckpt,
            extra={
                "kinesis_stream": "docs",
                "kinesis_region": "us-east-1",
                "kinesis_endpoint": kurl,
                "hosts": [ourl],
                "index": "embeddings",
            },
        )
        # run 1: drain the pre-reshard stream and commit its cursors
        run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder).awaitTermination()
        n_after_first = sum(len(v) for v in osrv.docs.values())
        assert n_after_first == 300, n_after_first

        # the producer lands docs 300-329 on shard 2 BEFORE the reshard
        # closes it: the unread remainder of a closed parent
        ksrv.append("shardId-000000000002", [wire(d) for d in range(300, 330)])
        # SplitShard: shard 2 closes, docs 330-449 alternate onto its
        # two children
        ksrv.split_shard(
            "shardId-000000000002",
            {
                "shardId-000000000003": [wire(d) for d in range(330, 450, 2)],
                "shardId-000000000004": [wire(d) for d in range(331, 450, 2)],
            },
        )
        # MergeShards: shards 0 and 1 close, docs 450-599 land on the
        # merged child
        ksrv.merge_shards(
            "shardId-000000000000",
            "shardId-000000000001",
            "shardId-000000000005",
            [wire(d) for d in range(450, 600)],
        )

        # run 2: restart from the committed offsets over the new shard map
        run_pipeline(spark, cfg, embedder_factory=Md5BowEmbedder).awaitTermination()
        method = osrv.indices["embeddings"]["mappings"]["properties"][
            "passage_embedding"
        ]["method"]
        assert method["name"] == "hnsw", method
        client = HttpOpenSearchClient(ourl)
        hits = list(client.search_all("embeddings", "text.raw", page_size=250))
    finally:
        ksrv.stop()
        osrv.stop()

    return _st33_certify(spark, hits)


def _st38_oracle() -> str:
    """st38 serves s23's exact query from the maintained word table, so
    its oracle IS s23's (registered first — plans/__init__ imports
    pipeline_extra before this module): same coarse Hamming cut, same
    re-rank, same rounding and tiebreaks. One source of truth — a
    change to s23's semantics lands here by construction."""
    from .registry import all_specs

    return all_specs()["s23_binary_hamming_ann"].oracle


@query(
    "st38_stream_hamming_index_maintenance",
    oracle=_st38_oracle(),
    tags=("streaming", "ann", "quantization", "sink", "index-maintenance"),
    bench=True,
)
def st38_stream_hamming_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous maintenance for the BINARY-HAMMING index — st15's
    append->compact->serve lifecycle (there: IVF cells) given to the
    engine's second ANN family, closing the 'indexes are maintained,
    not rebuilt' story for s23: each micro-batch of the embedding
    stream is sign-packed EXECUTOR-SIDE into the two BIGINT words
    (functions/vector.pack_sign_bits — 16 bytes/vector at this width,
    the 32x compression s23 documents) and APPENDED to a parquet word
    table via foreachBatch; when the stream drains, per-batch shard
    files COMPACT into one rewrite; serving then runs s23's exact
    popcount coarse pass + cosine re-rank AGAINST THE MAINTAINED
    TABLE — and must produce s23's batch answer to the value hash,
    which is precisely what the shared oracle certifies (a vector
    dropped, duplicated, or mis-packed anywhere in the
    stream->append->compact->serve chain breaks it).

    State shape: the streaming side holds NO state store at all — the
    word table on disk IS the state, bounded at 16 bytes/vector +
    (transiently) one shard file per cell-free batch, collapsed by the
    compaction rewrite; the full-precision vectors never enter the
    index (the re-rank broadcast-joins them back from the base table
    by id, s23's contract). At 100 TB this is the maintenance plan a
    real deployment runs: packbits rides the ingest stream as a narrow
    per-row map (no exchange), compaction is one bounded rewrite per
    window, and the serving scan reads ONLY the compact word table —
    the raw corpus stays parquet-pruned."""
    from pyspark.sql import Window

    from ..functions.vector import cosine_similarity, pack_sign_bits
    from ..sources.batch import load_table
    from .pipeline_extra import _S23_COARSE, _S23_K

    index_dir = tempfile.mkdtemp(prefix="st38_index_")
    compact_dir = tempfile.mkdtemp(prefix="st38_compact_")
    LAST_INDEX_DIRS["st38"] = (index_dir, compact_dir)

    def append_words(batch: DataFrame, batch_id: int) -> None:
        (
            batch.select(
                "vec_id",
                pack_sign_bits(F.col("embedding"), 1, 32).alias("b0"),
                pack_sign_bits(F.col("embedding"), 33, 64).alias("b1"),
            )
            .filter(F.col("b0").isNotNull())
            .write.mode("append")
            .parquet(index_dir)
        )

    ckpt = os.path.join(tempfile.mkdtemp(prefix="ssq_ckpt_"), "st38")
    q = (
        stream_embeddings(spark, sf_dir)
        .writeStream.foreachBatch(append_words)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES["st38"] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )
    # compaction: the per-batch shard files collapse into one rewrite
    (
        spark.read.parquet(index_dir)
        .repartition(1)
        .write.mode("overwrite")
        .parquet(compact_dir)
    )
    words = spark.read.parquet(compact_dir)

    # ---- serving: s23's coarse + re-rank against the MAINTAINED table
    queries_w = words.filter(F.col("vec_id") % 50 == 0)
    corpus_w = words.filter(F.col("vec_id") % 50 != 0)
    qb = F.broadcast(
        queries_w.select(
            F.col("vec_id").alias("q_id"),
            F.col("b0").alias("q0"),
            F.col("b1").alias("q1"),
        )
    )
    ham = (
        F.bit_count(F.col("b0").bitwiseXOR(F.col("q0")))
        + F.bit_count(F.col("b1").bitwiseXOR(F.col("q1")))
    ).cast("long")
    wc = Window.partitionBy("q_id").orderBy("hamming", "vec_id")
    shortlist = (
        corpus_w.join(qb, F.lit(True))
        .select("q_id", "vec_id", ham.alias("hamming"))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= _S23_COARSE)
        .select("q_id", "vec_id", "hamming")
    )
    em = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = em.join(queries_w.select("vec_id"), "vec_id").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("sim"), "vec_id")
    return (
        em.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qv), "q_id")
        .select(
            "q_id",
            "vec_id",
            "hamming",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("q_vec")), 6
            ).alias("sim"),
        )
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _S23_K)
    )


def _st39_oracle() -> str:
    """st39 serves s30's exact query from the maintained graph, so its
    oracle IS s30's (same registration-order argument as _st38_oracle):
    graph build replayed as SQL, walk unrolled, identical rounding and
    tiebreaks. The incremental edge maintenance must converge to the
    batch edge set for the hash to match — that convergence is the
    claim this row certifies."""
    from .registry import all_specs

    return all_specs()["s30_graph_beam_ann"].oracle


@query(
    "st39_stream_graph_index_maintenance",
    oracle=_st39_oracle(),
    tags=("streaming", "ann", "graph", "hnsw", "index-maintenance"),
    bench=True,
)
def st39_stream_graph_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous maintenance for the GRAPH index — the append->
    compact->serve lifecycle (st15: IVF cells, st38: Hamming words)
    given to the engine's newest ANN family, s30's banded k-NN graph,
    i.e. the engine-native version of what OpenSearch does when the
    reference's pipeline streams vectors into its hnsw index
    (KDS-P/index-creation-function/lambda_function.py:72-80): each
    micro-batch of the embedding stream becomes graph NODES (bucket +
    packed sign words + norm) plus directed candidate EDGES — the new
    arrivals joined per band against everything indexed so far, BOTH
    directions, so a pair's edge is created exactly once, when its
    later endpoint arrives, and existing nodes' neighbor lists keep
    improving as better neighbors stream in. Per trigger the candidate
    set COMPACTS to each (band, src)'s top-3 by exact cosine —
    safe because similarities never change, so anything outranked by
    3 better neighbors can never re-enter (the monotone-
    compaction argument), which bounds edge state at
    O(nodes x bands x 3) rows no matter how long the stream
    runs. Nodes and edges commit ATOMICALLY in one VersionedState
    version (the st23 commit_tables protocol — no crash point publishes
    edges referencing unpublished nodes); replayed batches are no-ops
    via applied(). When the stream drains, serving runs s30's walk —
    literally the same function, _graph_beam_serve — against the
    MAINTAINED edge table, and must reproduce s30's batch answer to the
    value hash, which is what the shared oracle certifies: the
    incremental edge set converging to the batch-built graph is the
    whole claim.

    Scale shape: per trigger the band joins carry |batch| x in-band
    rows (the same banded-blocking discipline as d04 — never all-pairs
    against the corpus), the compaction rank runs over edge state that
    the top-K cut keeps linear in nodes, and the full-precision vectors
    live in the node table only for edge scoring — the serving walk
    broadcasts ids and words exactly as s30 does. Honesty note on the
    node table: VersionedState REWRITES it per commit (O(indexed so
    far) per trigger) — right at fixture scale and for demonstrating
    the atomic nodes+edges commit, but at 100 TB nodes would append as
    batch-keyed partitions (the statefs overwrite-output convention,
    st14/st38's shape) with only the compacted edge table riding the
    versioned commit; the edge algebra is unchanged. With that split
    this is the streaming half of an HNSW deployment: ingest maintains
    the neighbor lists incrementally; queries never see a rebuild."""
    from pyspark.sql import Window

    from ..functions.vector import l2_norm, pack_sign_bits
    from ..sources.batch import load_table
    from ..streaming.statefs import VersionedState
    from .llmops import _hyperplane_bucket_col
    from .pipeline_extra import (
        _S30_KG,
        _banded_topk,
        _graph_beam_serve,
        _sign_bits_split,
    )

    work_root = _stream_work_root(spark, sf_dir, "st39", table="embeddings")
    state = VersionedState(spark, f"{work_root.rstrip('/')}/state")
    ckpt = os.path.join(work_root, "ckpt")
    # tests read the committed state back to pin the edge-state bound
    LAST_INDEX_DIRS["st39"] = (f"{work_root.rstrip('/')}/state", ckpt)
    nodes_schema = (
        "vec_id long, bucket int, b0 long, b1 long, "
        "embedding array<float>, nrm double"
    )
    edges_schema = "band int, src long, dst long, sim double"

    def as_nodes(batch: DataFrame) -> DataFrame:
        return (
            batch.select(
                "vec_id",
                _hyperplane_bucket_col().alias("bucket"),
                pack_sign_bits(F.col("embedding"), 1, 32).alias("b0"),
                pack_sign_bits(F.col("embedding"), 33, 64).alias("b1"),
                "embedding",
                l2_norm(F.col("embedding")).alias("nrm"),
            )
            .filter((F.col("vec_id") % 50 != 0) & F.col("b0").isNotNull())
        )

    def process(batch: DataFrame, batch_id: int) -> None:
        if state.applied(batch_id):
            return
        newv = as_nodes(batch).localCheckpoint()
        prev_nodes = state.read_table("nodes", nodes_schema)
        all_nodes = prev_nodes.withColumn(
            "settled", F.lit(True)
        ).unionByName(newv.withColumn("settled", F.lit(False)))
        # both directions come out of _banded_topk itself (each pair's
        # dot computed once per cell kernel, settled srcs read the
        # transposed block): the OLD endpoint's neighbor list also sees
        # the new arrival, and the candidate set is duplicate-free by
        # construction — no per-trigger distinct(). The per-src margin
        # cut is safe under the union below: a candidate outside its
        # own (band, src) top-3 superset has >3 better batch rivals,
        # so it can never rank top-3 in (prev edges UNION batch) either
        cand = _banded_topk(all_nodes, settled_col="settled")
        prev_edges = state.read_table("edges", edges_schema)
        # prev_edges cannot collide with cand: every candidate has a
        # this-batch endpoint, and vec_ids never repeat across batches
        merged = prev_edges.unionByName(cand)
        wj = Window.partitionBy("band", "src").orderBy(F.desc("sim"), "dst")
        kept = (
            merged.withColumn("rnk", F.row_number().over(wj))
            .filter(F.col("rnk") <= _S30_KG)
            .drop("rnk")
        )
        state.commit_tables(
            {"nodes": all_nodes.drop("settled"), "edges": kept}, batch_id
        )

    q = (
        stream_embeddings(spark, sf_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    LAST_RUN_BATCHES["st39"] = sum(
        1 for p in q.recentProgress if p["numInputRows"] > 0
    )

    # ---- serving: s30's walk against the MAINTAINED graph -----------
    kept_edges = state.read_table("edges", edges_schema)
    gdir = kept_edges.select("src", "dst").distinct()
    edges_sym = (
        gdir.unionByName(
            gdir.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    em = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _sign_bits_split(em)
    return _graph_beam_serve(queries, corpus, edges_sym)
