"""The benchmark's environment process: the fake Kinesis and OpenSearch
endpoints, the load generator and the memory sampler.

It runs as its own process (``python3 -m perfbench.env``), so the
generator and the endpoints never share the Spark driver's GIL. The
driver side talks to it through ``Env``, a blocking request/reply pipe.
The process is a plain subprocess rather than a ``multiprocessing``
one: ``multiprocessing`` start methods other than fork leave a
resource-tracker process behind that outlives the benchmark.
The environment keeps the truth of everything it put on the stream and
checks what reaches the sink against it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time
import traceback
from collections import Counter
from multiprocessing import Pipe
from multiprocessing.connection import Connection

from real_time_genai_embeddings_for_rag_with_apache_flink_spark.sources.kinesis_fake import (
    FakeKinesisServer,
)
from real_time_genai_embeddings_for_rag_with_apache_flink_spark.streaming.opensearch_fake import (
    FakeOpenSearchServer,
)

from . import check, gen, model

STREAM = "rag-documents"
SHARDS = [f"shardId-{i:012d}" for i in range(4)]


class CountingKinesis(FakeKinesisServer):
    """Counts GetRecords calls and the records they serve; with
    ``timed`` also the time spent in the handler."""

    def __init__(self, timed: bool):
        super().__init__(STREAM, {s: [] for s in SHARDS})
        self.timed = timed
        self.stats = Counter()
        self._stats_lock = threading.Lock()

    def _handle(self, action, payload):
        t0 = time.perf_counter() if self.timed else 0.0
        out = super()._handle(action, payload)
        if action == "GetRecords":
            served = len(out["Records"])
            with self._stats_lock:
                self.stats["getrecords_calls"] += 1
                self.stats["records_served"] += served
                if self.timed:
                    self.stats["serve_s"] += time.perf_counter() - t0
        return out

    def snapshot(self) -> Counter:
        with self._stats_lock:
            return Counter(self.stats)


class Receipts(list):
    """Stands in for one index's document list inside the fake: keeps
    (text, date ms, vector ok, receipt time) instead of each 1024-float
    source, and stamps the moment the fake indexed the document."""

    def append(self, source) -> None:
        t = time.time()
        text = source.get("text")
        date = source.get("date")
        super().append(
            (
                text,
                gen.epoch_ms(date) if date else None,
                text is not None
                and model.vector_matches(text, source.get("passage_embedding")),
                t,
            )
        )


class _ReceiptsByIndex(dict):
    def __setitem__(self, name, docs) -> None:
        super().__setitem__(name, Receipts(docs))


class RecordingOpenSearch(FakeOpenSearchServer):
    """Records every indexed document (see ``Receipts``), counts _bulk
    requests and their bytes; with ``timed`` also the handler time."""

    def __init__(self, timed: bool):
        super().__init__()
        self.docs = _ReceiptsByIndex()
        self.timed = timed
        self.stats = Counter()

    def _handle(self, method, path, body):
        t0 = time.perf_counter()
        status, out = super()._handle(method, path, body)
        if method == "POST" and path.rstrip("/").endswith("_bulk"):
            with self._lock:
                self.stats["bulk_requests"] += 1
                self.stats["bulk_bytes"] += len(body)
                if self.timed:
                    self.stats["server_s"] += time.perf_counter() - t0
        return status, out

    def receipts(self) -> list:
        with self._lock:
            return [r for docs in self.docs.values() for r in docs]

    def count(self) -> int:
        with self._lock:
            return sum(len(docs) for docs in self.docs.values())


def _rss_tree_bytes(root: int, exclude: int) -> int:
    """Resident bytes of ``root`` and all its descendants but
    ``exclude`` (read from /proc)."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        parent[int(name)] = int(fields[1])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        if pid == exclude:
            continue
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class Environment:
    """Lives in the environment process; one method per command."""

    def __init__(self, driver_pid: int, timed: bool):
        self.driver_pid = driver_pid
        self.kinesis = CountingKinesis(timed)
        self.opensearch = RecordingOpenSearch(timed)
        self.expected: list[tuple[str, int]] = []
        self.kinds = Counter()
        self.records_put = 0
        self.late_s: list[float] = []
        self.backlog_end_docs = 0
        self.peak_rss = 0
        self._stop = threading.Event()
        self._threads: list[threading.Thread] = []
        self._rr = 0
        sampler = threading.Thread(target=self._sample_rss, daemon=True)
        sampler.start()
        self._threads.append(sampler)

    def _sample_rss(self) -> None:
        while not self._stop.wait(0.1):
            rss = _rss_tree_bytes(self.driver_pid, os.getpid())
            self.peak_rss = max(self.peak_rss, rss)

    def _put(self, records: list[gen.Record]) -> None:
        by_shard: dict[str, list] = {s: [] for s in SHARDS}
        for rec in records:
            by_shard[SHARDS[self._rr % len(SHARDS)]].append(
                (rec.partition_key, rec.data)
            )
            self._rr += 1
            self.kinds[rec.kind] += 1
            if rec.kind == gen.DOC:
                self.expected.append(gen.expected_doc(rec))
        self.records_put += len(records)
        for shard, batch in by_shard.items():
            if batch:
                self.kinesis.append(shard, batch)

    # -- commands ---------------------------------------------------------

    def ping(self) -> bool:
        return True

    def start(self) -> dict:
        return {
            "kinesis": self.kinesis.start(),
            "opensearch": self.opensearch.start(),
        }

    def put(self, seed: int, stream: str, n: int, profile: dict, at: float | None = None) -> float:
        """Generate ``n`` records and land them at once, at time ``at``
        when given; returns the landing time (after the last append)."""
        rg = gen.RecordGen(seed, stream, **profile)
        stamp = time.time() if at is None else at
        records = [rg.next(stamp) for _ in range(n)]
        time.sleep(max(0.0, stamp - time.time()))
        self._put(records)
        return time.time()

    def trickle(self, seed: int, rate: float, seconds: float, start_at: float) -> int:
        """Start the open-loop generator: record i is due at
        ``start_at + i / rate`` and stamped with that due time; the
        schedule never waits for the system. Returns the record count."""
        n = int(rate * seconds)
        rg = gen.RecordGen(seed, "trickle", long_tail=False)
        thread = threading.Thread(
            target=self._run_trickle, args=(rg, n, rate, start_at), daemon=True
        )
        thread.start()
        self._threads.append(thread)
        return n

    def _run_trickle(self, rg, n: int, rate: float, start_at: float) -> None:
        i = 0
        while i < n and not self._stop.is_set():
            now = time.time()
            due = start_at + i / rate
            if due > now:
                time.sleep(min(due - now, 0.005))
                continue
            batch, dues = [], []
            while i < n and start_at + i / rate <= now:
                dues.append(start_at + i / rate)
                batch.append(rg.next(dues[-1]))
                i += 1
            self._put(batch)
            done = time.time()
            self.late_s.extend(done - d for d in dues)
        self.backlog_end_docs = self.kinds[gen.DOC] - self.opensearch.count()

    def doc_count(self) -> int:
        """Documents the sink must index: every DOC record put so far."""
        return len(self.expected)

    def counts(self) -> dict:
        return {"records_put": self.records_put, "kinds": dict(self.kinds)}

    def wait_docs(self, n: int, timeout: float) -> int:
        deadline = time.time() + timeout
        while True:
            got = self.opensearch.count()
            if got >= n or time.time() >= deadline:
                return got
            time.sleep(0.005)

    def wait_generator(self, timeout: float) -> None:
        for t in self._threads[1:]:
            t.join(timeout)

    def first_receipt(self) -> float | None:
        rows = self.opensearch.receipts()
        return min((r[3] for r in rows), default=None)

    def last_receipt(self) -> float | None:
        rows = self.opensearch.receipts()
        return max((r[3] for r in rows), default=None)

    def kinesis_stats(self) -> dict:
        return self.kinesis.snapshot()

    def report(self) -> dict:
        rows = self.opensearch.receipts()
        verdict = check.check_ingest(
            self.expected, ((t, ms, ok) for t, ms, ok, _ in rows)
        )
        return {
            "check": verdict,
            "kinds": dict(self.kinds),
            "records_put": self.records_put,
            "receipts": [(ms, t) for _, ms, _, t in rows],
            "kinesis": dict(self.kinesis.snapshot()),
            "opensearch": dict(self.opensearch.stats),
            "late_s": self.late_s,
            "backlog_end_docs": self.backlog_end_docs,
            "peak_rss": self.peak_rss,
        }

    def close(self) -> None:
        self._stop.set()
        self.kinesis.stop()
        self.opensearch.stop()
        for t in self._threads:
            t.join(5)


def _serve(conn, driver_pid: int, timed: bool) -> None:
    env = Environment(driver_pid, timed)
    try:
        while True:
            try:
                cmd, args = conn.recv()
            except EOFError:  # the driver side is gone
                break
            if cmd == "close":
                break
            try:
                conn.send(("ok", getattr(env, cmd)(*args)))
            except Exception:  # noqa: BLE001 - reported to the driver side
                conn.send(("error", traceback.format_exc()))
    finally:
        env.close()
        try:
            conn.send(("ok", None))
        except OSError:
            pass
        conn.close()


class Env:
    """Driver-side handle: ``env.call("put", ...)`` runs the command in
    the environment process and returns its result."""

    def __init__(self, timed: bool):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._conn, child = Pipe()
        fd = child.fileno()
        self._proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.env", str(fd), str(os.getpid()), str(int(timed))],
            cwd=root,
            env={**os.environ, "PYTHONPATH": os.pathsep.join(
                p for p in (root, os.environ.get("PYTHONPATH")) if p
            )},
            pass_fds=(fd,),
            stdin=subprocess.DEVNULL,
            stdout=sys.stderr,
        )
        child.close()

    def call(self, cmd: str, *args):
        self._conn.send((cmd, args))
        status, value = self._conn.recv()
        if status != "ok":
            raise RuntimeError(f"environment command {cmd} failed:\n{value}")
        return value

    def alive(self) -> bool:
        return self._proc.poll() is None

    def close(self) -> None:
        """Stop the process and wait until it has ended."""
        if self.alive():
            try:
                self._conn.send(("close", ()))
                self._conn.recv()
            except (OSError, EOFError):
                pass
        self._conn.close()
        try:
            self._proc.wait(10)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()


if __name__ == "__main__":
    _serve(Connection(int(sys.argv[1])), int(sys.argv[2]), sys.argv[3] == "1")
