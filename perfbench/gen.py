"""Seeded workload inputs. The program only ever sees what these
functions produce: wire records for the stream, or query/corpus texts.

Every record carries its own truth (``kind`` and, for documents, the
text), so the checker knows exactly which documents must come out of
the sink, how many records are corrupt and how many are empty.
"""

from __future__ import annotations

import datetime
import json
import random
from dataclasses import dataclass

DOC, EMPTY, CORRUPT = "doc", "empty", "corrupt"


@dataclass(frozen=True)
class Record:
    partition_key: str
    data: bytes
    kind: str
    text: str | None  # set for DOC records


def created_at(epoch_s: float) -> str:
    """The producer's wire timestamp (ISO-8601, milliseconds, ``Z``)."""
    t = datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def epoch_ms(date: str) -> int:
    """Epoch milliseconds of a sink ``date`` field (naive ISO, UTC) or
    of a wire ``created_at``."""
    t = datetime.datetime.fromisoformat(date.replace("Z", "+00:00"))
    if t.tzinfo is None:
        t = t.replace(tzinfo=datetime.timezone.utc)
    return round(t.timestamp() * 1000)


def vocabulary(seed: int, size: int = 4000) -> list[str]:
    rng = random.Random(f"vocab:{seed}")
    letters = "abcdefghijklmnopqrstuvwxyz"
    return [
        "".join(rng.choice(letters) for _ in range(rng.randint(3, 10)))
        for _ in range(size)
    ]


class TextGen:
    """Unique texts: a serial tag plus words drawn from a seeded
    vocabulary. ``long_tail`` draws the word count from a log-normal
    (median ~40, clipped to 1..400); otherwise short-to-medium (5..60)."""

    def __init__(self, seed: int, stream: str, long_tail: bool):
        self.words = vocabulary(seed)
        self.rng = random.Random(f"{stream}:{seed}")
        self.stream = stream
        self.long_tail = long_tail

    def text(self, serial: int) -> str:
        if self.long_tail:
            n = min(400, max(1, int(self.rng.lognormvariate(3.7, 0.9))))
        else:
            n = self.rng.randint(5, 60)
        body = " ".join(self.rng.choice(self.words) for _ in range(n))
        return f"{self.stream}-{serial} {body}"


class RecordGen:
    """Wire records for one stream phase. ``dup_frac`` of the records
    re-send an earlier document byte for byte; of the rest,
    ``empty_frac`` carry an empty text and ``corrupt_frac`` are
    malformed JSON."""

    def __init__(
        self,
        seed: int,
        stream: str,
        long_tail: bool,
        dup_frac: float = 0.0,
        empty_frac: float = 0.0,
        corrupt_frac: float = 0.0,
    ):
        self.texts = TextGen(seed, stream, long_tail)
        self.rng = random.Random(f"kinds:{stream}:{seed}")
        self.dup_frac = dup_frac
        self.empty_frac = empty_frac
        self.corrupt_frac = corrupt_frac
        self.sent: list[Record] = []
        self.serial = 0

    def next(self, stamp: float) -> Record:
        """The next record, stamped ``created_at = stamp`` unless it is a
        re-send (which keeps its original bytes)."""
        if self.sent and self.rng.random() < self.dup_frac:
            return self.sent[self.rng.randrange(len(self.sent))]
        self.serial += 1
        pk = f"pk-{self.serial}"
        ts = created_at(stamp)
        u = self.rng.random()
        if u < self.corrupt_frac:
            data = ('{"text": "' + self.texts.text(self.serial)).encode()
            return Record(pk, data, CORRUPT, None)
        if u < self.corrupt_frac + self.empty_frac:
            data = json.dumps({"text": "", "created_at": ts}).encode()
            return Record(pk, data, EMPTY, None)
        text = self.texts.text(self.serial)
        data = json.dumps({"text": text, "created_at": ts}).encode()
        rec = Record(pk, data, DOC, text)
        self.sent.append(rec)
        return rec


def expected_doc(rec: Record) -> tuple[str, int]:
    """(text, created_at epoch ms) the sink must index for a DOC record."""
    return rec.text, epoch_ms(json.loads(rec.data)["created_at"])


def corpus_texts(seed: int, n: int) -> list[str]:
    gen = TextGen(seed, "corpus", long_tail=False)
    return [gen.text(i) for i in range(n)]


def query_texts(seed: int, request: int, n: int) -> list[str]:
    gen = TextGen(seed * 100_003 + request, "query", long_tail=False)
    return [gen.text(i) for i in range(n)]
