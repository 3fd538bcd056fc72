"""Seeded input generators for the benchmark workloads.

Every input a workload hands to the engine comes from here, as a pure
function of the seed: the same seed gives the same files, rows and
operation stream. The engine receives only these inputs.

* :func:`write_star_schema` — the ten fixture tables the registry
  queries read, written by the repository's own fixture generator
  ``tools/gen_sf.py``.
* :class:`Corpus` — topic-clustered document text, its fixed-size
  chunks, the question stream, and the churn operation stream (upsert
  batches with a stated share of re-embedded documents, and deletes),
  together with the id set the index must hold after each operation.
* :func:`conversations` — time-ordered chat-message events and the
  message count of each conversation.
"""

from __future__ import annotations

import os
import subprocess
import sys
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
US = 1_000_000


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten fixture tables as ``<out_dir>/<name>.parquet`` with
    ``tools/gen_sf.py`` and return their row counts."""
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"),
         "--sf", str(sf), "--seed", str(seed), "--out", out_dir],
        check=True, capture_output=True, timeout=120,
    )
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(out_dir)) if f.endswith(".parquet")
    }


#: Chunk ids of one document live in ``doc_id * CHUNK_SLOTS + chunk``.
CHUNK_SLOTS = 8
#: Shortest last chunk of a document, in characters.
MIN_TAIL = 16

# The corpus shape. Each of N_TOPICS topics owns TOPIC_WORDS words; a
# document or question draws a topic word with probability TOPIC_SHARE
# and one of COMMON_WORDS shared words otherwise.
N_TOPICS = 16
TOPIC_WORDS = 40
COMMON_WORDS = 300
TOPIC_SHARE = 0.6
#: Characters per chunk, and the most chunks one document spans.
CHUNK_SIZE = 256
MAX_CHUNKS = 3
#: Characters of one question.
QUESTION_CHARS = 90

# The churn mix. An upsert batch holds BATCH_DOCS documents, of which
# REEMBED_SHARE re-embed a live document with new text and the rest are
# new; every DELETE_EVERY-th write deletes DELETE_DOCS live documents.
BATCH_DOCS = 24
REEMBED_SHARE = 0.25
DELETE_EVERY = 2
DELETE_DOCS = 6


@dataclass
class Upsert:
    docs: list[tuple[int, str]]  # (doc_id, text); re-embedded ids first


@dataclass
class Delete:
    doc_ids: list[int]


@dataclass
class Read:
    qid: int
    text: str


@dataclass
class Corpus:
    """Topic-clustered text corpus plus its seeded operation streams.

    Nearest neighbours concentrate inside a topic: the clustered shape
    real embeddings have and where IVF pruning pays. Document lengths
    are drawn in characters, so the number of :data:`CHUNK_SIZE` chunks
    per document is known to the generator; a re-embedded document
    keeps its length (and so its chunk ids) and gets new text.
    """

    seed: int
    n_docs: int
    rng: np.random.Generator = field(init=False, repr=False)
    topics: list[list[str]] = field(init=False, repr=False)
    common: list[str] = field(init=False, repr=False)
    #: Length in characters of every document ever written, by doc id.
    lengths: dict[int, int] = field(init=False, repr=False)
    next_doc: int = field(init=False, default=0)
    n_writes: int = field(init=False, default=0)
    deleted: set[int] = field(init=False, default_factory=set)
    initial: list[tuple[int, str]] = field(init=False, repr=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        self.topics = [
            [f"t{t}w{j}" for j in range(TOPIC_WORDS)] for t in range(N_TOPICS)
        ]
        self.common = [f"w{j}" for j in range(COMMON_WORDS)]
        self.lengths = {}
        self.initial = [self._new_doc() for _ in range(self.n_docs)]

    def _text(self, topic: int, n_chars: int) -> str:
        """Exactly ``n_chars`` characters of topic-biased words."""
        out: list[str] = []
        size = -1
        while size < n_chars:
            pool = (
                self.topics[topic] if self.rng.random() < TOPIC_SHARE
                else self.common
            )
            word = pool[int(self.rng.integers(len(pool)))]
            out.append(word)
            size += len(word) + 1
        text = " ".join(out)[:n_chars]
        return text if text[-1] != " " else text[:-1] + "s"

    def _doc_text(self, doc_id: int) -> str:
        topic = int(self.rng.integers(N_TOPICS))
        return self._text(topic, self.lengths[doc_id])

    def _new_doc(self) -> tuple[int, str]:
        doc_id = self.next_doc
        self.next_doc += 1
        # A chunk without a single word gets no embedding (the
        # featurizer has nothing to hash), so no document ends in a
        # chunk shorter than MIN_TAIL characters.
        n = int(self.rng.integers(CHUNK_SIZE // 2, CHUNK_SIZE * MAX_CHUNKS + 1))
        if 0 < n % CHUNK_SIZE < MIN_TAIL:
            n += MIN_TAIL
        self.lengths[doc_id] = n
        return doc_id, self._doc_text(doc_id)

    def n_chunks(self, doc_id: int) -> int:
        return -(-self.lengths[doc_id] // CHUNK_SIZE)

    def chunk_ids(self, doc_id: int) -> list[int]:
        return [doc_id * CHUNK_SLOTS + c for c in range(self.n_chunks(doc_id))]

    def live_ids(self) -> set[int]:
        """Chunk ids the index must hold after the writes so far."""
        return {
            vid
            for doc in self.lengths
            if doc not in self.deleted
            for vid in self.chunk_ids(doc)
        }

    def question(self, qid: int) -> Read:
        topic = int(self.rng.integers(N_TOPICS))
        return Read(qid, self._text(topic, QUESTION_CHARS))

    def questions(self, n: int, first_qid: int) -> list[Read]:
        return [self.question(first_qid + i) for i in range(n)]

    def _live_docs(self) -> list[int]:
        return [d for d in self.lengths if d not in self.deleted]

    def next_write(self) -> Upsert | Delete:
        """The next write of the churn stream (the stream is unbounded;
        the caller stops drawing when its time is up)."""
        self.n_writes += 1
        if self.n_writes % DELETE_EVERY == 0:
            live = self._live_docs()
            picks = self.rng.choice(len(live), DELETE_DOCS, replace=False)
            doc_ids = sorted(live[int(i)] for i in picks)
            self.deleted.update(doc_ids)
            return Delete(doc_ids)
        n_re = int(round(BATCH_DOCS * REEMBED_SHARE))
        live = self._live_docs()
        picks = self.rng.choice(len(live), n_re, replace=False)
        docs = [(live[int(i)], self._doc_text(live[int(i)])) for i in picks]
        docs += [self._new_doc() for _ in range(BATCH_DOCS - n_re)]
        return Upsert(docs)


# The chat stream: CHAT_CONVERSATIONS conversations of 3 to
# CHAT_MAX_MESSAGES messages each, sent 10 s to 5 min apart.
CHAT_CONVERSATIONS = 40
CHAT_MAX_MESSAGES = 8


def conversations(seed: int) -> tuple[list[tuple[str, int, str, str]], dict[str, int]]:
    """``(messages, counts)``: the time-ordered messages
    ``(conversation_id, ts_us, sender, message)`` and the number of
    messages of each conversation."""
    rng = np.random.default_rng(seed)
    msgs: list[tuple[str, int, str, str]] = []
    counts: dict[str, int] = {}
    for c in range(CHAT_CONVERSATIONS):
        cid = f"c{c}"
        n = counts[cid] = int(rng.integers(3, CHAT_MAX_MESSAGES + 1))
        ts = rng.integers(0, 3600) * US + np.cumsum(rng.integers(10, 300, n)) * US
        for i in range(n):
            msgs.append((cid, int(ts[i]), "user" if i % 2 == 0 else "bot",
                         f"m{int(rng.integers(1000))}"))
    msgs.sort(key=lambda m: m[1])
    return msgs, counts


def write_messages(path: str, msgs: list[tuple[str, int, str, str]]) -> None:
    """One parquet file of conversation-message rows."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(
        pa.table({
            "conversation_id": [m[0] for m in msgs],
            "ts": pa.array([m[1] for m in msgs], pa.timestamp("us", tz="UTC")),
            "sender": [m[2] for m in msgs],
            "message": [m[3] for m in msgs],
        }),
        path,
    )
