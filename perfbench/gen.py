"""Seeded input generators and their ground truth.

Every input the library sees comes from here, and every generator also
returns what a correct program must produce from it, so the workloads
can check outputs without trusting the code under test.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------- images

IMG_SIDE = 48
DATES_PER_ROUND = 4
LABEL1_SHARE = 0.3
BASE_DATE = dt.date(2024, 1, 1)


@dataclass
class LandedBatch:
    """One batch of JPEGs written into the landing directory."""

    paths: list[str]
    payload_bytes: int
    label_counts: dict[int, int]
    date_counts: dict[str, int]


def round_dates(r: int) -> list[str]:
    """The capture dates of landing round ``r`` (disjoint across rounds)."""
    return [
        (BASE_DATE + dt.timedelta(days=r * DATES_PER_ROUND + d)).isoformat()
        for d in range(DATES_PER_ROUND)
    ]


def jpeg_pool(rng: np.random.Generator, n: int) -> list[bytes]:
    """``n`` distinct real JPEGs (48x48 grayscale with an EXIF APP1, the
    payloads ``bench.py`` ingests). The library's encoder is pure Python
    (about 7 ms an image), so the landing rounds draw their payloads from
    this pool instead of encoding each file."""
    from computer_vision_foundations_spark.functions.jpeg import encode_jpeg
    from computer_vision_foundations_spark.functions.png import build_exif_app1

    yy, xx = np.mgrid[0:IMG_SIDE, 0:IMG_SIDE]
    pool = []
    for i in range(n):
        base = (xx * int(rng.integers(1, 4)) + yy + int(rng.integers(256))) % 256
        noise = rng.integers(0, 24, size=(IMG_SIDE, IMG_SIDE))
        px = np.clip(base + noise, 0, 255).astype(np.uint8)
        pool.append(
            encode_jpeg(
                px,
                quality=90,
                app1=build_exif_app1({"Make": "BenchCam", "Model": f"M{i % 4}"}),
            )
        )
    return pool


def land_jpegs(
    rng: np.random.Generator,
    landing: str,
    r: int,
    n: int,
    first_seq: int,
    pool: list[bytes],
) -> LandedBatch:
    """Write ``n`` JPEGs drawn from ``pool``, named by the ingest
    filename grammar ``<yyyy-MM-dd HH-mm-ss>_<device>_<label>.jpg``."""
    dates = round_dates(r)
    # every date and label share is exact and the order is shuffled, so
    # each micro-batch writes the same number of sink files on any seed
    day_of = rng.permutation(np.arange(n) % len(dates))
    label_of = rng.permutation(np.arange(n) < round(n * LABEL1_SHARE))
    pick = rng.integers(len(pool), size=n)
    clock = rng.integers(0, [24, 60, 60], size=(n, 3))
    paths, total = [], 0
    labels: dict[int, int] = {}
    per_date: dict[str, int] = {}
    for i in range(n):
        seq = first_seq + i
        day = dates[int(day_of[i])]
        label = int(label_of[i])
        hh, mm, ss = (int(x) for x in clock[i])
        name = f"{day} {hh:02d}-{mm:02d}-{ss:02d}_cam_{seq % 7}_{seq:07d}_{label}.jpg"
        payload = pool[int(pick[i])]
        path = os.path.join(landing, name)
        with open(path, "wb") as f:
            f.write(payload)
        paths.append(path)
        total += len(payload)
        labels[label] = labels.get(label, 0) + 1
        per_date[day] = per_date.get(day, 0) + 1
    return LandedBatch(paths, total, labels, per_date)


# ---------------------------------------------------------------- corpus

# Sizes follow the sf0.1 test corpus: 5,000 documents of 10-100 words
# (mean 55) and a separate table of 2,000 64-dim embeddings in 10 label
# blocks (about 200 each). The vocabulary is larger than sf0.1's 31
# words, so that independent texts share almost no 3-shingle and the
# duplicate clusters are exactly the planted groups.
VOCAB = 5000
DOC_WORDS = (10, 100)
DUP_MIN_WORDS = 30
EMB_DIM = 64
N_BLOCKS = 10
DUP_SHARE = 0.2
MUTUAL_SHARE = 0.2


@dataclass
class Corpus:
    """Documents with planted near-duplicate groups."""

    doc_id: np.ndarray
    text: list[str]
    groups: list[frozenset[int]]
    canonical_ids: set[int]

    def payload_bytes(self, ids: set[int]) -> int:
        """Text bytes of ``ids``."""
        return sum(len(self.text[i].encode()) for i in ids)


def make_corpus(rng: np.random.Generator, n_docs: int) -> Corpus:
    """``n_docs`` documents of uniform random words.

    About ``DUP_SHARE`` of them sit in planted groups of 2-4 copies of
    one base text of at least ``DUP_MIN_WORDS`` words, each copy with its
    last word substituted (word-3-shingle Jaccard >= 27/29 to the base,
    so 8 LSH bands of 2 rows miss a pair with probability < 1e-7).
    Independent texts share almost no 3-shingle, so the duplicate
    clusters are exactly the planted groups."""
    words = np.array([f"w{i}" for i in range(VOCAB)])
    lo, hi = DOC_WORDS
    texts: list[str] = []
    groups: list[frozenset[int]] = []
    n_dup_target = int(n_docs * DUP_SHARE)
    n_dup = 0
    while len(texts) < n_docs:
        size = int(rng.integers(2, 5)) if n_dup < n_dup_target else 1
        size = min(size, n_docs - len(texts))
        n_words = int(rng.integers(DUP_MIN_WORDS if size > 1 else lo, hi + 1))
        base = rng.integers(VOCAB, size=n_words)
        members = []
        for c in range(size):
            toks = base.copy()
            if c:
                toks[-1] = (toks[-1] + c) % VOCAB
            members.append(len(texts))
            texts.append(" ".join(words[toks]))
        if size > 1:
            groups.append(frozenset(members))
            n_dup += size
    # shuffle positions so groups are not contiguous ids
    perm = rng.permutation(n_docs)
    texts = [texts[i] for i in np.argsort(perm)]
    groups = [frozenset(int(perm[m]) for m in g) for g in groups]
    canon = set(range(n_docs)) - {m for g in groups for m in g if m != min(g)}
    return Corpus(np.arange(n_docs, dtype=np.int64), texts, groups, canon)


@dataclass
class Vectors:
    """Blocked embeddings with planted mutual-neighbour pairs."""

    vec_id: np.ndarray
    label: np.ndarray
    embedding: np.ndarray
    planted_mutual: set[tuple[int, int]]


def make_vectors(rng: np.random.Generator, n: int) -> Vectors:
    """``n`` Gaussian vectors in ``N_BLOCKS`` label blocks. About
    ``MUTUAL_SHARE`` of them form planted pairs: near copies (1% noise)
    inside one block."""
    label = rng.integers(N_BLOCKS, size=n).astype(np.int32)
    emb = rng.standard_normal((n, EMB_DIM))
    planted: set[tuple[int, int]] = set()
    free = rng.permutation(n)[: int(n * MUTUAL_SHARE) // 2 * 2]
    for a, b in zip(free[0::2], free[1::2]):
        label[b] = label[a]
        emb[b] = emb[a] + 0.01 * rng.standard_normal(EMB_DIM)
        planted.add((int(min(a, b)), int(max(a, b))))
    return Vectors(np.arange(n, dtype=np.int64), label, np.round(emb, 4), planted)


def mutual_knn_truth(v: Vectors, k: int) -> set[tuple[int, int]]:
    """Brute-force reciprocal top-k within blocks: cosine rounded to 6
    digits, ties broken by the smaller neighbour id."""
    top: dict[int, set[int]] = {}
    for blk in np.unique(v.label):
        idx = np.flatnonzero(v.label == blk)  # ascending ids
        x = v.embedding[idx]
        norms = np.sqrt((x * x).sum(axis=1))
        neg = -np.round((x @ x.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(neg, np.inf)
        # a stable sort keeps equal cosines in ascending id order
        order = np.argsort(neg, axis=1, kind="stable")[:, :k]
        for row, q in enumerate(idx):
            top[int(q)] = {int(n) for n in idx[order[row]]}
    return {
        (q, n) for q, ns in top.items() for n in ns if q < n and q in top[n]
    }


# ---------------------------------------------------------------- table

PAYLOAD_CHARS = 48
ZIPF_S = 1.1
NEW_KEY_SHARE = 0.1


def row_payload_bytes(payload: str) -> int:
    return 16 + len(payload)


@dataclass
class TableModel:
    """Pure-Python model of the Delta table: key -> (val, payload)."""

    rows: dict[int, tuple[int, str]] = field(default_factory=dict)
    next_key: int = 0
    low_key: int = 0
    versions: dict[int, tuple[int, int]] = field(default_factory=dict)

    def summary(self) -> tuple[int, int]:
        """(row count, value checksum)."""
        return len(self.rows), sum(
            (k * 31 + v) % 1_000_003 for k, (v, _) in self.rows.items()
        )

    def payload_bytes(self) -> int:
        return sum(row_payload_bytes(p) for _, p in self.rows.values())


def _payload(rng: np.random.Generator) -> str:
    return "".join(chr(97 + int(x)) for x in rng.integers(26, size=PAYLOAD_CHARS))


def new_rows(
    rng: np.random.Generator, model: TableModel, n: int
) -> list[tuple[int, int, str]]:
    """``n`` rows with fresh keys above every key seen so far."""
    out = []
    for _ in range(n):
        out.append((model.next_key, int(rng.integers(1_000_000)), _payload(rng)))
        model.next_key += 1
    return out


def upsert_rows(
    rng: np.random.Generator, model: TableModel, n: int
) -> list[tuple[int, int, str]]:
    """``n`` distinct-key update rows: Zipf(``ZIPF_S``) over live keys
    ranked newest first, plus ``NEW_KEY_SHARE`` fresh keys."""
    live = sorted(model.rows, reverse=True)
    n_new = int(n * NEW_KEY_SHARE)
    keys: set[int] = set()
    while len(keys) < n - n_new:
        rank = int(rng.zipf(ZIPF_S)) - 1
        if rank < len(live):
            keys.add(live[rank])
        else:
            keys.add(live[int(rng.integers(len(live)))])
    rows = [(k, int(rng.integers(1_000_000)), _payload(rng)) for k in sorted(keys)]
    return rows + new_rows(rng, model, n_new)
